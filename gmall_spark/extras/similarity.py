"""Similarity search over embedding columns (array<float>).

- brute_force_knn: exact cosine top-k, O(n²) — the correctness baseline
  (broadcast index + per-batch BLAS matmul, guarded to small corpora).
- lsh_ann: random-hyperplane LSH — a 100 TB path. Signatures are
  deterministic (hyperplane signs derived from md5 parity, no RNG state to
  ship); one shuffle groups rows into (table, sig) buckets and a per-bucket
  BLAS kernel verifies — never an n² pair space. Recall is tunable via
  n_bits/n_tables; validated against brute_force_knn in tests.
- ivf_ann: k-means cells + nprobe — the other classic ANN scale path. The
  centroid model trains in fsum-merged partial-sum passes, assignment and
  probing are one broadcast-argmin pass, verify is per-cell BLAS.

Both ANN paths take their density (LSH signature width / IVF cell count) as
"auto": sized from the corpus count so bucket/cell population — and hence
the O(b²) per-bucket verify cost — stays ~constant as the corpus grows.
That is the 100 TB default; the registry pins small ints only so the DuckDB
oracle replays bit-identically at sf0.01 (the sf10 probe in BASELINE.md
measured the difference: 13×/26× on the same 200k vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _empty(df: DataFrame, schema: str) -> DataFrame:
    """Typed empty result — the kernels collect the index side driver-side,
    and an empty index must yield an empty result, not an np.stack error."""
    return df.sparkSession.createDataFrame([], schema)


#: brute-force / pairwise kernels collect the index side to the driver and
#: broadcast it — correct ONLY for an explicitly small corpus. The guard
#: turns a would-be driver OOM at scale into an actionable error.
MAX_BROADCAST_INDEX_ROWS = 2_000_000

#: per-worker slab budget for the blocked BLAS kernels below. local[32]
#: runs 32 Python workers concurrently, so any worker-resident buffer
#: multiplies by the core count — 256 MB × 32 = 8 GB steady-state, leaving
#: the box to the JVM, Arrow batches, and page cache. Found the hard way:
#: the r6 full-registry sf10 audit host-OOM'd on text_embed_knn — a fixed
#: 512-row block × 500k index rows is a ~2 GB slab per worker, ~65 GB
#: across workers, and the OOM killer took the gateway JVM down mid-query.
#: Blocking only partitions the query rows, so the block size cannot change
#: any result — only the peak memory. The 1-row floor keeps the budget a
#: hard bound right up to MAX_BROADCAST_INDEX_ROWS (2M × 18 B/cell = 36 MB
#: per row of block height — a 16-row floor would quietly spend 576 MB per
#: worker at the cap); even a height-1 "block" is still one vectorized
#: matmul across the full index, so the matmul amortization survives.
_SLAB_BUDGET_BYTES = 256 << 20


def _block_rows(n_index: int, bytes_per_cell: int) -> int:
    """Query-block height that keeps a worker's slab set within budget:
    ``bytes_per_cell`` is the summed width of every per-cell buffer the
    kernel keeps live (e.g. one float64 slab = 8; two float64 + two bool
    masks = 18)."""
    return max(1, min(512, _SLAB_BUDGET_BYTES // max(1, n_index * bytes_per_cell)))


#: float32 error envelope for the prefilter below. For unit vectors the
#: float32 dot differs from the exact float64 value by at most ~d·u
#: (u = 2⁻²⁴, d = 64 dims ⇒ ~4e-6, cast rounding included); the candidate
#: cut only needs eps ≥ 2·that, so 1e-4 is a ~12× margin. eps only WIDENS
#: the candidate set — the final ranking is always exact float64.
_F32_SIM_EPS = 1e-4

#: threshold estimate = the _F32_SAMPLE_TOPJ-th largest of a ~1/64 strided
#: column sample. topj=4 measured zero argpartition fallbacks at 200k index
#: rows with median candidate width ~230 (topj=1 left 17% of rows falling
#: back); the count check below keeps ANY estimate exact.
_F32_SAMPLE_TOPJ = 4


def _block_topm_candidates(S32, m: int, n_index: int):
    """Per-row candidate columns from a float32 similarity slab, guaranteed
    to contain every EXACT (float64) top-m column including ties — the
    selection hotspot of the blocked-BLAS kNN kernels, restructured.

    Why: at 200k index rows the float64 matmul costs ~480 ms/block and the
    per-row argpartition over the full row another ~520 ms — together ~90%
    of kernel wall. This helper lets callers run the matmul in float32
    (2.5× on this box's OpenBLAS) and replaces full-row argpartition with a
    sampled threshold: t = (topj-th largest of a strided 1/64 column
    sample) − eps, then ONE vectorized count pass checks #{col: row ≥
    t+eps} ≥ m — when it holds, every exact top-m member (and anything
    tied with the m-th) provably sits in {col: row ≥ t}:

        the m-th largest float32 value t32m ≤ q + e (at most m−1 exact
        sims exceed q, the exact m-th largest, so at most m−1 float32
        values exceed q+e); any exact-top-m column x has f32(x) ≥ q − e ≥
        t32m − 2e ≥ (t + eps) − 2e ≥ t   for eps ≥ 2e.

    Rows where the sample undershoots (count < m) fall back to exact
    argpartition top-m widened by the same eps — identical guarantee.
    Callers MUST rerank candidates with exact float64 sims; yields
    (row_idx, cand_cols)."""
    import numpy as np

    eps = np.float32(_F32_SIM_EPS)
    if n_index <= m:
        full = np.arange(n_index)
        for r in range(S32.shape[0]):
            yield r, full
        return
    sub = S32[:, :: max(1, n_index // 4096)]
    j = min(_F32_SAMPLE_TOPJ, sub.shape[1])
    t = np.partition(sub, sub.shape[1] - j, axis=1)[:, sub.shape[1] - j] - eps
    cnt = (S32 >= (t[:, None] + eps)).sum(axis=1)
    for r in range(S32.shape[0]):
        row32 = S32[r]
        if cnt[r] >= m:
            cand = np.nonzero(row32 >= t[r])[0]
        else:
            cand = np.argpartition(row32, n_index - m)[n_index - m :]
            worst = row32[cand].min() - eps
            widened = row32 >= worst
            if int(widened.sum()) > m:
                cand = np.nonzero(widened)[0]
        yield r, cand


def _guarded_index(df: DataFrame, cols: list[str], caller: str, scale_path: str):
    index = df.select(*cols).limit(MAX_BROADCAST_INDEX_ROWS + 1).toPandas()
    if len(index) > MAX_BROADCAST_INDEX_ROWS:
        raise ValueError(
            f"{caller}: index side exceeds {MAX_BROADCAST_INDEX_ROWS} rows — "
            f"the broadcast baseline is for small corpora; use {scale_path} "
            "for the distributed path"
        )
    return index


def brute_force_knn(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5, query_filter=None
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector. Output: (vec_id,
    neighbor_id, rnk) — ids+rank only, so fp summation noise cannot flip the
    result hash (random-embedding sims are separated far beyond fp error).

    Design: broadcast the index side as a dense float64 matrix; each Arrow
    batch of query vectors computes one BLAS matmul against it and emits its
    top-k (block-nested-loop with a vectorized kernel). ~20× faster than a
    pairwise join with per-row fold — and the correct 100 TB shape: the
    broadcast replaces an n² shuffle, and when the index side outgrows
    executor memory you shard it and merge per-shard top-k (or switch to
    lsh_ann below). A pure-DataFrame variant would cross-join and window-rank:
    that plan moves |Q|·|I| rows through a shuffle just to discard all but k.

    ``query_filter`` (a Column predicate) restricts the QUERY side only —
    the index stays the full corpus, so each kept query's top-k is
    bit-identical to its row in the unfiltered result (per-query top-k is
    independent of other queries). This is the audit-sampling hook: score a
    deterministic slice of queries without paying the full |Q|·|I| pass.
    """
    import numpy as np
    import pandas as pd

    from gmall_spark.session import spread_to_parallelism

    # evaluated twice (index collect + distributed query pass) — persist so an
    # expensive upstream (e.g. an embedder chain) runs once. The query pass is
    # an Arrow matmul kernel: rebalance it to session width so it never
    # inherits an under-split scan (a single-row-group file would run the
    # whole O(|Q|·|I|) kernel on one task).
    df = spread_to_parallelism(df.select(id_col, vec_col)).persist()
    index = _guarded_index(df, [id_col, vec_col], "brute_force_knn", "lsh_ann/ivf_ann")
    if not len(index):
        return _empty(df, "vec_id long, neighbor_id long, rnk long")
    ids = index[id_col].to_numpy()
    M = np.stack(index[vec_col].to_numpy()).astype("float64")
    # pre-normalize the index once: cosine becomes a bare matmul, saving a
    # full |block|×|index| elementwise divide (and its temporary) per block
    M /= np.sqrt((M * M).sum(axis=1))[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, M))

    def op(batches):
        ids_b, M_b = bc.value
        n_index = len(ids_b)
        # float32 twin of the index for the prefilter matmul (sgemm is 2.5×
        # dgemm here); the FINAL sims are always exact float64 over the
        # provably-complete candidate set (_block_topm_candidates)
        M32 = M_b.astype(np.float32)
        # m > k absorbs the self-match and boundary ties (exact-duplicate
        # texts ⇒ exactly-equal sims, so ties are real); candidate sets from
        # the helper always contain every tie of the m-th value
        m = min(n_index, k + 8)
        for pdf in batches:
            if not len(pdf):
                continue
            Qa = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            Qa /= np.sqrt((Qa * Qa).sum(axis=1))[:, None]  # index side pre-normalized
            Qa32 = Qa.astype(np.float32)
            qidsa = pdf[id_col].to_numpy()
            out_q, out_n, out_r = [], [], []
            # block the query side so the sims slab stays within the
            # per-worker budget (block height shrinks as the index grows —
            # see _block_rows; the slab is float32 now, hence 4 B/cell);
            # ONE slab reused across blocks — a fresh per-block allocation
            # is a large mmap the kernel must page-zero, measurable
            # system-time under concurrent tasks
            blk = _block_rows(n_index, 4)
            Sbuf = np.empty((min(blk, len(Qa)), n_index), dtype=np.float32)
            for s in range(0, len(Qa), blk):
                Q, qids = Qa[s : s + blk], qidsa[s : s + blk]
                S32 = Sbuf[: len(Q)]
                np.matmul(Qa32[s : s + blk], M32.T, out=S32)
                for r, cand in _block_topm_candidates(S32, m, n_index):
                    # exact float64 rerank over the candidates only
                    sims = M_b[cand] @ Q[r]
                    cids = ids_b[cand]
                    order = np.lexsort((cids, -sims))
                    keep = cids[order][cids[order] != qids[r]][:k]
                    out_q.extend([qids[r]] * len(keep))
                    out_n.extend(keep.tolist())
                    out_r.extend(range(1, len(keep) + 1))
            yield pd.DataFrame({"vec_id": out_q, "neighbor_id": out_n, "rnk": out_r})

    from gmall_spark.session import unpersist_with

    queries_df = df if query_filter is None else df.filter(query_filter)
    return unpersist_with(
        queries_df.select(id_col, vec_col).mapInPandas(
            op, "vec_id long, neighbor_id long, rnk long"
        ),
        df,
    )


def cosine_near_dup(
    df: DataFrame, id_col: str, vec_col: str, label_col: str, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim > threshold, a < b).

    Same broadcast+BLAS kernel as brute_force_knn; at 100 TB the candidate
    stage switches to LSH buckets (signatures below) and this becomes the
    verify step within buckets. Output: (vec_a, vec_b, same_label) — sims
    themselves stay out of the output so fp summation order can't flip the
    hash; membership at the threshold is fp-robust for real embeddings.
    """
    import numpy as np
    import pandas as pd

    from gmall_spark.session import spread_to_parallelism

    df = spread_to_parallelism(df.select(id_col, vec_col, label_col)).persist()
    index = _guarded_index(
        df, [id_col, vec_col, label_col], "cosine_near_dup", "lsh_ann buckets + per-bucket verify"
    )
    if not len(index):
        return _empty(df, "vec_a long, vec_b long, same_label long")
    ids = index[id_col].to_numpy()
    labels = index[label_col].to_numpy()
    M = np.stack(index[vec_col].to_numpy()).astype("float64")
    nrm = np.sqrt((M * M).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids, labels, M, nrm))

    def op(batches):
        ids_b, labels_b, M_b, nrm_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Qa = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            qna = np.sqrt((Qa * Qa).sum(axis=1))
            qidsa = pdf[id_col].to_numpy()
            qlabelsa = pdf[label_col].to_numpy()
            frames = []
            # block the query side (a full |batch|×|index| float64 slab is
            # GBs of temporaries); pair extraction is one 2-D nonzero per
            # block — no per-row Python loop. Slabs (sims, denominator,
            # masks) are preallocated once and reused in place: fresh
            # hundreds-of-MB allocations per block cost kernel page-zeroing
            # under concurrent tasks. The divide stays elementwise-by-
            # product (a/(b·c)) — same rounding as the oracle.
            blk = _block_rows(len(ids_b), 18)  # 2 float64 slabs + 2 bool masks
            rows = min(blk, len(Qa))
            Sbuf = np.empty((rows, len(ids_b)))
            Dbuf = np.empty_like(Sbuf)
            m1 = np.empty(Sbuf.shape, dtype=bool)
            m2 = np.empty(Sbuf.shape, dtype=bool)
            for s in range(0, len(Qa), blk):
                Q, qn = Qa[s : s + blk], qna[s : s + blk]
                qids, qlabels = qidsa[s : s + blk], qlabelsa[s : s + blk]
                n_q = len(Q)
                S = Sbuf[:n_q]
                np.matmul(Q, M_b.T, out=S)
                np.multiply(qn[:, None], nrm_b[None, :], out=Dbuf[:n_q])
                S /= Dbuf[:n_q]
                np.greater(S, threshold, out=m1[:n_q])
                np.greater(ids_b[None, :], qids[:, None], out=m2[:n_q])  # a < b, no self
                m1[:n_q] &= m2[:n_q]
                ra, rb = np.nonzero(m1[:n_q])
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_a": qids[ra],
                            "vec_b": ids_b[rb],
                            "same_label": (qlabels[ra] == labels_b[rb]).astype("int64"),
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {
                    "vec_a": np.array([], dtype="int64"),
                    "vec_b": np.array([], dtype="int64"),
                    "same_label": np.array([], dtype="int64"),
                }
            )

    from gmall_spark.session import unpersist_with

    return unpersist_with(
        df.mapInPandas(op, "vec_a long, vec_b long, same_label long"), df
    )


def auto_lsh_bits(n_rows: int, target_bucket: int = 256) -> int:
    """Signature width that keeps the EXPECTED bucket population near
    target_bucket: n/2^bits ≈ target ⇒ bits = ceil(log2(n/target)), floored
    at 4 (below that buckets stop discriminating) and capped at 24 (beyond
    ~16M buckets the shuffle keys outnumber any real corpus's value).

    This is the density knob the sf10 probe measured: the same 200k-vector
    corpus runs 13× faster at the auto width than at a width tuned for 2k
    vectors — bucket kernels are O(b²), so holding b constant as n grows is
    what keeps the path linear."""
    import math

    if n_rows <= target_bucket:
        return 4
    return max(4, min(24, math.ceil(math.log2(n_rows / target_bucket))))


def auto_ivf_cells(n_rows: int, target_cell: int = 1024) -> int:
    """Cell count that keeps the EXPECTED cell population near target_cell.
    Floor 16 (the oracle-pinned small-corpus density), cap 65536 — the
    centroid model is broadcast to every executor and the driver merges
    cells×dims partial sums per iteration, so the cap bounds both at a few
    tens of MB. Past ~65M vectors per index, shard the corpus and run one
    IVF per shard (the standard composite-index move)."""
    import math

    return max(16, min(65536, math.ceil(n_rows / target_cell)))


def _resolve_density(df: DataFrame, value, resolver):
    """Turn the literal "auto" into a concrete density via ONE count job on
    the id projection (metadata-fast on parquet sources). Pinned ints pass
    through untouched so oracle-replayable callers stay bit-identical."""
    if value == "auto":
        return resolver(df.count())
    return value


#: largest expected bucket/cell population a PINNED density may imply.
#: Bucket kernels are O(pop²·d); past this the pinned density measurably
#: degenerates (16 IVF cells over a 200k-vector sf10 corpus = 12.5k/cell
#: ran >580 s where auto's ~1953 cells ran 27 s). Same contract as
#: MAX_BROADCAST_INDEX_ROWS: turn a silent scale blow-up into an
#: actionable error naming the scale path.
MAX_PINNED_BUCKET_POP = 8192


def _pinned_pop_cap(density, caller: str, scale_arg: str):
    """Bucket-population cap for PINNED densities, enforced INSIDE the
    bucket kernel on the ACTUAL population (no driver-side count job — the
    builders must stay lazy, asserted by tests/test_plans.py). Returns
    (cap, message) for pinned ints, (None, None) for "auto" — auto holds
    population ~constant by construction, and a rare hot bucket there is
    skew, not a density mistake."""
    if density == "auto":
        return None, None
    return MAX_PINNED_BUCKET_POP, (
        f"{caller}: a bucket holds more than {MAX_PINNED_BUCKET_POP} rows "
        f"under the pinned density — the O(pop²) per-bucket verify "
        f"degenerates at this corpus size; pass {scale_arg} to size the "
        "density from the corpus (pinned densities exist only for oracle "
        "replay)"
    )


def _hyperplanes(n_tables: int, n_bits: int, dims: int):
    """The deterministic ±1 hyperplane tensor, generated from md5 parity —
    md5(f"h{table}:{bit},{dim}") first hex digit >= 8 → +1 — so an
    SQL-side oracle could reproduce it with the same md5 expression."""
    import hashlib

    import numpy as np

    W = np.empty((n_tables, n_bits, dims))
    for t in range(n_tables):
        for b in range(n_bits):
            for d in range(dims):
                h = hashlib.md5(f"h{t}:{b},{d}".encode()).hexdigest()[0]
                W[t, b, d] = 1.0 if h in "89abcdef" else -1.0
    return W


def signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int = 6,
    n_tables: int = 12,
    with_vec: bool = False,
) -> DataFrame:
    """(id, table, sig): per-table random-hyperplane signatures. Multi-table
    is what makes hyperplane LSH usable on near-isotropic embeddings: a
    single b-bit table recovers only p_agree^b of true neighbors, while L
    tables recover 1-(1-p^b)^L — recall is tuned by (n_bits, n_tables)
    without touching the verify stage.

    Computed as one BLAS matmul per Arrow batch against the broadcast
    hyperplane tensor (n_tables·n_bits projections at once) — the exploded
    DataFrame formulation pushes rows·dims·tables·bits rows through a shuffle
    for the same arithmetic.
    """
    import numpy as np
    import pandas as pd

    first = df.select(vec_col).first()
    if first is None:
        return _empty(df, f"{id_col} long, table int, sig long")
    dims = len(first[0])
    bc = df.sparkSession.sparkContext.broadcast(
        _hyperplanes(n_tables, n_bits, dims).reshape(n_tables * n_bits, dims)
    )
    weights = (2 ** np.arange(n_bits - 1, -1, -1)).astype("int64")

    def op(batches):
        W = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            bits = (X @ W.T > 0).reshape(len(X), n_tables, n_bits)
            codes = bits @ weights  # (rows, tables) integer bucket codes
            ids = pdf[id_col].to_numpy()
            out = {
                id_col: np.repeat(ids, n_tables),
                "table": np.tile(np.arange(n_tables), len(X)),
                "sig": codes.reshape(-1).astype("int64"),
            }
            if with_vec:
                out["_v"] = [row.tolist() for row in np.repeat(X, n_tables, axis=0)]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, table int, sig long"
    if with_vec:
        schema += ", _v array<double>"
    from gmall_spark.session import spread_to_parallelism

    # the matmul kernel must not inherit an under-split scan (see session.py)
    return spread_to_parallelism(df.select(id_col, vec_col)).mapInPandas(op, schema)


def _bucket_topk_kernel(
    id_col: str, k: int, pair_space: bool, max_pop: int | None = None,
    cap_msg: str | None = None, query_flag: str | None = None,
):
    """applyInPandas kernel: exact cosine within one bucket, per-query local
    top-k under the global comparator (sim desc, id asc). The union of
    per-bucket top-ks provably contains the global top-k (a total order's
    top-k over a union is a subset of the per-part top-ks), so the final
    global rank only sees ≤ buckets_probed·k tiny rows per query instead of
    the full candidate set. Sims come from one BLAS matmul per bucket —
    vectorized verify instead of a per-candidate interpreted fold.

    pair_space=True: every bucket row is both query and member (LSH
    self-join semantics). False: rows are tagged by _is_q (IVF probe rows vs
    member rows).

    query_flag (pair_space only): name of a boolean column restricting which
    bucket members EMIT a local top-k — all rows remain candidates, so each
    flagged query's result is bit-identical to the unfiltered run's row
    (the audit-sampling hook; the bucket matmul shrinks to
    |flagged|×|bucket|)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "sim": []})

    def kernel(pdf):
        if max_pop is not None and len(pdf) > max_pop:
            raise ValueError(cap_msg)
        if pair_space:
            mem, qry = pdf, pdf
            if query_flag is not None:
                qry = pdf[pdf[query_flag]]
        else:
            mem, qry = pdf[~pdf["_is_q"]], pdf[pdf["_is_q"]]
        if len(mem) < 1 or len(qry) < 1:
            return empty
        M = np.stack(mem["_v"].to_numpy()).astype("float64")
        mids = mem[id_col].to_numpy()
        mn = np.sqrt((M * M).sum(axis=1))
        Q = np.stack(qry["_v"].to_numpy()).astype("float64")
        qids = qry[id_col].to_numpy()
        qn = np.sqrt((Q * Q).sum(axis=1))
        S = (Q @ M.T) / (qn[:, None] * mn[None, :])
        out_q, out_n, out_s = [], [], []
        for r in range(len(Q)):
            order = np.lexsort((mids, -S[r]))
            sel = order[mids[order] != qids[r]][:k]
            out_q.extend([qids[r]] * len(sel))
            out_n.extend(mids[sel].tolist())
            out_s.extend(S[r, sel].tolist())
        return pd.DataFrame({"vec_id": out_q, "neighbor_id": out_n, "sim": out_s})

    return kernel


def _global_rank(local_topk: DataFrame, k: int, dedup_pairs: bool) -> DataFrame:
    """Merge per-bucket local top-ks into the global per-query top-k. With
    dedup_pairs (LSH: a pair collides in several tables) the per-pair sim is
    collapsed with max() first — deterministic even if BLAS blocking yields
    ±1ulp between buckets."""
    if dedup_pairs:
        local_topk = local_topk.groupBy("vec_id", "neighbor_id").agg(
            F.max("sim").alias("sim")
        )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        local_topk.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "neighbor_id", "rnk")
    )


def lsh_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int | str = 6,
    n_tables: int = 12,
    k: int = 5,
    query_filter=None,
) -> DataFrame:
    """Approximate top-k cosine: candidates share a bucket in ANY of the L
    signature tables; exact cosine + rank within the candidate set.
    Output: vec_id, neighbor_id, rnk.

    Fully distributed — no driver-side index: one shuffle groups signature
    rows into their (table, sig) buckets, a per-bucket BLAS kernel emits each
    member's local top-k (the candidate set LSH defines, verified vectorized
    instead of through an n²-ish candidate join + per-pair interpreted fold),
    and a tiny window merges local top-ks into the global rank. At 100 TB the
    bucket shuffle partitions on (table, sig); a hot bucket's O(b²) kernel
    cost is LSH's inherent candidate blowup — widen n_bits to split buckets
    rather than fight the kernel. n_bits="auto" does exactly that: it sizes
    the signature from the corpus count (auto_lsh_bits) so bucket population
    stays ~constant as the corpus grows — the scale default; registry
    entries pin an int only so the DuckDB oracle replays bit-identically."""
    cap, cap_msg = _pinned_pop_cap(n_bits, "lsh_ann", 'n_bits="auto"')
    n_bits = _resolve_density(df, n_bits, auto_lsh_bits)
    sigs = signatures(df, id_col, vec_col, n_bits, n_tables, with_vec=True)
    # query_filter restricts which members EMIT, not which enter the bucket
    # (candidate sets are unchanged, so kept queries match the unfiltered
    # run bit-for-bit) — see _bucket_topk_kernel's query_flag
    query_flag = None
    if query_filter is not None:
        sigs = sigs.withColumn("_q", query_filter)
        query_flag = "_q"
    local = sigs.groupBy("table", "sig").applyInPandas(
        _bucket_topk_kernel(
            id_col, k, pair_space=True, max_pop=cap, cap_msg=cap_msg,
            query_flag=query_flag,
        ),
        "vec_id long, neighbor_id long, sim double",
    )
    return _global_rank(local, k, dedup_pairs=True)


def _cell_dists(X, C, block: int = 1024):
    """Blocked squared-L2 distances (rows × cells).

    ≤64 cells: direct (x−c)² broadcasting, temporary bounded at block×k×D.
    This is the branch every oracle-pinned density uses — its float behavior
    is frozen (the DuckDB oracles replay it term-by-term).
    >64 cells (the auto-density regime): the ‖x‖²−2x·C+‖C‖² expansion — the
    direct temporary would be block×k×D floats (≈1 GB at 2k cells) while the
    expansion is one BLAS matmul. Last-ulp differences vs the direct form
    only ever land in auto paths, which carry no bit-exact oracle."""
    import numpy as np

    if len(C) > 64:
        d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        return np.maximum(d, 0.0, out=d)
    out = np.empty((len(X), len(C)))
    for s in range(0, len(X), block):
        out[s : s + block] = ((X[s : s + block, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return out


def kmeans_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_clusters: int | str = 16, iters: int = 2
):
    """Deterministic Lloyd training: seeds = vectors of the n_clusters lowest
    ids, fixed iteration count, argmin ties to the lower cell, empty cells
    keep their stale centroid. Returns the float64 centroid matrix (or None
    on an empty corpus).

    Scale shape: each iteration is ONE narrow pass — a mapInPandas kernel
    emits per-(partition, cell) partial sums (≤ partitions·n_clusters tiny
    rows), the driver merges them with math.fsum. fsum is exactly rounded,
    so the merged centroids are independent of partition order/count — no
    shuffle, no per-row assignment materialization, deterministic across
    cluster layouts. The classic groupBy-mean formulation shuffles n·d rows
    per iteration to compute the same k·d numbers.
    """
    import math

    import numpy as np
    import pandas as pd

    n_clusters = _resolve_density(df, n_clusters, auto_ivf_cells)
    base = df.select(id_col, vec_col)
    seed_pdf = base.orderBy(id_col).limit(n_clusters).toPandas()
    if not len(seed_pdf):
        return None
    centroids = np.stack(seed_pdf[vec_col].to_numpy()).astype("float64")
    dims = centroids.shape[1]
    sc = df.sparkSession.sparkContext
    for _ in range(iters):
        bc = sc.broadcast(centroids)

        def partials(batches):
            C = bc.value
            acc_n = np.zeros(len(C), dtype="int64")
            acc_s = np.zeros((len(C), C.shape[1]))
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                cell = _cell_dists(X, C).argmin(axis=1)
                np.add.at(acc_n, cell, 1)
                np.add.at(acc_s, cell, X)
            if seen:
                nz = np.nonzero(acc_n)[0]
                yield pd.DataFrame(
                    {"cell": nz, "n": acc_n[nz], "s": [acc_s[i].tolist() for i in nz]}
                )

        rows = base.mapInPandas(partials, "cell int, n long, s array<double>").collect()
        groups: dict[int, list] = {}
        for r in rows:
            groups.setdefault(r["cell"], []).append((r["n"], r["s"]))
        new_c = centroids.copy()
        for cell, parts in groups.items():
            n = sum(p[0] for p in parts)
            new_c[cell] = [
                math.fsum(p[1][d] for p in parts) / n for d in range(dims)
            ]
        centroids = new_c
    return centroids


def ivf_index(
    df: DataFrame, id_col: str, vec_col: str, n_clusters: int | str = 16, iters: int = 2
) -> DataFrame:
    """IVF (inverted-file) index: k-means-quantize vectors into n_clusters
    cells; ANN then probes only a few cells. Returns (id, cell) — one
    broadcast-argmin pass over the trained centroids."""
    import numpy as np
    import pandas as pd

    centroids = kmeans_centroids(df, id_col, vec_col, n_clusters, iters)
    if centroids is None:
        return _empty(df, f"{id_col} long, cell int")
    bc = df.sparkSession.sparkContext.broadcast(centroids)

    def final_assign(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": _cell_dists(X, C).argmin(axis=1)}
            )

    return df.select(id_col, vec_col).mapInPandas(final_assign, f"{id_col} long, cell int")


def ivf_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_clusters: int | str = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k cosine via IVF: candidates come from the query's
    nprobe nearest (non-empty) cells — an equi-join on cell instead of the
    full corpus. Recall is tunable by nprobe (validated vs brute force in
    tests). Output: vec_id, neighbor_id, rnk.

    Fully distributed — the corpus never leaves the executors (only the
    k·d-float centroid model does): ONE broadcast-argmin pass emits each
    vector's cell AND its nprobe nearest cells, one shuffle groups member
    rows + probe rows by cell, and a per-cell BLAS kernel verifies and emits
    local top-ks that a tiny window merges into the global rank. Cells
    partition the corpus, so no pair dedup is needed. n_clusters="auto"
    sizes the cell grid from the corpus count (auto_ivf_cells) so per-cell
    verify cost stays ~constant as the corpus grows — the scale default;
    registry entries pin an int only for oracle determinism."""
    import numpy as np
    import pandas as pd

    cap, cap_msg = _pinned_pop_cap(n_clusters, "ivf_ann", 'n_clusters="auto"')
    centroids = kmeans_centroids(df, id_col, vec_col, n_clusters)
    if centroids is None:
        return _empty(df, "vec_id long, neighbor_id long, rnk long")
    bc = df.sparkSession.sparkContext.broadcast(centroids)

    def assign_probes(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            d = _cell_dists(X, C)
            # stable argsort ⇒ distance ties go to the lower cell, matching
            # the oracle's ORDER BY dist ASC, cell ASC
            pro = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": d.argmin(axis=1),
                    "probes": [p.tolist() for p in pro],
                    "_v": [row.tolist() for row in X],
                }
            )

    # persisted: the assignment feeds both the member side and the probe side
    assign = (
        df.select(id_col, vec_col)
        .mapInPandas(
            assign_probes,
            f"{id_col} long, cell int, probes array<int>, _v array<double>",
        )
        .persist()
    )
    member = assign.select(id_col, "cell", "_v", F.lit(False).alias("_is_q"))
    probes = assign.select(
        id_col, F.explode("probes").alias("cell"), "_v", F.lit(True).alias("_is_q")
    )
    local = member.unionByName(probes).groupBy("cell").applyInPandas(
        _bucket_topk_kernel(id_col, k, pair_space=False, max_pop=cap, cap_msg=cap_msg),
        "vec_id long, neighbor_id long, sim double",
    )
    return _global_rank(local, k, dedup_pairs=False)


def cosine_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float = 0.4,
    n_bits: int | str = 6,
    n_tables: int = 12,
) -> DataFrame:
    """The 100 TB path for embedding near-dup pairs: candidates from shared
    LSH buckets (never n²), cosine verified per bucket with one BLAS matmul,
    pair-deduped across tables. APPROXIMATE by construction — a qualifying
    pair is missed only if it collides in none of the L tables (recall is
    tuned by n_bits/n_tables and asserted vs the exact kernel in tests).
    Output: (vec_a, vec_b, same_label), a < b — the same contract as
    cosine_near_dup, which stays the guarded small-corpus baseline.
    n_bits="auto" sizes buckets from the corpus count (auto_lsh_bits)."""
    import numpy as np
    import pandas as pd

    cap, cap_msg = _pinned_pop_cap(n_bits, "cosine_near_dup_lsh", 'n_bits="auto"')
    n_bits = _resolve_density(df, n_bits, auto_lsh_bits)
    sigs = signatures(df, id_col, vec_col, n_bits, n_tables, with_vec=True)
    empty = pd.DataFrame({"vec_a": [], "vec_b": []})

    def kernel(pdf):
        if cap is not None and len(pdf) > cap:
            raise ValueError(cap_msg)
        if len(pdf) < 2:
            return empty
        X = np.stack(pdf["_v"].to_numpy()).astype("float64")
        ids = pdf[id_col].to_numpy()
        nrm = np.sqrt((X * X).sum(axis=1))
        S = (X @ X.T) / (nrm[:, None] * nrm[None, :])
        ia, ib = np.nonzero(np.triu(S > threshold, k=1))
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    pairs = (
        sigs.groupBy("table", "sig")
        .applyInPandas(kernel, "vec_a long, vec_b long")
        .distinct()
    )
    labels = df.select(F.col(id_col), F.col(label_col))
    la = labels.select(F.col(id_col).alias("vec_a"), F.col(label_col).alias("_la"))
    lb = labels.select(F.col(id_col).alias("vec_b"), F.col(label_col).alias("_lb"))
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (F.col("_la") == F.col("_lb")).cast("long").alias("same_label"),
        )
    )


def hard_negative_knn(
    df: DataFrame, id_col: str, vec_col: str, label_col: str, k: int = 3
) -> DataFrame:
    """Hard-negative mining: for every vector, the top-k nearest neighbors
    whose label DIFFERS — the contrastive-training data op (each anchor's
    hardest negatives are the highest-cosine other-class points). Output:
    (vec_id, neighbor_id, rnk), ids+ranks only.

    Same broadcast+BLAS shape as brute_force_knn (and the same guarded-index
    contract — shard the index or move candidates to LSH buckets beyond it);
    the label constraint is a per-row mask to -inf before selection, so the
    kernel still never materializes the pair space."""
    import numpy as np
    import pandas as pd

    from gmall_spark.session import spread_to_parallelism, unpersist_with

    df = spread_to_parallelism(df.select(id_col, vec_col, label_col)).persist()
    index = _guarded_index(
        df, [id_col, vec_col, label_col], "hard_negative_knn", "lsh_ann buckets"
    )
    if not len(index):
        return _empty(df, "vec_id long, neighbor_id long, rnk long")
    ids = index[id_col].to_numpy()
    labels = index[label_col].to_numpy()
    M = np.stack(index[vec_col].to_numpy()).astype("float64")
    M /= np.sqrt((M * M).sum(axis=1))[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, labels, M))

    def op(batches):
        ids_b, labels_b, M_b = bc.value
        n_index = len(ids_b)
        M32 = M_b.astype(np.float32)
        m = min(n_index, k + 8)
        # label -> index-column positions, built once per task: the mask
        # step below then touches only each label's OWN columns. The naive
        # per-row `labels_b == qlabels[r]` compare is O(n_index) per query
        # row — an n² boolean pass (40e9 compares at sf10) that profiled as
        # a material slice of the kernel wall next to the O(n²/|labels|)
        # assignment this replaces it with.
        label_cols = {
            lab: np.nonzero(labels_b == lab)[0] for lab in np.unique(labels_b)
        }
        for pdf in batches:
            if not len(pdf):
                continue
            Qa = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            Qa /= np.sqrt((Qa * Qa).sum(axis=1))[:, None]
            Qa32 = Qa.astype(np.float32)
            qidsa = pdf[id_col].to_numpy()
            qlabelsa = pdf[label_col].to_numpy()
            out_q, out_n, out_r = [], [], []
            blk = _block_rows(n_index, 4)
            Sbuf = np.empty((min(blk, len(Qa)), n_index), dtype=np.float32)
            for s in range(0, len(Qa), blk):
                Q = Qa[s : s + blk]
                qids, qlabels = qidsa[s : s + blk], qlabelsa[s : s + blk]
                S32 = Sbuf[: len(Q)]
                np.matmul(Qa32[s : s + blk], M32.T, out=S32)
                # same-label cells (incl. self) leave the race BLOCK-wise:
                # one fancy-indexed -inf assignment per label present in the
                # block, touching only that label's rows x columns; the slab
                # is overwritten by the next block's matmul. The mask lives
                # in the float32 slab, so candidate selection sees it; the
                # exact rerank below re-filters by it before recomputing
                # sims (the float64 gemv would otherwise resurrect masked
                # columns).
                for lab in np.unique(qlabels):
                    rows = np.nonzero(qlabels == lab)[0]
                    cols = label_cols.get(lab)
                    if cols is not None and len(cols):
                        S32[np.ix_(rows, cols)] = -np.inf
                for r, cand in _block_topm_candidates(S32, m, n_index):
                    cand = cand[S32[r, cand] > -np.inf]  # drop masked cols
                    sims = M_b[cand] @ Q[r]
                    cids = ids_b[cand]
                    order = np.lexsort((cids, -sims))
                    keep = cids[order][:k]
                    out_q.extend([qids[r]] * len(keep))
                    out_n.extend(keep.tolist())
                    out_r.extend(range(1, len(keep) + 1))
            yield pd.DataFrame({"vec_id": out_q, "neighbor_id": out_n, "rnk": out_r})

    return unpersist_with(
        df.select(id_col, vec_col, label_col).mapInPandas(
            op, "vec_id long, neighbor_id long, rnk long"
        ),
        df,
    )


def pq_train_books(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    sub_dim: int = 16,
) -> list | None:
    """Train all ``m`` per-subspace PQ codebooks in ONE driver loop.

    Bit-identical to ``m`` independent ``kmeans_centroids`` runs over the
    SQL-sliced subvectors, at 1/m the full-data passes (guide §1.2 step 1 —
    don't recompute what one pass can produce):

    - seeds: the m seed sets are subspace slices of the SAME lowest-id rows,
      so one ``orderBy(id).limit(k)`` pass yields all of them (numpy slicing
      of the float64-cast vector equals float64-casting the SQL slice);
    - each Lloyd round is ONE mapInPandas pass over the full vectors that
      accumulates per-(task, subspace, cell) partial sums. Within a task the
      accumulation order over rows is identical to the per-subspace kernel's
      (same frame, same partitioning, same batch boundaries), and the driver
      merge uses math.fsum, which is exactly rounded and therefore
      independent of partial order — so the merged centroids match the
      independent runs to the last ulp (pinned by
      tests/test_round8_ops.py::test_pq_combined_trainer_bitexact).

    Returns a list of m float64 centroid matrices, or None on empty input.
    """
    import math

    import numpy as np
    import pandas as pd

    base = df.select(id_col, vec_col)
    # Seed selection in two narrow steps instead of one full-width pass: the
    # old ``orderBy(id).limit(k)`` take scanned id+vec — the WHOLE corpus
    # width — to keep k rows. Step 1 runs the same top-k over the id column
    # alone (parquet reads one narrow column, ~1/65th of the bytes at
    # dim=64); step 2 fetches exactly those rows with a pushed-down IN
    # filter, which row-group min/max skipping turns into a pinpoint read
    # (guide §6: make pruning and pushdown do the work). Seeds are
    # bit-identical for unique ids (the table contract; with duplicate ids
    # the old take was already tie-ambiguous). Null ids are skipped: orderBy
    # sorts them first, and isin() never matches a null.
    seed_ids = [
        r[0]
        for r in base.select(id_col).where(F.col(id_col).isNotNull())
        .orderBy(id_col).limit(k).collect()
    ]
    if not seed_ids:
        return None
    seed_pdf = (
        base.where(F.col(id_col).isin(seed_ids)).orderBy(id_col).limit(k).toPandas()
    )
    assert len(seed_pdf) == len(seed_ids), (
        f"PQ seed fetch returned {len(seed_pdf)} rows for {len(seed_ids)} ids"
    )
    seed_full = np.stack(seed_pdf[vec_col].to_numpy()).astype("float64")
    books = [
        seed_full[:, s * sub_dim : (s + 1) * sub_dim].copy() for s in range(m)
    ]
    sc = df.sparkSession.sparkContext
    for _ in range(iters):
        bc = sc.broadcast(books)

        def partials(batches):
            Cs = bc.value
            acc_n = [np.zeros(len(C), dtype="int64") for C in Cs]
            acc_s = [np.zeros((len(C), C.shape[1])) for C in Cs]
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                for s, C in enumerate(Cs):
                    Xs = X[:, s * sub_dim : (s + 1) * sub_dim]
                    cell = _cell_dists(Xs, C).argmin(axis=1)
                    np.add.at(acc_n[s], cell, 1)
                    np.add.at(acc_s[s], cell, Xs)
            if seen:
                out_sub, out_cell, out_n, out_s = [], [], [], []
                for s in range(len(Cs)):
                    nz = np.nonzero(acc_n[s])[0]
                    out_sub.extend([s] * len(nz))
                    out_cell.extend(nz.tolist())
                    out_n.extend(acc_n[s][nz].tolist())
                    out_s.extend(acc_s[s][i].tolist() for i in nz)
                yield pd.DataFrame(
                    {"sub": out_sub, "cell": out_cell, "n": out_n, "s": out_s}
                )

        rows = base.mapInPandas(
            partials, "sub int, cell int, n long, s array<double>"
        ).collect()
        groups: dict[tuple[int, int], list] = {}
        for r in rows:
            groups.setdefault((r["sub"], r["cell"]), []).append((r["n"], r["s"]))
        new_books = [C.copy() for C in books]
        for (s, cell), parts in groups.items():
            n = sum(p[0] for p in parts)
            new_books[s][cell] = [
                math.fsum(p[1][d] for p in parts) / n for d in range(sub_dim)
            ]
        books = new_books
    return books


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    sub_dim: int = 16,
    books: list | None = None,
) -> DataFrame:
    """Product quantization — the embedding-compression step ANN systems run
    before the index: split each D-dim vector into ``m`` contiguous
    ``sub_dim``-wide subvectors, train an independent ``k``-centroid
    codebook per subspace (the same deterministic Lloyd recipe as
    kmeans_centroids: lowest-id seeds, fixed rounds, argmin ties to the
    lower cell), and store each vector as m small codes — 64 float32 dims
    become m log2(k)-bit codes, a 64x shrink at (m=4, k=4).

    Scale shape: codebook training is m runs of the fsum-merged partial-sum
    k-means (k·partitions tiny rows to the driver per round, never data);
    encoding is ONE Arrow pass with all m codebooks broadcast — at 100 TB
    the corpus is touched iters+1 times for training sums (pq_train_books
    folds all m subspaces into each pass) and once for encoding, and nothing
    wider than (id, m codes) is ever shuffled.

    ``books`` (optional) supplies pre-trained codebooks — pq_ann trains them
    once for its ADC lookup tables and passes them here, instead of paying a
    second identical training."""
    import numpy as np
    import pandas as pd

    if books is None:
        books = pq_train_books(
            df, id_col, vec_col, m=m, k=k, iters=iters, sub_dim=sub_dim
        )
    if books is None:
        return _empty(
            df,
            f"{id_col} long, " + ", ".join(f"code_{s} int" for s in range(m)),
        )
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(books)

    out_schema = f"{id_col} long, " + ", ".join(f"code_{s} int" for s in range(m))

    def encode(batches):
        B = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cols = {id_col: pdf[id_col]}
            for s, C in enumerate(B):
                sub = X[:, s * sub_dim : (s + 1) * sub_dim]
                cols[f"code_{s}"] = _cell_dists(sub, C).argmin(axis=1).astype("int32")
            yield pd.DataFrame(cols)

    return df.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    m: int = 4,
    n_codes: int = 4,
    iters: int = 2,
    sub_dim: int = 16,
) -> DataFrame:
    """ADC (asymmetric distance) top-k over PQ codes — the compressed-domain
    scan a PQ index exists for: the index side is reduced to m small codes
    per vector (broadcast; the same _guarded_index contract and bound as the
    float baseline, but m bytes/vector instead of 4·D — 64x more rows fit
    under the same guard), each query builds its m×n_codes lookup table of
    exact subspace distances, and every candidate's approximate distance is
    m table gathers + adds, no float vector ever touched on the index side.

    Determinism: the ADC sum accumulates subspaces s = 0..m-1 in order
    (identical fp schedule to the oracle's s-ordered addition); rank ties
    break to the lower neighbor id. Self-matches are excluded."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from gmall_spark.session import spread_to_parallelism

    base = df.select(id_col, vec_col).persist()
    base.count()
    try:
        # One combined training pass feeds BOTH the ADC lookup tables and
        # the code assignment: pq_encode used to retrain the identical
        # deterministic codebooks from scratch (2x the training jobs for
        # bit-identical matrices) — guide §1.2 step 1, don't recompute.
        books = pq_train_books(
            base, id_col, vec_col, m=m, k=n_codes, iters=iters, sub_dim=sub_dim
        )
        if books is None:
            return _empty(df, f"{id_col} long, neighbor_id long, rnk long")
        codes_pdf = _guarded_index(
            pq_encode(base, id_col, vec_col, m=m, k=n_codes, iters=iters, books=books),
            [id_col] + [f"code_{s}" for s in range(m)],
            "pq_ann",
            "ivf_ann",
        ).sort_values(id_col)
        ids = codes_pdf[id_col].to_numpy()
        codes = codes_pdf[[f"code_{s}" for s in range(m)]].to_numpy().astype("int64")
        # Every index vector with the SAME code tuple has the SAME ADC
        # distance to every query, so ranking needs only the ≤ n_codes^m
        # distinct tuples (256 here), not the full index: the per-batch
        # distance matrix shrinks from |Q|×N to |Q|×G and the sort from
        # N·log N to G·log G per query. Equal-distance groups merge by id,
        # which reproduces the old full stable argsort (ids_ is sorted)
        # bit-for-bit — the group distance is accumulated over the identical
        # s-ascending fp schedule.
        gcodes, ginv = np.unique(codes, axis=0, return_inverse=True)
        group_ids = [ids[ginv == g] for g in range(len(gcodes))]  # each ascending
        sc = df.sparkSession.sparkContext
        bc = sc.broadcast((group_ids, gcodes, books))

        out_schema = f"{id_col} long, neighbor_id long, rnk long"

        def scan(batches):
            group_ids_, gcodes_, books_ = bc.value
            n_groups = len(gcodes_)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                qids = pdf[id_col].to_numpy()
                # per-GROUP approx dist, subspace-by-subspace (s ascending)
                gdist = np.zeros((len(X), n_groups))
                for s in range(m):
                    q = X[:, s * sub_dim : (s + 1) * sub_dim]
                    lut = _cell_dists(q, books_[s])  # |Q| × n_codes, exact
                    gdist += lut[:, gcodes_[:, s]]
                order = np.argsort(gdist, axis=1, kind="stable")
                rows = {id_col: [], "neighbor_id": [], "rnk": []}
                for qi in range(len(X)):
                    row, og = gdist[qi], order[qi]
                    rnk, gi = 0, 0
                    while gi < n_groups and rnk < k:
                        # run of groups tied on distance → merge their ids
                        j = gi + 1
                        while j < n_groups and row[og[j]] == row[og[gi]]:
                            j += 1
                        if j == gi + 1:
                            cand = group_ids_[og[gi]]
                        else:
                            cand = np.sort(
                                np.concatenate([group_ids_[g] for g in og[gi:j]])
                            )
                        for nid in cand:
                            if nid == qids[qi]:
                                continue
                            rnk += 1
                            rows[id_col].append(qids[qi])
                            rows["neighbor_id"].append(nid)
                            rows["rnk"].append(rnk)
                            if rnk == k:
                                break
                        gi = j
                yield pd.DataFrame(rows)

        return spread_to_parallelism(base).mapInPandas(scan, out_schema)
    finally:
        base.unpersist()
