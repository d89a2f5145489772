"""Round-8 unit tests: bench re-measure gate, scratch auto-root, the
float32-prefilter candidate helper, and LPA vote packing.

All pure-Python/numpy — no SparkSession needed (the Spark-side behavior of
the touched operators is covered by the oracle-parity gate and the existing
twin tests)."""

from __future__ import annotations

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# bench.py: two-class gate predicate + baseline reader
# ---------------------------------------------------------------------------
def test_gate_flagged_mirrors_two_class_gate():
    import bench

    # >2x baseline AND >1s -> flagged
    assert bench._gate_flagged(5.0, 2.0)
    # within 2x -> not flagged regardless of absolute size
    assert not bench._gate_flagged(3.9, 2.0)
    # sub-floor trips are noise, never flagged
    assert not bench._gate_flagged(0.9, 0.1)
    # a 0.00 baseline row has no ratio: the absolute floor decides
    assert bench._gate_flagged(1.5, 0.0)
    assert not bench._gate_flagged(0.5, 0.0)


def test_read_baseline_parses_the_table():
    import bench

    rows = bench.read_baseline()
    assert len(rows) > 200  # the full registry is baselined
    assert all(isinstance(v, float) and v >= 0 for v in rows.values())


# ---------------------------------------------------------------------------
# session: scratch auto-root pressure fallback
# ---------------------------------------------------------------------------
def test_auto_scratch_root_rejects_shm_for_big_heaps(monkeypatch):
    import gmall_spark.session as s

    monkeypatch.setattr(s, "_AUTO_SCRATCH_ROOT", None)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    assert "/dev/shm" not in s._auto_scratch_root()

    monkeypatch.setattr(s, "_AUTO_SCRATCH_ROOT", None)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "16g")
    # small heap: decision depends on live /dev/shm free space — just assert
    # it resolves and is stable across calls (the decision is cached)
    first = s._auto_scratch_root()
    assert s._auto_scratch_root() == first


def test_scratch_env_override_wins(monkeypatch, tmp_path):
    import gmall_spark.session as s

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert s.scratch_dir("x").startswith(str(tmp_path))


# ---------------------------------------------------------------------------
# similarity._block_topm_candidates: the float32 prefilter must contain the
# exact float64 top-m (incl. ties) for every row — the property the kNN
# kernels' bit-exactness rests on.
# ---------------------------------------------------------------------------
def _exact_topm_members(S64_row, m):
    # the exact top-m value cut, ties included
    if len(S64_row) <= m:
        return set(range(len(S64_row)))
    q = np.partition(S64_row, len(S64_row) - m)[len(S64_row) - m]
    return set(np.nonzero(S64_row >= q)[0].tolist())


@pytest.mark.parametrize("n_index", [7, 500, 20000])
def test_f32_candidates_contain_exact_topm(n_index):
    from gmall_spark.extras.similarity import _block_topm_candidates

    rng = np.random.default_rng(42)
    d, blk, m = 64, 23, 11
    M = rng.random((n_index, d))
    M /= np.sqrt((M * M).sum(1))[:, None]
    Q = M[rng.integers(0, n_index, blk)]  # includes exact duplicates
    S64 = Q @ M.T
    S32 = Q.astype(np.float32) @ M.astype(np.float32).T
    for r, cand in _block_topm_candidates(S32, m, n_index):
        missing = _exact_topm_members(S64[r], m) - set(cand.tolist())
        assert not missing, f"row {r}: exact top-{m} columns {missing} not in candidates"


def test_f32_candidates_with_masked_columns():
    from gmall_spark.extras.similarity import _block_topm_candidates

    rng = np.random.default_rng(7)
    n, blk, m = 5000, 9, 11
    S32 = rng.random((blk, n)).astype(np.float32)
    S32[:, ::2] = -np.inf  # half the index masked (the hard-negative case)
    S64 = S32.astype(np.float64)
    for r, cand in _block_topm_candidates(S32, m, n):
        valid = cand[S32[r, cand] > -np.inf]
        missing = {
            c for c in _exact_topm_members(S64[r], m) if S64[r, c] > -np.inf
        } - set(valid.tolist())
        assert not missing


def test_f32_candidates_tiny_corpus_returns_full():
    from gmall_spark.extras.similarity import _block_topm_candidates

    S32 = np.random.rand(3, 5).astype(np.float32)
    for r, cand in _block_topm_candidates(S32, 11, 5):
        assert set(cand.tolist()) == {0, 1, 2, 3, 4}


# ---------------------------------------------------------------------------
# LPA vote packing: dst<<32 | lab roundtrip at the id extremes
# ---------------------------------------------------------------------------
def test_lpa_pack_roundtrip_bounds():
    # mirror the column arithmetic: code = (dst << 32) + lab;
    # dst = code >>> 32; lab = code & 0xFFFFFFFF
    for dst in (0, 1, (1 << 31) - 1):
        for lab in (0, 1, (1 << 31) - 1):
            code = (dst << 32) + lab
            assert 0 <= code < (1 << 63)  # no int64 sign overflow
            assert code >> 32 == dst
            assert code & ((1 << 32) - 1) == lab


# ---------------------------------------------------------------------------
# Chunk-order soundness (the sf10 topology finding): a keyed-state group's
# Arrow-chunk iterator is NOT time-ordered, so every keyed operator must
# concat-then-sort (stateful._batch_frame), never sort-per-chunk-and-carry.
# Forcing 4-row Arrow batches makes nearly every group straddle chunks at
# sf0.001 — under the old per-chunk pattern these entries lose/misplace
# rows and the oracle catches it.
# ---------------------------------------------------------------------------
import pytest as _pytest


@_pytest.mark.parametrize(
    "entry",
    [
        "streaming_mb_bounce",
        "streaming_mb_unique_visit",
        "streaming_mb_is_new",
        "streaming_mb_ewma",
        "streaming_mb_bucketed_uv",
        "streaming_mb_bucketed_is_new",
        "streaming_mb_bucketed_bounce",
        "streaming_tws_bounce",
    ],
)
def test_keyed_state_chunk_order_soundness(spark, entry):
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
    import oracle as orc
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    from gmall_spark.session import conf_scope

    with conf_scope(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": 4}):
        df = entrymod.queries()[entry](spark, sf)
        ok, msg = orc.compare(df, orc.duck_connection(sf), entrymod.oracle_sql()[entry])
    assert ok, f"{entry} under 4-row Arrow chunks: {msg[:400]}"


def test_auto_density_assert_scopes_to_gate_band():
    from gmall_spark.extras.queries import _assert_auto_density
    from gmall_spark.extras.similarity import auto_lsh_bits

    class FakeDF:
        def __init__(self, n):
            self._n = n

        def count(self):
            return self._n

    # gate-regime corpus crossing the resolver threshold: fail LOUD
    with pytest.raises(AssertionError, match="auto density resolves"):
        _assert_auto_density(FakeDF(5000), auto_lsh_bits, 4, "t")
    # gate-regime corpus matching the pinned density: fine
    _assert_auto_density(FakeDF(500), auto_lsh_bits, 4, "t")
    # scale regime: auto diverging is the point — never raise
    _assert_auto_density(FakeDF(200_000), auto_lsh_bits, 4, "t")


def test_pq_combined_trainer_bitexact(spark):
    """pq_train_books (one pass per Lloyd round for all m subspaces) must
    reproduce m independent kmeans_centroids runs over the SQL-sliced
    subvectors to the LAST ULP — that equality is what lets pq_ann hand the
    same books to pq_encode instead of retraining."""
    from pyspark.sql import functions as F

    from gmall_spark.extras import similarity
    from gmall_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    combined = similarity.pq_train_books(
        emb, "vec_id", "embedding", m=4, k=4, iters=2, sub_dim=16
    )
    for s in range(4):
        sub = emb.select(
            "vec_id", F.slice("embedding", s * 16 + 1, 16).alias("sv")
        )
        solo = similarity.kmeans_centroids(sub, "vec_id", "sv", n_clusters=4, iters=2)
        assert np.array_equal(np.asarray(combined[s]), np.asarray(solo)), (
            f"subspace {s}: combined trainer diverges from solo kmeans"
        )


def test_pq_encode_accepts_pretrained_books(spark):
    """pq_encode(books=...) must emit the identical codes to its own
    training path (the pq_ann share contract)."""
    from gmall_spark.extras import similarity
    from gmall_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = similarity.pq_train_books(
        emb, "vec_id", "embedding", m=4, k=4, iters=2, sub_dim=16
    )
    own = similarity.pq_encode(emb, "vec_id", "embedding", m=4, k=4, iters=2)
    given = similarity.pq_encode(
        emb, "vec_id", "embedding", m=4, k=4, iters=2, books=books
    )
    a = sorted(map(tuple, own.collect()))
    b = sorted(map(tuple, given.collect()))
    assert a == b


def test_pq_seed_fetch_skips_null_ids(spark):
    """A null id sorts first; the seeds must still be the k lowest non-null
    ids' vectors — k of them, not k-1 (isin never matches the null)."""
    from gmall_spark.extras import similarity

    rows = [(None, [9.0, 9.0, 9.0, 9.0])] + [
        (i, [float(i), float(-i), float(10 * i), 0.5]) for i in range(1, 7)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_train_books(
        df, "vec_id", "embedding", m=2, k=4, iters=0, sub_dim=2
    )
    seeds = np.asarray([rows[i][1] for i in range(1, 5)])
    assert np.array_equal(books[0], seeds[:, :2])
    assert np.array_equal(books[1], seeds[:, 2:])
