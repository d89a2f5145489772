"""Graph kernels (gmall_spark/extras/graph.py): PageRank fixed points and
build equivalence, LPA on a known topology and its node-id bound, weighted
SSSP against a single-machine Bellman-Ford, the two vote-delivery modes
(gather / scatter) against each other, the broadcast gate that picks
between them, and the packed int64 vote codes.

The gather/scatter test runs on a real SparkSession over the sf0.001 corpus
because the claim under test is bit-identity of the two DISTRIBUTED
execution paths.
The packed-code properties need no Spark: the codes are SQL expression
strings that the kernel hands to Spark, and DuckDB evaluates the same
strings here — with overflow checks Spark's shifts do not have."""

from __future__ import annotations

from types import SimpleNamespace

import duckdb
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import gmall_spark.extras.graph as g
from gmall_spark.extras.graph import pagerank
from gmall_spark.queries import QUERIES

MAX31 = (1 << 31) - 1


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------
def test_pagerank_two_node_cycle_fixed_point(spark):
    """A 2-cycle is PageRank's fixed point: each node keeps rank 1.0 —
    150000 + 850·1000000 div 1000 = 1000000 exactly in micro-units."""
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, "src", "dst", rounds=7).collect()}
    assert got == {1: 1_000_000, 2: 1_000_000}


def test_pagerank_star_sink_accumulates(spark):
    """Symmetrized star (hub 0 ↔ leaves 1..4): hub rank must exceed leaf
    rank, leaves stay symmetric, and total mass stays within integer-
    truncation loss of n·1e6."""
    pairs = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, "src", "dst", rounds=5).collect()}
    assert got[0] > got[1]
    assert len({got[i] for i in range(1, 5)}) == 1  # leaves identical
    total = sum(got.values())
    assert 5 * 1_000_000 - 100 <= total <= 5 * 1_000_000


def test_pagerank_chunked_adjacency_bit_identical(spark):
    """The opt-in celebrity-node build (adj_chunk) must produce the same
    ranks as the default single-array adjacency, exercised with a chunk
    size SMALLER than the hub's degree so real splitting happens."""
    pairs = [(0, i) for i in range(1, 12)] + [(1, 2), (3, 4), (5, 6)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    plain = {r["node"]: r["rank"] for r in pagerank(edges, "src", "dst", rounds=4).collect()}
    chunked = {
        r["node"]: r["rank"]
        for r in pagerank(edges, "src", "dst", rounds=4, adj_chunk=3).collect()
    }
    assert plain == chunked
    assert len(plain) == 12


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------
def _write_trade(tmp_path, orders, lines):
    pd.DataFrame(orders, columns=["o_orderkey", "o_custkey"]).to_parquet(
        tmp_path / "orders.parquet", index=False
    )
    pd.DataFrame(lines, columns=["l_orderkey", "l_suppkey"]).to_parquet(
        tmp_path / "lineitem.parquet", index=False
    )
    return str(tmp_path)


def test_label_communities_separates_disconnected_blocks(spark, tmp_path):
    """Two disconnected bipartite blocks (customers 1-3 ↔ suppliers 1-2 and
    customers 11-13 ↔ suppliers 11-12) must resolve to two communities."""
    sf = _write_trade(
        tmp_path,
        [(1, 1), (2, 2), (3, 3), (11, 11), (12, 12), (13, 13)],
        [
            (1, 1), (1, 2), (2, 1), (2, 2), (3, 1),
            (11, 11), (11, 12), (12, 11), (12, 12), (13, 11),
        ],
    )
    out = QUERIES["label_communities"](spark, sf).collect()
    comm = {r["node"]: r["community"] for r in out}
    block_a = {comm[n] for n in (2, 4, 6, 3, 5)}  # cust 1-3 ×2, supp 1-2 ×2+1
    block_b = {comm[n] for n in (22, 24, 26, 23, 25)}
    assert len(block_a) == 1 and len(block_b) == 1
    assert block_a != block_b


def test_label_communities_rejects_ids_past_31_bits(spark, tmp_path):
    """custkey 2^30 is node id 2^31, one past what the packed vote codes
    hold: the kernel must refuse, not pick wrong labels."""
    sf = _write_trade(tmp_path, [(1, 1 << 30), (2, 5)], [(1, 1), (2, 1)])
    with pytest.raises(ValueError, match=r"\[0, 2\^31\)"):
        QUERIES["label_communities"](spark, sf)


def test_round_plan_hook_sees_prestcheckpoint_rounds(spark, sf_dir, monkeypatch):
    seen: list[tuple[str, int]] = []
    monkeypatch.setattr(
        g, "ROUND_PLAN_HOOK", lambda kernel, rnd, df: seen.append((kernel, rnd))
    )
    spark.catalog.clearCache()
    QUERIES["label_communities"](spark, sf_dir).count()
    kernels = {k for k, _ in seen}
    rounds = sorted(r for k, r in seen if k == "label_communities")
    assert kernels == {"label_communities"}
    assert rounds == [1, 2, 3]  # _LPA_ROUNDS pre-checkpoint frames, in order


# ---------------------------------------------------------------------------
# Vote delivery: gather (broadcast node table) vs scatter (per-round shuffle)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("entry", ["label_communities", "pagerank_trade"])
def test_gather_and_scatter_paths_bit_identical(spark, sf_dir, entry, monkeypatch):
    spark.catalog.clearCache()
    gathered = sorted(tuple(r) for r in QUERIES[entry](spark, sf_dir).collect())

    monkeypatch.setattr(g, "_fits_broadcast", lambda spark, n_nodes: False)
    spark.catalog.clearCache()
    scattered = sorted(tuple(r) for r in QUERIES[entry](spark, sf_dir).collect())

    assert len(gathered) > 0
    assert gathered == scattered


def test_fits_broadcast_sized_from_max_result_size(spark):
    # the session's 4g: the sf100 trade graph (~16M nodes) gathers
    assert spark.conf.get("spark.driver.maxResultSize") == "4g"
    assert g._fits_broadcast(spark, 16_000_000)
    assert not g._fits_broadcast(spark, 64_000_000)

    def fits(size, n_nodes):
        return g._fits_broadcast(
            SimpleNamespace(conf={"spark.driver.maxResultSize": size}), n_nodes
        )

    assert not fits("1g", 16_000_000)
    assert fits("1g", 4_000_000)
    # past the 8 GiB broadcast cap, and unlimited (0), the cap decides
    assert fits("64g", 32_000_000) and not fits("64g", 40_000_000)
    assert fits("0", 32_000_000) and not fits("0", 40_000_000)
    # Spark's byte-string forms of the same 4 GiB
    for size in ("4096m", "4gb", "4G", str(4 << 30)):
        assert fits(size, 16_000_000) and not fits(size, 17_000_000)


# ---------------------------------------------------------------------------
# Packed vote codes, evaluated by DuckDB from the kernel's own SQL strings
# ---------------------------------------------------------------------------
_HALF = st.one_of(st.sampled_from([0, 1, MAX31]), st.integers(0, MAX31))


def _eval(sql: str, rows: list[tuple[int, int]], cols: tuple[str, str]):
    con = duckdb.connect()
    con.register("v", pd.DataFrame(rows, columns=list(cols), dtype="int64"))
    return con.execute(sql).fetchall()


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_HALF, _HALF), min_size=1, max_size=20, unique=True))
@example([(MAX31, 0), (MAX31, MAX31), (0, 0), (0, MAX31), (1, MAX31), (MAX31 - 1, 0)])
def test_pick_code_orders_like_count_desc_label_asc(votes):
    got = _eval(
        f"SELECT c, lab, m, {g._PICK_LABEL} AS back "
        f"FROM (SELECT c, lab, {g._PICK_CODE} AS m FROM v) ORDER BY m DESC",
        votes,
        ("c", "lab"),
    )
    assert [(c, lab) for c, lab, _, _ in got] == sorted(votes, key=lambda v: (-v[0], v[1]))
    assert all(back == lab for _, lab, _, back in got)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_HALF, _HALF), min_size=1, max_size=20))
@example([(MAX31, MAX31), (0, 0), (MAX31, 0), (0, MAX31)])
def test_edge_code_decodes_to_dst_and_label(pairs):
    got = _eval(
        f"SELECT dst, lab, {g._EDGE_NODE}, {g._EDGE_LABEL} "
        f"FROM (SELECT dst, lab, {g._EDGE_CODE} AS code FROM v)",
        pairs,
        ("dst", "lab"),
    )
    assert all((dst, lab) == (node, back) for dst, lab, node, back in got)
    assert len(got) == len(pairs)


# ---------------------------------------------------------------------------
# Weighted SSSP
# ---------------------------------------------------------------------------
def test_sssp_weighted_matches_python_bellman_ford(spark, sf_dir):
    """Distances from the frontier Bellman-Ford entry must equal a plain
    single-machine Bellman-Ford limited to the same round budget, and the
    reachable set must equal bfs_hops' (same seed, same hop bound)."""
    from gmall_spark.extras.graph import _SSSP_HOPS, _SSSP_SRC

    got = {r["node"]: r["dist"] for r in QUERIES["sssp_weighted"](spark, sf_dir).collect()}

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.min(F.col("l_quantity").cast("long") % 7 + 1).alias("w"))
        .collect()
    )
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in pairs:
        adj.setdefault(r["c"], []).append((r["s"], r["w"]))
        adj.setdefault(r["s"], []).append((r["c"], r["w"]))

    dist = {_SSSP_SRC: 0}
    frontier = {_SSSP_SRC: 0}
    for _ in range(_SSSP_HOPS):
        nxt: dict[int, int] = {}
        for u, du in frontier.items():
            for v, w in adj.get(u, []):
                cand = du + w
                if cand < dist.get(v, 1 << 60) and cand < nxt.get(v, 1 << 60):
                    nxt[v] = cand
        frontier = {v: d for v, d in nxt.items() if d < dist.get(v, 1 << 60)}
        dist.update(frontier)

    assert got == dist

    bfs = {r["node"] for r in QUERIES["bfs_hops"](spark, sf_dir).collect()}
    assert set(got) == bfs  # reachability within the hop bound is weight-blind
    assert got[_SSSP_SRC] == 0
    assert all(d >= 1 for n, d in got.items() if n != _SSSP_SRC)
