"""Graph analytics over relational edges: PageRank, triangle counts,
common neighbors, k-core, label propagation (LPA), BFS and weighted SSSP
(connected components lives in extras/dedup.py).

Determinism & engine parity: floating-point PageRank is summation-order
dependent, so a distributed run never hashes equal to a single-node oracle.
Ranks here are BIGINT micro-units (1.0 ≡ 1_000_000) and every step is
integer arithmetic — `rank div out_degree` contributions, damping as
``150000 + (850 · Σcontrib) div 1000`` — so Spark and DuckDB agree bit-for-
bit after any number of rounds. Positive operands make floor and truncating
integer division identical across engines.

Scale: the edge list is grouped ONCE into a persisted adjacency table
(src, dsts[], plus out_deg for PageRank) whose cache keeps hash(src) partitioning, so no round joins
the edge list. Each PageRank / LPA round then delivers its per-node
messages (rank contributions, labels) in one of two ways:

- gather — the regime at every scale the repo runs. On a symmetric graph
  the messages node v receives are exactly those of its own dsts, so the
  node-sized message table is broadcast, every exploded dst looks its
  message up, and the sum / vote count aggregates by src on the cache's
  own partitioning: no per-round Exchange at all (sf100: 1.18B edge rows
  never leave their partition).
- scatter — when the node table does not fit the driver's broadcast budget
  (``_fits_broadcast``): join the messages to the adjacency by src, explode,
  and aggregate by dst — one edge-sized Exchange per round.

LPA packs key pairs into single int64s: the mode pick is max((c << 32) +
(2^32-1-lab)), which orders exactly like (count desc, label asc) and stays
a hash aggregate, and the scatter shuffle key is (dst << 32) + lab, one
long instead of two. Both codes need node ids in [0, 2^31);
label_communities checks that in the job that counts the nodes and raises
ValueError past it. Trade-graph ids are 2·custkey and 2·suppkey+1, so the
bound is custkey < 2^30 — about sf7158 at 150k customers per scale unit.

Celebrity-node safety: pagerank's opt-in ``adj_chunk`` build caps dsts per
row via pmod(xxhash64(dst), ceil(deg/chunk)); the chunking groupBy rides
the same hash(src) exchange. Rounds are unrolled into the plan (a fixed
iteration count keeps the oracle expressible as chained CTEs) and
lineage-truncated per round where the plan would otherwise nest.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries import register
from gmall_spark.sources import load_table

SCALE = 1_000_000  # rank 1.0 in micro-units
DAMP_NUM, DAMP_DEN = 850, 1000  # damping 0.85 as a ratio
BASE = SCALE - SCALE * DAMP_NUM // DAMP_DEN  # (1-d) teleport mass = 150000

#: Optional callback ``(kernel: str, round_no: int, df: DataFrame)`` invoked
#: with each iterative round's PRE-checkpoint frame. localCheckpoint truncates
#: lineage, so the returned frame's explain() cannot show the per-round join/
#: exchange shape — tools/dump_plans.py --rounds sets this to dump round-k
#: plans as committable artifacts.
#: Zero-cost when None (the default).
ROUND_PLAN_HOOK = None


def _round_plan(kernel: str, round_no: int, df: DataFrame) -> None:
    if ROUND_PLAN_HOOK is not None:
        ROUND_PLAN_HOOK(kernel, round_no, df)


#: Driver bytes per node of a broadcast message table (LPA labels / PageRank
#: contributions, two longs per row). The built relation is what the
#: BroadcastExchange "data size" metric reports: 1258.4 KiB for the 15,999-row
#: label table at sf0.1 (81 B/node; synthetic 1M-4M-row tables: 50 B/node on
#: dense even ids, 67 B/node on hashed ids). While it builds, the driver
#: also holds the collected rows, 28 B/node (24 B UnsafeRow + 4 B length).
#: 81 + 28 = 109, rounded up.
_BCAST_BYTES_PER_NODE = 128
#: Spark's hard ceiling on one broadcast table (BroadcastExchangeExec).
_BCAST_TABLE_CAP = 8 << 30
_UNIT_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _fits_broadcast(spark: SparkSession, n_nodes: int) -> bool:
    """True when an ``n_nodes``-row message table can be broadcast: its
    driver footprint (``_BCAST_BYTES_PER_NODE``) must fit half of
    min(spark.driver.maxResultSize, the 8 GiB broadcast cap), leaving the
    other half for the relation's power-of-two growth steps and the rest of
    the driver's results. maxResultSize 0 means unlimited. At the session's
    4g that admits 16.7M nodes; the sf100 trade graph has ~16M."""
    size = spark.conf.get("spark.driver.maxResultSize", "1g")
    num, unit = re.fullmatch(r"(\d+)([kmgtp]?)b?", size.strip().lower()).groups()
    limit = int(num) << _UNIT_SHIFT[unit] or _BCAST_TABLE_CAP
    return n_nodes * _BCAST_BYTES_PER_NODE <= min(limit, _BCAST_TABLE_CAP) // 2


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    rounds: int = 5,
    adj_chunk: int | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list; returns
    (node, rank) after ``rounds`` synchronous iterations.

    Every node must appear as a source (no dangling nodes) — symmetrize the
    edge list first if the graph is not already so; the registry entry does.

    ``adj_chunk`` caps the dsts per adjacency row. Default None = one array
    per node (ONE exchange builds the whole adjacency, and the collect_list
    buffer is bounded by 8 B x max out-degree — fine up to ~10M-degree
    nodes). For web-scale graphs with celebrity nodes beyond that, pass e.g.
    65536: the build then pre-joins degrees and splits each node across
    ceil(deg/chunk) hash buckets BEFORE the collect, bounding every agg
    buffer. The chunked build costs one extra edge exchange plus the degree
    broadcast (~2x build wall at sf10: 57.7s vs 29.3s) — which is why it is
    opt-in rather than the default; both paths produce bit-identical ranks
    (unit-tested with chunk < max degree).

    ``symmetric`` declares that the edge list contains (v,u) whenever it
    contains (u,v) — then in-neighbors(v) == out-neighbors(v) == dsts(v), so
    each round can GATHER (node v sums rank(u) div out_deg(u) over u in
    dsts(v)) instead of SCATTER (group exploded contributions by dst). The
    gather join broadcasts the node-sized contribution table and aggregates
    on the adjacency cache's existing hash(src) partitioning: the per-round
    edge-cardinality Exchange disappears (guide §8 — decide/shuffle on the
    lightweight proxy, never move the edge payload). Bit-identical to the
    scatter path: contribution multisets per node are equal by symmetry and
    the arithmetic is integer (order-free). Applied when the node table fits
    the broadcast budget (_fits_broadcast) and the adjacency is
    unchunked (chunk rows duplicate out_deg, which the gather's contribution
    build must not); past either bound the scatter path stands.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if adj_chunk is None:
        # One exchange: dedup, degree and adjacency all in the same
        # aggregate — collect_SET deduplicates the raw edge list inside the
        # adjacency exchange itself, so the standalone distinct Exchange
        # (a second full-edge-cardinality shuffle; at sf100 the registry
        # entry fed this function an ALREADY-distinct symmetrized list and
        # still paid a redundant 1.18B-row distinct) is gone outright
        # (guide §2.4). out_deg = size of the deduped set == the old
        # count-after-distinct. The cache keeps hash(src) partitioning, so
        # every round's join plans zero edge-sized exchanges (ranks arrive
        # hash(node) from the previous round's groupBy; at worst the
        # node-sized side re-shuffles).
        adj = (
            e.groupBy("src")
            .agg(F.collect_set("dst").alias("dsts"))
            .select("src", F.size("dsts").cast("long").alias("out_deg"), "dsts")
            .persist()
        )
        ranks = adj.select(F.col("src").alias("node"), F.lit(SCALE).cast("long").alias("rank"))
    else:
        # celebrity-graph opt-in path: the chunking groupBy needs out_deg
        # BEFORE the collect, so dedup must stay a standalone distinct here
        e = e.distinct()
        # The explicit repartition pins hash(src) BEFORE the degree join —
        # AQE broadcasts node-sized deg, a broadcast join preserves the
        # streamed side's partitioning, and the chunking groupBy (whose key
        # contains src) rides the same exchange, so the persisted adjacency
        # still keeps hash(src) for every round's join. Without the pin the
        # groupBy re-shuffles on (src, out_deg, chunk) and each round then
        # re-exchanges the FULL edge payload to get back to src — measured
        # 111.9s vs 44.0s whole-entry at sf10.
        e = e.repartition("src")
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        adj = (
            e.join(deg, "src")
            .withColumn(
                "chunk",
                F.pmod(
                    F.xxhash64("dst"),
                    F.greatest(F.lit(1), F.ceil(F.col("out_deg") / adj_chunk)).cast("long"),
                ),
            )
            .groupBy("src", "out_deg", "chunk")
            .agg(F.collect_list("dst").alias("dsts"))
            .persist()
        )
        # node ids, deduped across chunk rows — stays inside the cache's
        # hash(src) partitioning
        ranks = (
            adj.select("src")
            .distinct()
            .select(F.col("src").alias("node"), F.lit(SCALE).cast("long").alias("rank"))
        )
    gather = (
        symmetric
        and adj_chunk is None
        and _fits_broadcast(edges.sparkSession, adj.count())
    )
    if gather:
        # the rank table carries out_deg, so each round's contribution table
        # is a projection of it rather than a join against the adjacency
        ranks = adj.select(
            F.col("src").alias("node"), "out_deg", F.lit(SCALE).cast("long").alias("rank")
        )
    for rnd in range(1, rounds + 1):
        if gather:
            # contribution table (node-sized): rank div out_deg per node,
            # broadcast so the edge-sized gather below never leaves the
            # adjacency cache's partitioning. Grouping by (src, out_deg) is
            # clustered by the cache's hash(src): no Exchange
            contribs = ranks.select(
                F.col("node").alias("dst"), F.expr("rank div out_deg").alias("c")
            )
            ranks = (
                adj.select("src", "out_deg", F.explode("dsts").alias("dst"))
                .join(F.broadcast(contribs), "dst")
                .groupBy(F.col("src").alias("node"), "out_deg")
                .agg(
                    F.expr(
                        f"CAST({BASE} + ({DAMP_NUM} * sum(c)) div {DAMP_DEN} AS BIGINT)"
                    ).alias("rank")
                )
            )
        else:
            contrib = adj.join(ranks, adj.src == ranks.node).select(
                F.explode("dsts").alias("dst"), F.expr("rank div out_deg").alias("c")
            )
            ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
                # `div` (not `/`): integer division keeps the arithmetic exact
                # and engine-portable; `/` would widen to double
                F.expr(f"CAST({BASE} + ({DAMP_NUM} * sum(c)) div {DAMP_DEN} AS BIGINT)").alias(
                    "rank"
                )
            )
        _round_plan("pagerank", rnd, ranks)
    from gmall_spark.session import unpersist_with

    return unpersist_with(ranks.select("node", "rank"), adj)


# ---------------------------------------------------------------------------
# Registry entry — PageRank over the customer↔supplier trade graph (distinct
# (o_custkey, l_suppkey) pairs from orders⋈lineitem, symmetrized so both
# partitions of the bipartite graph hold mass and no node dangles). Node ids
# are disambiguated as custkey·2 / suppkey·2+1. The oracle unrolls the same
# five integer-arithmetic rounds as chained CTEs.
# ---------------------------------------------------------------------------
_PR_ROUNDS = 5


def _oracle() -> str:
    head = """
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL
      SELECT s_node AS src, c_node AS dst FROM pairs
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1
    ), r0 AS (
      SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg
    )"""
    body = ""
    for i in range(1, _PR_ROUNDS + 1):
        body += f""", r{i} AS (
      SELECT e.dst AS node,
             CAST(150000 + (850 * sum(r.rank // d.out_deg)) // 1000 AS BIGINT) AS rank
      FROM edges e
      JOIN deg d ON e.src = d.src
      JOIN r{i - 1} r ON e.src = r.node
      GROUP BY 1
    )"""
    return head + body + f"\n    SELECT node, rank FROM r{_PR_ROUNDS}"


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer↔supplier trade graph as symmetrized directed edges
    (src, dst): every orders⋈lineitem row exploded into its two roles
    c→s and s→c, node ids custkey·2 / suppkey·2+1.

    NOT deduplicated: every consumer builds its adjacency with collect_set,
    which dedups inside the one exchange that build needs anyway (at sf100
    the 600M join rows hold 590M distinct pairs, so a standalone distinct
    would be a full-width Exchange removing ~2%). The explode is a codegen
    Generate in the join's own stage — one o⋈l pass and no materialized
    pair set, where a union of two projections runs the join twice or
    needs the pairs checkpointed first (483 s at sf100)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    pairs = o.join(l, o.o_orderkey == l.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("c_node"),
        (F.col("l_suppkey") * 2 + 1).alias("s_node"),
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c_node").alias("src"), F.col("s_node").alias("dst")),
                F.struct(F.col("s_node").alias("src"), F.col("c_node").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


@register("pagerank_trade", _oracle())
def pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(
        _trade_edges(spark, sf_dir), "src", "dst", rounds=_PR_ROUNDS, symmetric=True
    )


# ---------------------------------------------------------------------------
# Triangle counting — the other canonical distributed graph kernel (community
# density / clustering-coefficient numerator). Graph: suppliers co-occurring
# in the same order (distinct (l_suppkey_a < l_suppkey_b) pairs per
# o_orderkey — replaces the reference's HBase-side relationship scans with a
# pure relational edge build, cf. reference OrderWideApp's dim joins).
#
# Scale shape: the classic degree-ordered wedge enumeration. Every undirected
# edge is oriented from its lower-(degree, id) endpoint to the higher one, so
# a hub of degree d generates wedges only from its LOW-degree neighbors —
# wedge count is bounded by sum(min-degree per edge), the arboricity bound
# that keeps skewed graphs (every real co-occurrence graph) from exploding
# O(d²) at the hubs. Wedge close is one equi-join against the oriented edge
# list on the (lower, higher) endpoint pair. Two shuffles total beyond the
# edge build; no driver-side adjacency.
# ---------------------------------------------------------------------------
_TRI_ORACLE = """
WITH q AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
),
pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_suppkey AS sa, b.l_suppkey AS sb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  JOIN q ON a.l_orderkey = q.o_orderkey
),
edges AS (SELECT DISTINCT sa AS a, sb AS b FROM pairs),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
  FROM edges e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
),
o AS (
  SELECT o1.src, o1.dst, dg.d AS dst_deg
  FROM oriented o1 JOIN deg dg ON o1.dst = dg.node
),
wedges AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM o e1 JOIN o e2
    ON e1.src = e2.src
   AND (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)
),
tris AS (
  SELECT w.x, w.y, w.z
  FROM wedges w JOIN o c ON w.y = c.src AND w.z = c.dst
)
SELECT node, CAST(count(*) AS BIGINT) AS tri_ct FROM (
  SELECT x AS node FROM tris
  UNION ALL SELECT y AS node FROM tris
  UNION ALL SELECT z AS node FROM tris
) GROUP BY 1
"""


def triangle_counts(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Per-node triangle counts of an undirected simple graph given as
    (a < b) edge pairs; returns (node, tri_ct), nodes in ≥1 triangle only.

    Degree-ordered wedge enumeration: orient each edge low→high by
    (degree, id); wedges pair a node's out-neighbors ordered the same way;
    one equi-join against oriented edges closes them. Each triangle is found
    exactly once (at its lowest-ordered vertex), then credited to all three
    corners via an explode + sum — a partial-aggregable shuffle."""
    edges = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    ann = (
        edges.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select("a", "b", F.col("da.d").alias("d_a"), F.col("db.d").alias("d_b"))
    )
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ann.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("dst_deg"),
    )
    # persisted: referenced as both wedge legs and the closing-edge probe
    o = oriented.persist()
    e1, e2 = o.alias("e1"), o.alias("e2")
    lt = (F.col("e1.dst_deg") < F.col("e2.dst_deg")) | (
        (F.col("e1.dst_deg") == F.col("e2.dst_deg")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & lt).select(
        F.col("e1.src").alias("x"), F.col("e1.dst").alias("y"), F.col("e2.dst").alias("z")
    )
    closer = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tris = wedges.join(closer, ["y", "z"])
    from gmall_spark.session import unpersist_with

    corners = (
        tris.select(F.col("x").alias("node"))
        .unionByName(tris.select(F.col("y").alias("node")))
        .unionByName(tris.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri_ct"))
    )
    return unpersist_with(corners, o)


@register("triangle_count", _TRI_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts over the Q1-1995 co-supplier graph
    (suppliers co-occurring in an order that quarter; see triangle_counts
    for the degree-ordered kernel).

    The time scope is semantic, not a shortcut: the ALL-TIME co-supplier
    graph of a uniform order mix converges on the complete graph (every
    supplier eventually pairs with every other), where triangle counting is
    Θ(n³) by definition and no orientation trick helps — real deployments
    count triangles per time slice for exactly this reason. The quarter
    predicate pushes down to the orders scan before the self-join."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    ).select("o_orderkey")
    # scope lineitem BEFORE the quadratic self-join (one semi-join against
    # the quarter's orders), so the pair space is built from the reduced
    # fact slice rather than filtered after
    lq = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    a, b = lq.alias("a"), lq.alias("b")
    edges = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .select(F.col("a.l_suppkey").alias("a"), F.col("b.l_suppkey").alias("b"))
        .distinct()
    )
    return triangle_counts(edges, "a", "b")


# ---------------------------------------------------------------------------
# Link-prediction tie strength — common-neighbor counts per existing edge
# (the Jaccard/Adamic-Adar numerator; in the reference's domain: how many
# third suppliers co-operate with BOTH endpoints of a partnership). Reuses
# the quarterly edge slice and the same arboricity-bounded wedge space as
# triangle_count: a wedge (x; y,z) is exactly one common neighbor x of the
# pair (y,z), so counting wedges grouped by the closing pair — WITHOUT
# requiring the closing edge to exist — scores every candidate pair, and an
# inner join back to the edge list keeps the realized partnerships.
# ---------------------------------------------------------------------------
_CN_ORACLE = """
WITH q AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
),
pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_suppkey AS sa, b.l_suppkey AS sb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  JOIN q ON a.l_orderkey = q.o_orderkey
),
edges AS (SELECT DISTINCT sa AS a, sb AS b FROM pairs),
adj AS (
  SELECT a AS x, b AS n FROM edges UNION ALL SELECT b AS x, a AS n FROM edges
),
cn AS (
  SELECT least(p.n, q2.n) AS a, greatest(p.n, q2.n) AS b, count(*) AS common_ct
  FROM adj p JOIN adj q2 ON p.x = q2.x AND p.n < q2.n
  GROUP BY 1, 2
)
SELECT e.a, e.b, CAST(cn.common_ct AS BIGINT) AS common_ct
FROM edges e JOIN cn ON e.a = cn.a AND e.b = cn.b
"""


@register("edge_common_neighbors", _CN_ORACLE)
def edge_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, common_ct) for every Q1-1995 partnership edge with ≥1 common
    neighbor. Wedge generation off the symmetric adjacency (each hub x
    contributes C(deg x, 2) candidate pairs — bounded by the quarter slice,
    same reasoning as triangle_count), one count shuffle on the pair, one
    equi-join against the edge list."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    ).select("o_orderkey")
    lq = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    a, b = lq.alias("a"), lq.alias("b")
    edges = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .select(F.col("a.l_suppkey").alias("a"), F.col("b.l_suppkey").alias("b"))
        .distinct()
        .persist()
    )
    adj = edges.select(F.col("a").alias("x"), F.col("b").alias("n")).unionByName(
        edges.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    p, q2 = adj.alias("p"), adj.alias("q2")
    cn = (
        p.join(q2, (F.col("p.x") == F.col("q2.x")) & (F.col("p.n") < F.col("q2.n")))
        .groupBy(F.col("p.n").alias("a"), F.col("q2.n").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common_ct"))
    )
    from gmall_spark.session import unpersist_with

    return unpersist_with(edges.join(cn, ["a", "b"]).select("a", "b", "common_ct"), edges)


# ---------------------------------------------------------------------------
# k-core decomposition (k=3, 4 pruning rounds) — the standard graph
# summarization for "dense collaboration backbone": repeatedly drop nodes
# with degree < k until stable. Rounds are CAPPED (like pagerank's unrolled
# loop): extra rounds after convergence remove nothing, so a run that
# stabilizes early equals the fixed-round oracle exactly; a graph that
# needs more rounds gets the same round-4 cut in both engines. Per round:
# one partial-agg degree shuffle + two semi-joins against the keep list
# (broadcast-sized here — the keep list is nodes, not edges).
# ---------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    # every CTE is MATERIALIZED: each edges{r+1} reads edges{r} twice, and
    # DuckDB inlines a CTE at every reference, so the inlined 4-round chain
    # repeats the lineitem self-join until it runs out of memory (over 10 GB
    # at sf0.01); materialized, sf0.1 evaluates in well under a second
    ctes = [
        """edges0 AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  JOIN (SELECT o_orderkey FROM orders
        WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01') q
    ON a.l_orderkey = q.o_orderkey
)"""
    ]
    for r in range(_KCORE_ROUNDS):
        ctes.append(
            f"""deg{r} AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM edges{r} UNION ALL SELECT b AS node FROM edges{r}
  ) GROUP BY 1
),
keep{r} AS MATERIALIZED (SELECT node FROM deg{r} WHERE d >= {_KCORE_K}),
edges{r + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM edges{r} e
  JOIN keep{r} ka ON e.a = ka.node
  JOIN keep{r} kb ON e.b = kb.node
)"""
        )
    last = _KCORE_ROUNDS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
  SELECT a AS node FROM edges{last} UNION ALL SELECT b AS node FROM edges{last}
) GROUP BY 1"""
    )


@register("kcore_decompose", _kcore_oracle())
def kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    ).select("o_orderkey")
    lq = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    a, b = lq.alias("a"), lq.alias("b")
    edges = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .select(F.col("a.l_suppkey").alias("a"), F.col("b.l_suppkey").alias("b"))
        .distinct()
    )
    # Each round is materialized AND lineage-truncated before the next
    # builds on it (session.iter_checkpoint): per-round persist alone keeps
    # the logical plan growing — Catalyst re-analyzes the nested tree per
    # action and round 4 cost 15s against 0.6s truncated (42s → 7s total);
    # without any materialization the quadratic pair-build itself nests
    # 2^4-deep (92s at sf0.1).
    from gmall_spark.session import iter_checkpoint

    surv = iter_checkpoint(edges)

    for _ in range(_KCORE_ROUNDS):
        deg = (
            surv.select(F.col("a").alias("node"))
            .unionByName(surv.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        # no broadcast hint: the keep list is node-sized — small enough for
        # AQE to broadcast on its own here, but at billion-node scale the
        # planner must be free to fall back to a shuffled semi-join
        surv = iter_checkpoint(
            surv.join(keep, surv.a == keep.node, "left_semi")
            .join(keep, F.col("b") == keep.node, "left_semi")
        )
    return (
        surv.select(F.col("a").alias("node"))
        .unionByName(surv.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (LPA) — the near-linear community detector
# (Raghavan et al. 2007) over the same customer↔supplier trade graph as
# pagerank_trade: each round every node adopts the MODE of its neighbors'
# labels (ties → smallest label), run for a fixed 3 synchronous rounds so
# the oracle can replay the rounds as unrolled CTEs. Fully deterministic:
# init label = node id, mode counts are integers, ties break on label. Each
# node also casts ONE vote for its own current label (a self-loop on every
# node): the standard inertia damping — without it, synchronous LPA on a
# bipartite graph (exactly this shape) flips the two partitions' labels
# every round and never settles.
#
# Scale shape per round: one vote count per (node, label) and one packed
# mode pick, with the votes delivered by gather or scatter (module
# docstring); synchronous LPA is the variant that parallelizes
# (asynchronous LPA's sequential sweep does not shard). Fixed round count,
# not convergence-polled: LPA oscillates on bipartite graphs (exactly this
# shape), so production runs cap rounds anyway.
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3
_LOW32 = (1 << 32) - 1
#: Node ids must lie in [0, _ID_BOUND) for the packed vote codes below.
_ID_BOUND = 1 << 31
#: Mode pick as ONE hash-aggregable max(int64): a max over a (count, -lab)
#: struct plans as Sort + SortAggregate, a max over a long does not. With
#: c < 2^31 and lab in [0, 2^31) the high word orders by count and the low
#: word by the label's complement, so the max is (count desc, label asc).
_PICK_CODE = f"(c << 32) + ({_LOW32} - lab)"
_PICK_LABEL = f"{_LOW32} - (m & {_LOW32})"
#: Scatter shuffle key: (dst, lab) as one long instead of two.
_EDGE_CODE = "(dst << 32) + lab"
_EDGE_NODE = "code >> 32"
_EDGE_LABEL = f"code & {_LOW32}"


def _lpa_oracle() -> str:
    head = """
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL
      SELECT s_node AS src, c_node AS dst FROM pairs
    ), selfed AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT DISTINCT src, src FROM edges
    ), r0 AS (
      SELECT DISTINCT src AS node, src AS lab FROM edges
    )"""
    body = ""
    for i in range(1, _LPA_ROUNDS + 1):
        body += f""", nbr{i} AS (
      SELECT e.dst AS node, w.lab, count(*) AS c
      FROM selfed e JOIN r{i - 1} w ON e.src = w.node
      GROUP BY 1, 2
    ), pick{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM nbr{i}
      ) WHERE rn = 1
    ), r{i} AS (
      SELECT r.node, coalesce(p.lab, r.lab) AS lab
      FROM r{i - 1} r LEFT JOIN pick{i} p ON r.node = p.node
    )"""
    return head + body + f"""
    SELECT node, lab AS community,
           CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
    FROM r{_LPA_ROUNDS}"""


@register("label_communities", _lpa_oracle())
def label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from gmall_spark.session import iter_checkpoint, unpersist_with

    # Adjacency, same shape as pagerank's: one exchange builds it and the
    # cache keeps hash(src) partitioning. collect_SET dedups the raw trade
    # edges inside that exchange. The self-loop per node (the one inertia
    # vote, see the section comment) is src appended to its own dsts — src
    # never appears in its own set (bipartite ids differ in parity), so the
    # adjacency is the CLOSED neighborhood.
    # SERIALIZED memory+disk (not the deserialized default): the adjacency
    # is the biggest cache in the repo (~10 GB of array payload at sf100),
    # and the r6 sf100 probe showed it evicting from MemoryStore and paying
    # a per-round recompute; serialized blocks are smaller AND eviction
    # degrades to one disk read instead of re-running the edge exchange.
    adj = (
        _trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.array_append(F.collect_set("dst"), F.col("src")).alias("dsts"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # One job: the node count sizes the vote delivery, the id range guards
    # the packed codes.
    lo, hi, n_nodes = adj.agg(F.min("src"), F.max("src"), F.count(F.lit(1))).first()
    if n_nodes and not (0 <= lo and hi < _ID_BOUND):
        adj.unpersist()
        raise ValueError(
            f"label_communities packs node ids into 32-bit halves and needs "
            f"them in [0, 2^31); this graph spans [{lo}, {hi}]"
        )
    # Round 1 never needs the vote shuffle. With identity initialization
    # (lab = node id) every incoming vote carries a DISTINCT label (the
    # closed neighborhood is duplicate-free), so every (node, lab) count is
    # exactly 1 and mode-with-min-tiebreak degenerates to array_min(dsts) —
    # a node-sized map instead of the one round whose vote shuffle gets zero
    # partial-agg compression (1.18B rows at sf100).
    round1 = adj.select(F.col("src").alias("node"), F.array_min("dsts").alias("lab"))
    _round_plan("label_communities", 1, round1)
    labels = iter_checkpoint(round1)
    # The graph is symmetric and the adjacency closed, so node v's incoming
    # votes {lab(u) : v in dsts(u)} are exactly {lab(u) : u in dsts(v)}:
    # gather and scatter count the same (node, lab) multiset. Every node
    # votes for itself, so each round's pick covers every node and IS the
    # next label table — no left join back to the old labels.
    gather = _fits_broadcast(spark, n_nodes)
    for rnd in range(2, _LPA_ROUNDS + 1):
        if gather:
            counted = (
                adj.select(F.col("src").alias("node"), F.explode("dsts").alias("dst"))
                .join(F.broadcast(labels.select(F.col("node").alias("dst"), "lab")), "dst")
                .groupBy("node", "lab")
                .agg(F.count(F.lit(1)).alias("c"))
            )
        else:
            counted = (
                adj.join(labels.select(F.col("node").alias("src"), "lab"), "src")
                .select(F.explode("dsts").alias("dst"), "lab")
                .select(F.expr(_EDGE_CODE).alias("code"))
                .groupBy("code")
                .agg(F.count(F.lit(1)).alias("c"))
                .select(
                    F.expr(_EDGE_NODE).alias("node"), F.expr(_EDGE_LABEL).alias("lab"), "c"
                )
            )
        # c is at most a closed neighborhood's size — one parity class of
        # [0, 2^31) plus the node itself — so c < 2^31 as _PICK_CODE needs
        new_labels = (
            counted.groupBy("node")
            .agg(F.max(F.expr(_PICK_CODE)).alias("m"))
            .select("node", F.expr(_PICK_LABEL).alias("lab"))
        )
        _round_plan("label_communities", rnd, new_labels)
        # truncate per round: the label relation is round-N-deep otherwise
        # (see iter_checkpoint)
        labels = iter_checkpoint(new_labels)
    # community_size via groupBy-count + join, not a window partitioned on
    # the label: LPA routinely produces one giant community, and a window
    # would funnel that whole component through a single task (hot key);
    # the count aggregates partially and AQE handles the skewed join side.
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).cast("long").alias("community_size"))
    out = labels.join(sizes, "lab").select(
        "node", F.col("lab").alias("community"), "community_size"
    )
    return unpersist_with(out, adj)


# ---------------------------------------------------------------------------
# BFS hop distance — the sixth graph kernel: unweighted single-source
# shortest paths over the bipartite trade graph (who is N introductions away
# from the anchor customer — reachability/radius analysis, the "Erdős
# number" of the trade network). The reference's graph-adjacent logic is all
# one-hop joins (HBase dim lookups); multi-hop reachability is the natural
# next question its users ask and a core scale kernel here.
#
# Frontier BFS, bounded at 4 hops: per round, join the frontier with the
# persisted adjacency table (same partition-pinned (src, dsts[]) build as
# pagerank's — a NODE-sized join + explode of only the frontier's arrays,
# not an edge-list merge), distinct the reached set, anti-join the
# already-visited set (first touch == minimum distance, so no
# min-aggregation is ever needed), tag with the round number. The frontier
# is the only per-round state and lineage is truncated per round
# (iter_checkpoint) so round N doesn't replan rounds 1..N-1. The adjacency
# replaces the old eager localCheckpoint of the full edge LIST, which at
# sf10 (120M rows under the 16g default heap) starved execution memory
# inside the round's distinct and aborted with UNABLE_TO_ACQUIRE_MEMORY —
# the array build is the same payload at a fraction of the row overhead,
# and it spills gracefully.
#
# The oracle is a genuine WITH RECURSIVE (DuckDB executes the fixpoint; no
# unrolled CTE chain): UNION-deduped (node, dist) pairs bounded by dist < 4,
# min(dist) at the end — provably the same BFS level set.
# ---------------------------------------------------------------------------
_BFS_HOPS = 4
_BFS_SRC = 2  # customer #1's node id (custkey * 2)

_BFS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), edges AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
), bfs(node, dist) AS (
  SELECT {_BFS_SRC} AS node, 0 AS dist
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN edges e ON bfs.node = e.src
  WHERE bfs.dist < {_BFS_HOPS}
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist
FROM bfs GROUP BY 1
"""


@register("bfs_hops", _BFS_ORACLE)
def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.session import iter_checkpoint

    adj = (
        _trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .persist()
    )
    seed = spark.range(1).select(
        F.lit(_BFS_SRC).cast("long").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    visited, frontier = seed, seed
    for hop in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(adj, frontier.node == adj.src)
            .select(F.explode("dsts").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
        )
        # truncate lineage: the next round's anti-join otherwise replans the
        # whole BFS-so-far per action (cf. label_communities)
        frontier = iter_checkpoint(nxt)
        visited = iter_checkpoint(visited.unionByName(frontier))
    from gmall_spark.session import unpersist_with

    return unpersist_with(visited, adj)


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths — Bellman-Ford as Pregel rounds.
# Completes the graph family (pagerank / triangles / k-core / LPA / BFS) with
# the weighted-distance variant the reference's trade graph would need for
# cheapest-route questions. Edge weights are integers (quantity mod 7 + 1,
# min over contributing lineitems), so distances are BIGINT-exact and the
# DuckDB recursive CTE replays the ≤R-edge relaxation bit-for-bit.
#
# Scale shape: per round = one NODE-sized equi-join of the FRONTIER (only
# nodes whose distance improved last round, not the full distance table)
# with the persisted weighted adjacency + a codegen explode + one
# min-groupBy on dst + one full-outer merge into the running distances —
# no edge-list merge join anywhere. Frontier
# propagation is exact for Bellman-Ford: a node re-propagates exactly when
# its distance improves, so after R rounds every ≤R-edge path has been
# relaxed (induction on path prefix length). At 100 TB the edge list is
# bucketed on src so the per-round join is co-located; lineage is truncated
# per round (iter_checkpoint) exactly like bfs_hops/label_communities.
# ---------------------------------------------------------------------------
_SSSP_HOPS = 4
_SSSP_SRC = 2  # customer #1's node id (custkey * 2), same seed as bfs_hops

_SSSP_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node,
         MIN(CAST(l.l_quantity AS BIGINT) % 7 + 1) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT c_node AS src, s_node AS dst, w FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst, w FROM pairs
), walk(node, dist, hops) AS (
  SELECT {_SSSP_SRC} AS node, CAST(0 AS BIGINT) AS dist, 0 AS hops
  UNION
  SELECT e.dst, walk.dist + e.w, walk.hops + 1
  FROM walk JOIN edges e ON walk.node = e.src
  WHERE walk.hops < {_SSSP_HOPS}
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY 1
"""


@register("sssp_weighted", _SSSP_ORACLE)
def sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.session import iter_checkpoint

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .agg(F.min(F.col("l_quantity").cast("long") % 7 + 1).alias("w"))
    )
    sym = pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst"), "w").unionByName(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"), "w")
    )
    # weighted adjacency, same partition-pinned build as bfs_hops': one
    # array of (dst, w) structs per node, replacing the full-edge-list
    # checkpoint (identical sf10 OOM hazard — see the BFS comment block)
    adj = sym.groupBy("src").agg(
        F.collect_list(F.struct("dst", "w")).alias("nbrs")
    ).persist()
    seed = spark.range(1).select(
        F.lit(_SSSP_SRC).cast("long").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    dists, frontier = seed, seed
    for _ in range(_SSSP_HOPS):
        cand = (
            frontier.join(adj, frontier.node == adj.src)
            .select("dist", F.explode("nbrs").alias("nb"))
            .groupBy(F.col("nb.dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("nb.w")).alias("cand_dist"))
        )
        merged = dists.join(cand, "node", "full_outer")
        # least() skips NULLs, so a node seen on only one side keeps that
        # side's distance; improved ⇔ cand strictly beats the old value
        frontier = iter_checkpoint(
            merged.filter(
                F.col("cand_dist").isNotNull()
                & (F.col("dist").isNull() | (F.col("cand_dist") < F.col("dist")))
            ).select("node", F.col("cand_dist").alias("dist"))
        )
        dists = iter_checkpoint(
            merged.select("node", F.least("dist", "cand_dist").alias("dist"))
        )
    from gmall_spark.session import unpersist_with

    return unpersist_with(dists, adj)
