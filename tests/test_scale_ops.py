"""Scale-posture operators: bucketed co-located joins (shuffle-free), salted
skew joins (correctness under salting), approx-distinct error bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_spark.operators.joins import bucket_table, salted_join
from gmall_spark.plans import physical_plan
from gmall_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_is_shuffle_free(spark):
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    bucket_table(orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey")
    bucket_table(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "b_lineitem",
        "o_orderkey",
    )
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    # co-located join must not exchange either side; disable AQE broadcast
    # demotion noise by checking the plan has zero shuffle exchanges
    joined = a.join(b, "o_orderkey").withColumn("x", F.col("l_quantity") + 1)
    plan = physical_plan(joined)
    assert "Exchange hashpartitioning" not in plan, plan
    # and results are correct
    expected = (
        orders.select("o_orderkey")
        .join(lineitem.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey")
        .count()
    )
    assert joined.count() == expected


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    plain = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    )
    salted = salted_join(
        orders, customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", salt=4
    )
    assert salted.count() == plain.count()
    p = sorted(tuple(r) for r in plain.select("o_orderkey", "c_name").collect())
    s = sorted(tuple(r) for r in salted.select("o_orderkey", "c_name").collect())
    assert p == s


def test_approx_count_distinct_error_bound(spark):
    ev = load_table(spark, SF, "events")
    exact, approx = ev.agg(
        F.countDistinct("user_id").alias("e"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
    ).collect()[0]
    assert abs(approx - exact) / exact < 0.1  # generous bound for rsd=0.02


def test_sink_ddl_generates_valid_spark_sql(spark):
    """K5 — auto-create sink DDL from a routing rule
    (TableProcessFunction.java:73-120): the generated statement must be
    runnable DDL producing the whitelisted all-string columns."""
    from gmall_spark.operators.routing import sink_ddl

    ddl = sink_ddl("dim_user_info", "id,name,birthday", "id", None)
    spark.sql("DROP TABLE IF EXISTS dim_user_info")
    spark.sql(ddl)
    cols = {f.name: f.dataType.simpleString() for f in spark.table("dim_user_info").schema}
    assert cols == {"id": "string", "name": "string", "birthday": "string"}
    spark.sql(ddl)  # IF NOT EXISTS — idempotent
    spark.sql("DROP TABLE dim_user_info")


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    """Partitioned DWS output: one dir per dt, partition pruning on read."""
    from gmall_spark.sinks import write_parquet
    from gmall_spark.plans import scan_info

    ev = load_table(spark, SF, "events")
    daily = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_id", "value")
    write_parquet(daily, str(tmp_path / "out"), partition_by=["dt"])
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == ev.count()
    one_day = daily.select("dt").first()["dt"]
    pruned = back.filter(F.col("dt") == one_day)
    assert pruned.count() == daily.filter(F.col("dt") == one_day).count()
    # not just equal counts: the dt predicate must land in PartitionFilters
    # (directory-level pruning), NOT as a post-scan data filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dt" in m.group(1), plan


def test_read_json_logs_schema_pinned(spark, tmp_path):
    from gmall_spark.apps.fixtures import behavior_log_json
    from gmall_spark.schemas import BEHAVIOR_LOG_SCHEMA
    from gmall_spark.sources.batch import read_json_logs

    raw = behavior_log_json(spark, SF)
    raw.coalesce(1).write.mode("overwrite").text(str(tmp_path / "logs"))
    logs = read_json_logs(spark, str(tmp_path / "logs"), BEHAVIOR_LOG_SCHEMA)
    assert logs.count() == raw.count()
    assert [f.name for f in logs.schema.fields] == [
        f.name for f in BEHAVIOR_LOG_SCHEMA.fields
    ]


def test_stateful_ops_survive_hot_key_skew(spark):
    """One entity owning half the stream (hot device/bot): keyed window ops
    sort per key, so a hot key means one big sort run — must stay correct
    (AQE can split skewed JOIN partitions but not per-key windows; salting
    doesn't apply to order-sensitive state). 50k-row hot key vs 100 normal
    keys, checked against per-key expectations."""
    from gmall_spark.operators.stateful import first_touch, dedup_daily
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    hot = spark.range(50_000).select(
        F.col("id").alias("event_id"),
        (F.lit(base) + (F.col("id") * F.expr("INTERVAL '1' SECOND"))).alias("ts"),
        F.lit(0).alias("user_id"),
    )
    cold = spark.range(50_000, 50_100).select(
        F.col("id").alias("event_id"),
        F.lit(base).cast("timestamp").alias("ts"),
        F.col("id").alias("user_id"),
    )
    ev = hot.unionByName(cold)
    ft = first_touch(ev, "user_id", "ts", "event_id")
    firsts = ft.filter(F.col("is_first") == 1)
    assert firsts.count() == 101  # one first-touch per key, hot key included
    assert firsts.filter(F.col("user_id") == 0).collect()[0]["event_id"] == 0
    # daily dedup: hot key spans ~14 hours -> exactly 1 day, one row
    dd = dedup_daily(ev.filter(F.col("user_id") == 0), "user_id", "ts", "event_id")
    assert dd.count() == 1


def test_ngram_jaccard_hot_shingle_cap(spark):
    """The df-cap must (a) stop hot shingles from generating candidates and
    (b) keep scores exact for every emitted pair — on this corpus near-dup
    pairs share rare shingles, so a generous cap loses nothing while a cap
    of 1 provably prunes (every shared shingle has df >= 2)."""
    from gmall_spark.extras.dedup import ngram_jaccard
    from gmall_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b, r.inter_ct, r.union_ct)
        for r in ngram_jaccard(docs, "doc_id", "text", 3, 50).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.inter_ct, r.union_ct)
        for r in ngram_jaccard(docs, "doc_id", "text", 3, 50, max_shingle_df=50).collect()
    }
    assert capped == exact  # generous bound: no recall loss, scores identical
    assert (
        ngram_jaccard(docs, "doc_id", "text", 3, 50, max_shingle_df=1).count() == 0
    )  # a shared shingle has df >= 2 by definition — bound enforced


def test_asof_join_matches_naive_range_argmax(spark):
    """asof_join (union-carry-forward, one shuffle) must equal the naive
    range-join + per-left-row argmax it replaces."""
    from pyspark.sql import functions as F

    from gmall_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, t, f"L{k}-{t}") for k in range(20) for t in range(0, 100, 7)],
        "k int, lt int, lval string",
    )
    right = spark.createDataFrame(
        # deliberately sparse + some keys absent entirely
        [(k, t, f"R{k}-{t}") for k in range(15) for t in range(0, 100, 13)],
        "k int, rt int, rval string",
    )
    got = asof_join(left, right, on="k", left_ts="lt", right_ts="rt").orderBy(
        "k", "lt"
    )
    naive = (
        left.join(right, (left.k == right.k) & (F.col("rt") <= F.col("lt")), "left")
        .drop(right.k)
        .groupBy("k", "lt", "lval")
        .agg(F.max_by(F.struct("rt", "rval"), "rt").alias("m"))
        .select("k", "lt", "lval", F.col("m.rt").alias("rt"), F.col("m.rval").alias("rval"))
        .orderBy("k", "lt")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in naive.collect()]


def test_asof_join_forward_and_tie_inclusive(spark):
    from gmall_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, "a"), (1, 20, "b")], "k int, lt int, lv string")
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (1, 25, "r25")], "k int, rt int, rv string"
    )
    back = {
        (r["lt"]): r["rv"]
        for r in asof_join(left, right, "k", "lt", "rt").collect()
    }
    # at-or-before is INCLUSIVE: lt=10 matches rt=10
    assert back == {10: "r10", 20: "r15"}
    fwd = {
        (r["lt"]): r["rv"]
        for r in asof_join(left, right, "k", "lt", "rt", direction="forward").collect()
    }
    assert fwd == {10: "r10", 20: "r25"}


def test_asof_join_single_shuffle(spark):
    """The whole as-of join is ONE hash exchange on the key — the property
    that makes it viable at 100 TB (a range join explodes first, an
    argmax-after-join shuffles twice)."""
    from gmall_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, "a")], "k int, lt int, lv string")
    right = spark.createDataFrame([(1, 5, "r")], "k int, rt int, rv string")
    df = asof_join(left, right, "k", "lt", "rt")
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("Exchange hashpartitioning") == 1, tree


def test_range_join_matches_naive_and_handles_overlap(spark):
    from pyspark.sql import functions as F

    from gmall_spark.operators.joins import range_join

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 0.5, 1.0, 7.3, 24.9, 25.0, 99.99, 100.0, 250.0])],
        "id int, v double",
    )
    bands = spark.createDataFrame(
        # deliberately overlapping: [5,30) and [20,100) both cover 24.9
        [("a", 0, 1), ("b", 1, 5), ("c", 5, 30), ("d", 20, 100), ("e", 100, 500)],
        "band string, lo int, hi int",
    )
    got = sorted(
        (r["id"], r["band"])
        for r in range_join(facts, bands, "v", "lo", "hi", grid=7.0).collect()
    )
    naive = sorted(
        (r["id"], r["band"])
        for r in facts.join(
            bands, (facts.v >= bands.lo) & (facts.v < bands.hi)
        ).collect()
    )
    assert got == naive
    assert (24.9, ) not in got  # sanity: tuples are (id, band)
    # 24.9 (id=4) matches both overlapping bands
    assert [b for i, b in got if i == 4] == ["c", "d"]


def test_range_join_plans_equi_not_nested_loop(spark):
    from gmall_spark.operators.joins import range_join

    facts = spark.createDataFrame([(1, 3.0)], "id int, v double")
    bands = spark.createDataFrame([("a", 0, 10)], "band string, lo int, hi int")
    df = range_join(facts, bands, "v", "lo", "hi", grid=5.0)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_compact_parquet_shrinks_files_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from gmall_spark.sinks.batch import compact_parquet

    path = str(tmp_path / "frag")
    # simulate a micro-batch-fragmented sink: 64 tiny files
    spark.range(10_000).withColumn("v", F.col("id") * 2).repartition(64).write.parquet(path)
    import os
    before = sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    assert before == 64
    n_after = compact_parquet(spark, path, target_mb=256)
    assert n_after == 1  # 10k rows ≪ 256 MB
    out = spark.read.parquet(path)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10_000))


def test_compact_parquet_partitioned_bounds_files_per_dir(spark, tmp_path):
    """With partition_by, compaction must NOT round-robin rows across tasks
    (each task would write one file per Hive value it holds — up to
    n_files x |values| tiny files); the shuffle keys on the partition
    columns so each directory ends with ~total/target files."""
    import os

    from pyspark.sql import functions as F

    from gmall_spark.sinks.batch import compact_parquet

    path = str(tmp_path / "part_frag")
    df = spark.range(8_000).withColumn("g", (F.col("id") % 4).cast("int"))
    # fragmented partitioned sink: 16 writer tasks x 4 values = 64 files
    df.repartition(16).write.partitionBy("g").parquet(path)
    before = sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    assert before == 64
    compact_parquet(spark, path, target_mb=256, partition_by=["g"])
    per_dir = {
        d: sum(1 for f in fs if f.endswith(".parquet"))
        for d, _, fs in os.walk(path)
        if any(f.endswith(".parquet") for f in fs)
    }
    assert len(per_dir) == 4  # hive layout preserved
    assert all(n == 1 for n in per_dir.values()), per_dir  # 2k rows << 256MB
    out = spark.read.parquet(path)
    assert out.count() == 8_000
    assert out.groupBy("g").count().count() == 4


def test_compact_parquet_refuses_leftover_dirs(spark, tmp_path):
    """Leftovers from a crashed run change shutil/rename semantics (nesting)
    after which cleanup would delete the only copy — must fail fast."""
    import os

    import pytest

    from gmall_spark.sinks.batch import compact_parquet

    path = str(tmp_path / "d")
    spark.range(10).write.parquet(path)
    os.makedirs(path + "__old")
    with pytest.raises(RuntimeError, match="leftover"):
        compact_parquet(spark, path)
    os.rmdir(path + "__old")
    os.makedirs(path + "__compacting")
    with pytest.raises(RuntimeError, match="leftover"):
        compact_parquet(spark, path)


def test_range_join_hi_boundary_ulp(spark):
    """A fact value within 1 ulp below an hi that is an exact multiple of
    grid must still match: fp division can put floor(value/grid) in the
    cell AT hi/grid, which a tight band explosion never covers."""
    import math

    from gmall_spark.operators.joins import range_join

    grid, hi = 0.7, 3.5  # hi is the exact fp product 0.7 * 5
    v = math.nextafter(hi, 0.0)  # largest double strictly below hi
    # the hazard this guards: the fact's cell rounds UP past the band's
    # tight last cell ceil(hi/grid)-1 == 4
    assert math.floor(v / grid) == math.ceil(hi / grid) == 5
    facts = spark.createDataFrame([(1, v)], "id int, v double")
    bands = spark.createDataFrame([("a", 0.0, hi)], "band string, lo double, hi double")
    got = range_join(facts, bands, "v", "lo", "hi", grid=grid).collect()
    assert [(r["id"], r["band"]) for r in got] == [(1, "a")]


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    """Z-ordered files must have narrow per-file min/max ranges on BOTH
    z-columns (parquet stats prune either predicate); a plain single-column
    sort clusters only its leading column."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from gmall_spark.sinks.batch import zorder_write

    df = (
        spark.range(40_000)
        .withColumn("a", (F.hash("id") % 10_000 + 10_000) % 10_000)
        .withColumn("b", (F.hash("id", "id") % 10_000 + 10_000) % 10_000)
    )
    path = str(tmp_path / "z")
    zorder_write(df, path, ["a", "b"], n_files=16)

    def _col_stat(rg, name):
        for i in range(rg.num_columns):
            c = rg.column(i)
            if c.path_in_schema == name:
                return c.statistics
        raise KeyError(name)

    def file_span(p, col):
        spans = []
        for f in sorted(os.listdir(p)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(p, f)).metadata
            los, his = [], []
            for i in range(md.num_row_groups):
                st = _col_stat(md.row_group(i), col)
                los.append(st.min)
                his.append(st.max)
            spans.append(max(his) - min(los))
        return sum(spans) / len(spans)

    # both dimensions cluster: per-file span well below the 10k global range
    assert file_span(path, "a") < 5_000
    assert file_span(path, "b") < 5_000
    # data intact
    assert spark.read.parquet(path).count() == 40_000


def test_asof_join_rejects_invalid_contracts(spark):
    import pytest as _pytest

    from gmall_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, "a")], "k int, ts int, lv string")
    right_same_ts = spark.createDataFrame([(1, 5)], "k int, ts int")
    with _pytest.raises(ValueError, match="named differently"):
        asof_join(left, right_same_ts, "k", "ts", "ts")
    right_collide = spark.createDataFrame([(1, 5, "x")], "k int, rt int, lv string")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right_collide, "k", "ts", "rt")
    right_ok = spark.createDataFrame([(1, 5)], "k int, rt int")
    with _pytest.raises(ValueError, match="backward|forward"):
        asof_join(left, right_ok, "k", "ts", "rt", direction="nearest")


def test_asof_enrich_stream_rejects_invalid_contracts(spark, monkeypatch):
    """Build-time validation mirrors batch asof_join — without it these
    surface as a KeyError inside an executor on the first micro-batch
    (merge_asof suffixes colliding columns), not at build time."""
    import pytest as _pytest

    from gmall_spark.extras import similarity
    from gmall_spark.streaming.pipelines import asof_enrich_stream

    stream = spark.createDataFrame([(1, 10, "a")], "k int, ts int, sv string")
    ref_same_ts = spark.createDataFrame([(1, 5, "x")], "k int, ts int, rv string")
    with _pytest.raises(ValueError, match="distinct timestamp"):
        asof_enrich_stream(stream, ref_same_ts, on="k", left_ts="ts", right_ts="ts")
    ref_collide = spark.createDataFrame([(1, 5, "x")], "k int, rt int, sv string")
    with _pytest.raises(ValueError, match="collide"):
        asof_enrich_stream(stream, ref_collide, on="k", left_ts="ts", right_ts="rt")
    # dim-size guard: same hard-error contract as the ANN broadcast baseline
    monkeypatch.setattr(similarity, "MAX_BROADCAST_INDEX_ROWS", 2)
    ref_big = spark.createDataFrame(
        [(i, i, float(i)) for i in range(5)], "k int, rt int, rv double"
    )
    with _pytest.raises(ValueError, match="range-partition"):
        asof_enrich_stream(stream, ref_big, on="k", left_ts="ts", right_ts="rt")


def test_compact_parquet_copy_swap_never_renames(spark, tmp_path, monkeypatch):
    """swap='copy' is the object-store path: it must use only list/copy/
    delete primitives — an os.rename/shutil.move anywhere in the swap is a
    bug (object stores have no rename). The shim makes rename raise, so the
    test fails loudly if the copy path ever regresses to it."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from gmall_spark.sinks.batch import compact_parquet

    path = str(tmp_path / "objstore")
    spark.range(5_000).withColumn("v", F.col("id") * 3).repartition(32).write.parquet(path)

    def no_rename(*a, **kw):
        raise AssertionError("rename-less filesystem: os.rename called in copy swap")

    monkeypatch.setattr(os, "rename", no_rename)
    monkeypatch.setattr(os, "renames", no_rename)
    monkeypatch.setattr(shutil, "move", no_rename)

    n_after = compact_parquet(spark, path, target_mb=256, swap="copy")
    assert n_after == 1
    out = spark.read.parquet(path)
    assert out.count() == 5_000
    assert out.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(5_000))
    # no leftovers: backup and tmp dirs were cleaned after the verify
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__compacting")


def test_compact_parquet_copy_swap_failure_leaves_backup(spark, tmp_path):
    """If verification fails mid-swap, the backup survives as the
    authoritative copy and the re-entrancy guard refuses the next run —
    the documented recovery contract."""
    import os

    import pytest

    from pyspark.sql import functions as F

    import gmall_spark.sinks.batch as B

    path = str(tmp_path / "objstore_fail")
    spark.range(1_000).withColumn("v", F.col("id")).repartition(4).write.parquet(path)

    class Boom(RuntimeError):
        pass

    # fail the step-3 verify only (the copies themselves succeed)
    class FakeSpark:
        class read:  # noqa: N801 — mimic spark.read.parquet
            @staticmethod
            def parquet(p):
                raise Boom("verification read fails")

    tmp = path + "__compacting"
    old = path + "__old"
    spark.read.parquet(path).repartition(1).write.parquet(tmp)
    with pytest.raises(Boom):
        B.swap_parquet_dirs_copy(FakeSpark, path, tmp, old)
    # original data restored (or backup left); either way rows are intact
    restored = spark.read.parquet(path)
    assert restored.count() == 1_000
    assert not os.path.exists(old)  # clean restore succeeded here
    # a clean restore must also clear tmp — a leftover __compacting dir
    # would trip the re-entrancy guard and refuse every later run
    assert not os.path.exists(tmp)
    n = B.compact_parquet(spark, path, target_mb=256, swap="copy")
    assert n >= 1  # the next compaction run is accepted after recovery


def test_pack_concat_chop_invariants(spark):
    """Concat-and-chop packing: (a) per-doc emitted tokens equal the doc's
    token count (nothing lost or duplicated at boundaries), (b) every bin
    except the last holds exactly PACK_CAP tokens (windows are FULL — the
    property pretraining packing exists for), (c) bins are contiguous."""
    from gmall_spark.extras.queries import PACK_CAP, pack_concat_chop

    out = pack_concat_chop(spark, SF).collect()
    per_doc: dict[int, int] = {}
    per_bin: dict[int, int] = {}
    for r in out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_tok
        per_bin[r.bin] = per_bin.get(r.bin, 0) + r.n_tok

    docs = load_table(spark, SF, "documents")
    toks = {
        r.doc_id: r.tok
        for r in docs.selectExpr(
            "doc_id", "size(filter(split(trim(text), ' '), w -> w != '')) AS tok"
        ).collect()
        if r.tok > 0
    }
    assert per_doc == toks
    bins = sorted(per_bin)
    assert bins == list(range(len(bins)))  # contiguous from 0
    for b in bins[:-1]:
        assert per_bin[b] == PACK_CAP, (b, per_bin[b])
    assert 0 < per_bin[bins[-1]] <= PACK_CAP
