"""Round-7 entry semantics pinned against independent models (the oracle
suite hash-compares the same entries against DuckDB; these assert the
invariants a hash match alone would not explain): the distributed prefix
sum vs the single-partition window it replaces, weighted-draw interval
membership, AUC vs the O(n²) pairwise definition, OLS vs numpy's least
squares, k-anonymity completeness, and rolling-active-user monotonicity."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from pyspark.sql import functions as F

import gmall_spark.extras.queries  # noqa: F401  (registers extras entries)
from gmall_spark.operators.prefix import prefix_sum
from gmall_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _scan_frame(spark, n=5000):
    # deterministic values + a non-trivial bucket layout (buckets of ~37 rows)
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.col("id") * 2654435761, F.lit(1000)) + 1).alias("v"),
    )


def test_prefix_sum_matches_single_partition_window(spark):
    df = _scan_frame(spark)
    got = (
        prefix_sum(df, ["k"], "v", (F.col("k") / 37).cast("long"), out_col="cum")
        .orderBy("k")
        .toPandas()
    )
    expect = got["v"].cumsum()
    assert (got["cum"] == expect).all()


def test_prefix_sum_exclusive_is_shifted_inclusive(spark):
    df = _scan_frame(spark, n=999)
    pdf = (
        prefix_sum(
            df, ["k"], "v", (F.col("k") / 64).cast("long"), out_col="lo", inclusive=False
        )
        .orderBy("k")
        .toPandas()
    )
    assert pdf["lo"].iloc[0] == 0
    assert (pdf["lo"] == pdf["v"].cumsum() - pdf["v"]).all()


def test_prefix_sum_windows_are_bucket_partitioned(spark):
    """The data-sized window must be PARTITIONED (by the bucket); only the
    |buckets|-row offset table may use the global window. A regression to a
    single-partition scan over the data is the exact failure this operator
    exists to prevent."""
    df = _scan_frame(spark)
    plan = (
        prefix_sum(df, ["k"], "v", (F.col("k") / 37).cast("long"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the within-bucket window keys its partitioning on __bucket
    assert "__bucket" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_weighted_sample_draws_land_in_their_interval(spark):
    out = QUERIES["weighted_sample"](spark, SF01).toPandas().sort_values("draw_id")
    docs = duckdb.sql(
        f"SELECT doc_id, n_chars FROM '{SF01}/documents.parquet' ORDER BY doc_id"
    ).df()
    lo = docs["n_chars"].cumsum() - docs["n_chars"]
    intervals = dict(zip(docs["doc_id"], zip(lo, lo + docs["n_chars"])))
    total = int(docs["n_chars"].sum())
    assert len(out) == 64 and out["draw_id"].tolist() == list(range(64))
    for _, r in out.iterrows():
        a, b = intervals[r["doc_id"]]
        assert 0 <= r["target"] < total
        assert a <= r["target"] < b


def test_auc_matches_pairwise_definition(spark):
    row = QUERIES["auc_score"](spark, SF).first()
    ev = duckdb.sql(
        f"SELECT value, event_type = 'purchase' AS y FROM '{SF}/events.parquet'"
    ).df()
    pos = ev.loc[ev["y"], "value"].to_numpy()
    neg = ev.loc[~ev["y"], "value"].to_numpy()
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert row["num2"] == 2 * int(wins) + int(ties)
    assert abs(row["auc"] - (wins + ties / 2) / (len(pos) * len(neg))) < 1e-12


def test_ols_brand_matches_numpy_lstsq(spark):
    out = QUERIES["ols_brand"](spark, SF).toPandas().set_index("p_brand")
    raw = duckdb.sql(
        f"""SELECT p.p_brand, l.l_quantity AS x,
                   round(l.l_extendedprice * 100) AS y
            FROM '{SF}/lineitem.parquet' l JOIN '{SF}/part.parquet' p
              ON l.l_partkey = p.p_partkey"""
    ).df()
    for brand, g in raw.groupby("p_brand"):
        slope, intercept = np.polyfit(g["x"], g["y"], 1)
        r = out.loc[brand]
        assert r["n"] == len(g)
        assert abs(r["slope_cents"] - slope) < 1e-6 * max(1, abs(slope))
        assert abs(r["intercept_cents"] - intercept) < 1e-6 * max(1, abs(intercept))


def test_k_anonymity_is_exactly_the_small_groups(spark):
    out = QUERIES["k_anonymity"](spark, SF01).toPandas()
    truth = duckdb.sql(
        f"""SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   count(*) AS k
            FROM '{SF01}/customer.parquet' GROUP BY 1, 2, 3"""
    ).df()
    assert (out["k"] < 5).all()
    small = truth[truth["k"] < 5]
    assert len(out) == len(small)
    merged = out.merge(
        small, on=["c_nationkey", "c_mktsegment", "bal_band"], suffixes=("", "_t")
    )
    assert len(merged) == len(small) and (merged["k"] == merged["k_t"]).all()


def test_rolling_active_users_monotone_horizons(spark):
    out = QUERIES["rolling_active_users"](spark, SF).toPandas()
    assert len(out) > 0
    assert (out["dau"] <= out["wau"]).all()
    assert (out["wau"] <= out["mau"]).all()
    # on the first observed day all three horizons see the same single day
    first = out.sort_values("day").iloc[0]
    assert first["dau"] == first["wau"] == first["mau"]


def test_jdbc_roundtrip_reads_in_parallel(spark):
    """The registry entry must produce the PARTITIONED jdbc read — eight
    ranged queries, not one connection draining the table."""
    import tempfile

    url = f"jdbc:derby:{tempfile.mkdtemp(prefix='gmall_jdbct_')}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    c = spark.read.parquet(f"{SF}/customer.parquet")
    (
        c.write.format("jdbc").option("url", url).option("dbtable", "t")
        .option("driver", driver).save()
    )
    lo, hi = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    back = (
        spark.read.format("jdbc").option("url", url).option("dbtable", "t")
        .option("driver", driver).option("partitionColumn", "c_custkey")
        .option("lowerBound", str(lo)).option("upperBound", str(hi + 1))
        .option("numPartitions", "8").load()
    )
    assert back.rdd.getNumPartitions() == 8
    assert back.count() == c.count()


def test_seasonal_forecast_holdout_shape(spark):
    out = QUERIES["seasonal_forecast"](spark, SF01).toPandas()
    # exactly the last 7 observed days, one row each
    assert len(out) == 7 and out["day"].is_unique
    assert (out["dow"].between(1, 7)).all()
    # the error column is literally |actual - num/den|
    err = (out["actual_cents"] - out["pred_num"] / out["pred_den"]).abs()
    assert np.allclose(out["abs_err"], err)
    # same weekday -> same model row
    assert (out.groupby("dow")["pred_num"].nunique() == 1).all()


def test_dedup_recall_audit_counts_are_consistent(spark):
    r = QUERIES["dedup_recall_audit"](spark, SF01).first()
    # the exact-truth pair count and the sketch pair count reconstruct from
    # the confusion counts; recall/precision are their exact ratios
    assert r["tp"] + r["fn"] > 0  # corpus has real near-dup pairs
    assert abs(r["recall"] - r["tp"] / (r["tp"] + r["fn"])) < 1e-12
    if r["tp"] + r["fp"]:
        assert abs(r["precision"] - r["tp"] / (r["tp"] + r["fp"])) < 1e-12


def test_dynamic_partition_pruning_fires_on_dim_filtered_join(spark, tmp_path):
    """A dt-partitioned fact joined to a FILTERED dim must plan a dynamic
    pruning subquery on the fact scan — at 100 TB this is the difference
    between scanning 2 partitions and scanning 3 years of them. Static
    pruning (literal predicates) is covered in test_scale_ops; this pins
    the runtime variant Spark derives from the dim side."""
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    fact = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_id", "value")
    fact.write.mode("overwrite").partitionBy("dt").parquet(str(tmp_path / "fact"))
    back = spark.read.parquet(str(tmp_path / "fact"))
    dim = fact.select("dt").distinct().limit(2).withColumn("open", F.lit(1))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    dimb = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("open") == 1)
    joined = back.join(dimb, "dt").groupBy("dt").count()
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan


def test_dynamic_partition_overwrite_touches_only_its_partitions(spark, tmp_path):
    """The backfill mechanism: overwrite-with-dynamic replaces exactly the
    partitions present in the incoming frame; every other directory's files
    are byte-identical afterwards (static mode would truncate them all)."""
    import os

    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "p string, v long"
    )
    df.write.mode("overwrite").partitionBy("p").parquet(base)

    def listing(part):
        d = f"{base}/p={part}"
        return sorted(
            (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    before_a, before_b = listing("a"), listing("b")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.createDataFrame([("c", 30)], "p string, v long").write.mode(
            "overwrite"
        ).partitionBy("p").parquet(base)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert listing("a") == before_a and listing("b") == before_b
    back = {r["p"]: r["v"] for r in spark.read.parquet(base).collect()}
    assert back == {"a": 1, "b": 2, "c": 30}


def test_backfill_entry_repairs_exactly_one_day(spark):
    out = QUERIES["backfill_partition_overwrite"](spark, SF01).toPandas()
    assert out["repaired"].sum() == 1
    rep = out[out["repaired"]].iloc[0]
    # repaired day gained exactly +1 cent per event
    truth = duckdb.sql(
        f"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, count(*) AS n,
                   sum(CAST(round(value*100) AS BIGINT)) AS cents
            FROM '{SF01}/events.parquet' GROUP BY 1"""
    ).df().set_index("dt")
    assert rep["cents"] == truth.loc[rep["dt"], "cents"] + truth.loc[rep["dt"], "n"]


def test_prefix_max_matches_cummax(spark):
    df = _scan_frame(spark)
    from gmall_spark.operators.prefix import prefix_max

    got = (
        prefix_max(df, ["k"], "v", (F.col("k") / 37).cast("long"), out_col="m")
        .orderBy("k")
        .toPandas()
    )
    assert (got["m"] == got["v"].cummax()).all()
    excl = (
        prefix_max(
            df, ["k"], "v", (F.col("k") / 37).cast("long"), out_col="m", inclusive=False
        )
        .orderBy("k")
        .toPandas()
    )
    assert pd.isna(excl["m"].iloc[0])  # empty prefix stays NULL
    assert (excl["m"].iloc[1:].to_numpy() == got["m"].iloc[:-1].to_numpy()).all()


def test_pareto_frontier_is_exactly_the_undominated_set(spark):
    out = QUERIES["pareto_frontier"](spark, SF01).toPandas()
    parts = duckdb.sql(
        f"""SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS price,
                   p_size AS size FROM '{SF01}/part.parquet'"""
    ).df()
    price = parts["price"].to_numpy()
    size = parts["size"].to_numpy()
    dominated = set()
    for i in range(len(parts)):
        if ((price < price[i]) & (size > size[i])).any():
            dominated.add(parts["p_partkey"].iloc[i])
    expect = set(parts["p_partkey"]) - dominated
    assert set(out["p_partkey"]) == expect


def test_task_retry_survives_transient_executor_failure(tmp_path):
    """The 1000-executor contract: a task that dies once (OOM-kill, spot
    preemption, flaky node) must not fail the job — Spark reschedules it.
    local[N] defaults to maxFailures=1 (any task failure kills the job), so
    this drives a separate local[4,3] session in a subprocess where a
    mapInPandas kernel hard-fails every partition's FIRST attempt and
    succeeds on retry; the job must still produce complete, correct output."""
    import subprocess
    import sys
    import textwrap

    marker = tmp_path / "attempts"
    marker.mkdir()
    script = textwrap.dedent(f"""
        import os
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[4,3]")
                 .config("spark.ui.enabled", "false").getOrCreate())

        def flaky(batches):
            from pyspark import TaskContext
            ctx = TaskContext.get()
            flag = os.path.join({str(marker)!r}, f"p{{ctx.partitionId()}}")
            if not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("simulated transient executor failure")
            for pdf in batches:
                yield pdf

        df = spark.range(0, 1000, 1, 4).mapInPandas(flaky, "id long")
        assert df.count() == 1000
        total = df.groupBy().sum("id").first()[0]
        assert total == 499500, total
        print("RETRY_OK")
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "RETRY_OK" in out.stdout, out.stderr[-2000:]
    # every partition recorded its failed first attempt
    import os

    assert len(os.listdir(marker)) == 4


def test_bucketed_cojoin_plans_no_exchange(spark):
    """The entry's join must read co-located buckets: zero shuffle
    exchanges between the two bucketed scans and the join (the write-side
    shuffle already happened at bucket_table time)."""
    df = QUERIES["bucketed_cojoin"](spark, SF01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("HashAggregate")[-1]  # below the final agg
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # no ShuffleExchange may feed the join inputs (bucketed scan replaces it)
    assert "Exchange hashpartitioning" not in join_part, join_part


def test_bucketed_cojoin_sweeps_dead_pid_orphans(spark):
    """Dead processes' final bucketed pairs are bare warehouse dirs (no
    catalog entry to DROP); the invocation-time sweep must reclaim them by
    the pid embedded in the name, and must NOT touch a live pid's pair."""
    import os
    from urllib.parse import urlparse

    from gmall_spark.queries import _sweep_dead_bucket_tables

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    os.makedirs(warehouse, exist_ok=True)
    dead = os.path.join(warehouse, "bkt_lineitem_3fffff_deadbeef")  # pid 4194303
    live = os.path.join(warehouse, f"bkt_orders_{os.getpid():x}_cafebabe")
    os.makedirs(dead, exist_ok=True)
    os.makedirs(live, exist_ok=True)
    try:
        _sweep_dead_bucket_tables(spark)
        assert not os.path.exists(dead), "dead-pid orphan must be reclaimed"
        assert os.path.exists(live), "live-pid pair must survive"
    finally:
        import shutil

        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)
