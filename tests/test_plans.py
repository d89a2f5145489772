"""Physical-plan regression tests (the 100 TB contract): broadcasts stay
broadcasts, filters reach the parquet scan, column pruning holds, expensive
expressions aren't duplicated. A change that silently degrades any of these
passes correctness but dies at scale — so it fails here instead."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from gmall_spark.plans import assert_broadcast, assert_pushdown, physical_plan, scan_info

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


def test_order_wide_broadcasts_dims(spark):
    df = QUERIES["order_wide"](spark, SF)
    assert_broadcast(df, at_least=3)  # customer, nation, region


def test_product_stats_broadcasts_part(spark):
    df = QUERIES["product_stats"](spark, SF)
    assert_broadcast(df, at_least=1)


def test_pricing_summary_filter_pushdown(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    assert_pushdown(df, "l_shipdate")


def test_visitor_stats_prunes_columns(spark):
    df = QUERIES["visitor_stats"](spark, SF)
    scans = scan_info(df)
    assert scans, physical_plan(df)
    for s in scans:
        # props/value-independent dims must not drag unused columns through
        assert "props" not in s["read_schema"], s["read_schema"]


def test_visitor_stats_partial_agg(spark):
    # Catalyst must plan partial/final aggregation (the reference hand-wrote
    # this as ReduceFunction incremental agg; here it's free — keep it so)
    plan = physical_plan(QUERIES["visitor_stats"](spark, SF))
    assert plan.count("HashAggregate") >= 2, plan


def test_cdc_route_parses_json_once(spark):
    plan = physical_plan(QUERIES["cdc_route"](spark, SF))
    assert plan.count("from_json") <= 2, f"from_json duplicated:\n{plan}"


def test_interval_join_is_equi_join_not_nested_loop(spark):
    # the range conjunct must NOT demote the join to nested-loop: the equi
    # key drives a hash/sort-merge join, the interval is a post-join filter
    plan = physical_plan(QUERIES["order_wide"](spark, SF))
    assert "NestedLoop" not in plan, plan


def test_union_stats_shares_scan_shape(spark):
    # three branches of one source table: each branch's scan must prune to
    # its needed columns (no SELECT * scans)
    for s in scan_info(QUERIES["union_stats"](spark, SF)):
        assert "props" not in s["read_schema"]


def test_lsh_ann_is_distributed_no_eager_collect(spark):
    """Building the LSH ANN plan must not run any Spark job (the r1 version
    collected the whole index to the driver at construction time — a hard
    wall at 100 TB). The plan must be a lazy DataFrame whose candidate stage
    is an equi-join, not a nested loop."""
    from gmall_spark.extras import similarity
    from gmall_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = similarity.lsh_ann(emb, "vec_id", "embedding")
    # signatures() peeks one row for dims — allow that single tiny job, but
    # the index/bucket build itself must stay lazy
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 1, "lsh_ann ran eager jobs while building the plan"
    plan = physical_plan(df)
    assert "NestedLoop" not in plan, plan
    # bucket verify = one hash-partitioned shuffle into (table, sig) groups
    # feeding the Arrow kernel — never an n² pair join
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "hashpartitioning(table" in plan, plan


def test_ann_verify_stage_shared_and_ranked(spark):
    from gmall_spark.extras import similarity
    from gmall_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = physical_plan(similarity.ivf_ann(emb, "vec_id", "embedding"))
    # per-query top-k must be a window rank, not a driver-side sort
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_order_priority_semi_join_not_nested_loop(spark):
    # the date inequality is a residual on the equi-keyed semi join, not a
    # nested-loop demotion
    plan = physical_plan(QUERIES["order_priority_ct"](spark, SF))
    assert "NestedLoop" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_parts_supplier_broadcasts_part_and_anti_joins(spark):
    df = QUERIES["parts_supplier_ct"](spark, SF)
    assert_broadcast(df, at_least=1)
    assert "LeftAnti" in physical_plan(df)


def test_split_by_hash_is_shuffle_free(spark):
    # a row's split must be computable from the row alone — any Exchange in
    # this plan means someone added a shuffle to a pure projection
    plan = physical_plan(QUERIES["split_by_hash"](spark, SF))
    assert "Exchange" not in plan, plan


def test_dedup_chunks_single_shuffle(spark):
    # explode + hash + one groupBy: exactly one shuffle (partial/final agg
    # around a single Exchange). Counted on the raw plan tree — formatted
    # explain lists every node twice (tree + details).
    df = QUERIES["dedup_chunks"](spark, SF)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("Exchange hashpartitioning") == 1, tree


def test_vocab_build_partial_agg_no_expand(spark):
    # two-level agg (doc,token)->(token) must keep map-side partial
    # aggregation and must NOT plan an Expand (no mixed distinct aggregates)
    plan = physical_plan(QUERIES["vocab_build"](spark, SF))
    assert plan.count("HashAggregate") >= 2, plan
    assert "Expand" not in plan, plan


def test_tf_df_terms_broadcasts_df_table(spark):
    df = QUERIES["tf_df_terms"](spark, SF)
    assert_broadcast(df, at_least=1)


def test_profile_table_single_scan(spark):
    # every stat folds into one aggregation over one scan
    scans = scan_info(QUERIES["profile_table"](spark, SF))
    assert len(scans) == 1, scans


def test_text_repetition_shuffle_free(spark):
    plan = physical_plan(QUERIES["text_repetition"](spark, SF))
    assert "Exchange" not in plan, plan


# --- TPC-H-shape completion (queries_tpch.py) ------------------------------


def test_volume_shipping_broadcasts_dims_no_nested_loop(spark):
    df = QUERIES["volume_shipping"](spark, SF)
    assert_broadcast(df, at_least=3)  # supplier + both nation roles
    assert "NestedLoop" not in physical_plan(df).replace(
        "BroadcastNestedLoopJoin", ""
    )


def test_market_share_broadcasts_all_dims(spark):
    # part, cust-nation, region, supplier, supp-nation
    assert_broadcast(QUERIES["market_share"](spark, SF), at_least=5)


def test_min_cost_supplier_part_filter_pushdown(spark):
    df = QUERIES["min_cost_supplier"](spark, SF)
    assert_pushdown(df, "p_size")
    # window-min decorrelation: the candidate set is built from ONE
    # lineitem rollup, not one scan per correlated probe
    lineitem_scans = [
        s for s in scan_info(df) if "l_partkey" in s["read_schema"]
    ]
    assert len(lineitem_scans) == 1, lineitem_scans


def test_product_type_profit_broadcasts(spark):
    # part, supplier, nation
    assert_broadcast(QUERIES["product_type_profit"](spark, SF), at_least=3)


def test_promo_revenue_shipdate_pushdown(spark):
    assert_pushdown(QUERIES["promo_revenue"](spark, SF), "l_shipdate")


def test_top_supplier_shipdate_pushdown(spark):
    assert_pushdown(QUERIES["top_supplier"](spark, SF), "l_shipdate")


def test_potential_promotion_single_rollup_scan(spark):
    # the per-part total is a window over the (supp, part) rollup — adding
    # it must NOT re-scan lineitem
    df = QUERIES["potential_promotion"](spark, SF)
    lineitem_scans = [
        s for s in scan_info(df) if "l_quantity" in s["read_schema"]
    ]
    assert len(lineitem_scans) == 1, lineitem_scans


def test_waiting_orders_no_cartesian(spark):
    # EXISTS/NOT-EXISTS decorrelated into a per-order rollup: no join in
    # the plan may degrade to a cartesian product
    plan = physical_plan(QUERIES["waiting_orders"](spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_sales_opportunity_anti_join_and_date_pushdown(spark):
    df = QUERIES["sales_opportunity"](spark, SF)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert_pushdown(df, "o_orderdate")


# --- registry-wide scale lint ----------------------------------------------

# entries whose plan legitimately contains a BroadcastNestedLoopJoin: the
# scalar-subquery pattern (cross join against a 1-row/1-k-row aggregate or a
# tiny literal table) — O(n) work, reviewed here by name so any NEW nested
# loop fails the lint until someone consciously adds it.
_SCALAR_CROSS_OK = {
    "important_parts",    # cross join vs the 1-row corpus-total aggregate
    "sales_opportunity",  # cross join vs the 1-row balance aggregate
    "lm_score",           # cross join vs the 1-row vocab-size aggregate
    "decontaminate_bloom",  # cross join vs the 1-row broadcast bloom mask
    "histogram_quantiles",  # cross join vs the 1-row global min/max bounds
    "bm25_topk",          # cross join vs the 1-row corpus-scalar aggregate
    "skew_report",        # cross join vs the 1-row key-total aggregate
    "gapfill_locf",       # cross join vs the 1-row global span (lo, hi) aggregate
    "nb_quality_filter",  # cross join vs the 1-row token-total/vocab aggregate
    "zorder_skipping",    # cross join vs the 1-row quantization-bounds aggregate
    "sketch_overlap",     # cross joins vs 1-row theta / raw-count / audit aggregates
    "delta_join_ivm",     # __AUDIT__ row: cross join vs the 1-row full-recompute aggregate
    "gdpr_erasure",       # per-table audit row: cross join vs the 1-row violations aggregate
    "weighted_sample",    # 1-row total-weight scalar + constant 64-row draw probe vs the CDF
    "seasonal_forecast",  # cross join vs the 1-row holdout-boundary aggregate
    "backfill_partition_overwrite",  # cross join vs the 1-row busiest-day aggregate
}


def test_every_batch_entry_is_scale_clean(spark):
    """No registry query may plan a CartesianProduct or a row-at-a-time
    Python UDF; nested loops only via the reviewed allowlist above.
    Streaming entries are excluded (their registry DataFrame is the
    materialized memory-sink table, not the streaming plan)."""
    from gmall_spark.plans import assert_scale_clean

    failures = []
    for name, fn in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        try:
            df = fn(spark, SF)
            assert_scale_clean(df, allow_nested_loop=name in _SCALAR_CROSS_OK)
        except AssertionError as exc:
            failures.append((name, str(exc)[:200]))
    assert not failures, failures


def test_hypertable_rollup_cascades_from_cache(spark):
    """Coarser grains must re-aggregate the persisted finer level, not
    recompute from raw: every union branch reads a cache
    (InMemoryTableScan). Removing any level's persist makes the lazy
    union recompute the finer aggregation from raw per grain and drops
    the cache scans — which is the regression this guards. (Raw-scan text
    counts are NOT asserted: cached-plan rendering inlines origin scans
    differently depending on session cache state.)"""
    df = QUERIES["hypertable_rollup"](spark, SF)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("InMemoryTableScan") >= 3, tree


def test_scalar_cross_allowlist_is_not_stale(spark):
    """Every _SCALAR_CROSS_OK entry must actually plan the nested loop it is
    excused for — otherwise the allowlist rots and silently excuses future
    regressions in entries that no longer need it."""
    from gmall_spark.plans import assert_scale_clean

    stale = []
    for name in sorted(_SCALAR_CROSS_OK):
        df = QUERIES[name](spark, SF)
        try:
            assert_scale_clean(df, allow_nested_loop=False)
            stale.append(name)  # passed WITHOUT the excuse -> excuse unused
        except AssertionError:
            pass
    assert not stale, f"allowlisted entries no longer plan a nested loop: {stale}"


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """The 100 TB knob between 'dim fits broadcast' and 'shuffle everything':
    when the build side is selective but too big to broadcast, Spark's
    runtime row-level filtering derives a bloom filter from the build side's
    join keys and applies it to the probe-side SCAN, so most fact rows die
    before the exchange. Local data is far below the production thresholds,
    so the test pins the MECHANISM by lowering them; on a cluster the
    defaults (10 GB probe / 10 MB build) gate it to genuinely big scans."""
    from pyspark.sql import functions as F

    from gmall_spark.session import conf_scope

    with conf_scope(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        l = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l["l_orderkey"] == o["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized, optimized
        assert "might_contain" in optimized, optimized


def test_lateral_topk_decorrelates_to_window_rank(spark):
    """The correlated LATERAL subquery must decorrelate into one shuffle +
    window rank — NOT a per-outer-row re-execution (nested loop)."""
    df = QUERIES["lateral_topk"](spark, SF)
    plan = physical_plan(df)
    assert "Window" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_unpivot_single_scan_expand(spark):
    """Native UNPIVOT must reshape via ONE scan + Expand, not a UNION ALL
    that re-scans lineitem once per measure."""
    df = QUERIES["unpivot_measures"](spark, SF)
    assert "Expand" in physical_plan(df)
    assert len(scan_info(df)) == 1, scan_info(df)
