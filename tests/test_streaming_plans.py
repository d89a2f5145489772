"""Streaming plan lint — the streaming twin of
test_plans.py::test_every_batch_entry_is_scale_clean.

A streaming frame can't be physically planned outside IncrementalExecution
(verified: executedPlan raises even with unsupportedOperationCheck off), so
the lint intercepts ``DataStreamWriter.start`` to capture each entry's
DataFrame PRE-start and asserts on its ANALYZED logical plan:

- it is actually a streaming plan (a silently-batch rewrite would still
  pass the oracle, because availableNow drains everything);
- the stateful-operator fingerprint — watermarks, streaming Aggregates,
  Deduplicates, stream-stream Joins, keyed-pandas-state and
  transformWithState nodes — matches the reviewed expectation. A changed
  count means the entry's state layout changed (e.g. a dedup dropped out
  of a plan, a second watermark appeared) and must be re-reviewed;
- no cross join (the logical marker of the batch lint's CartesianProduct);
- the state width the entry runs at is the reviewed knob:
  ``bytes`` = session.stream_state_width() of the captured frame's source
  bytes (JVM state, bucketed keyed state and the topology: per-partition
  store open+commit dominates), ``pandas`` = session.stream_shuffle_width()
  (per-key pandas state: one Python call per entity, parallel Python work
  dominates), ``session`` = inherits the session conf (direct-writeStream
  entries that pin nothing).

The table was generated from the r5 capture and hand-reviewed; it is a
snapshot on purpose — plan drift in ANY streaming entry fails here first.
Capture aborts each entry at its FIRST start() call, so multi-query
topologies (warehouse_e2e) lint their first stage only.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()

MARKERS = (
    "EventTimeWatermark",
    "Deduplicate",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPySpark",
    "Aggregate",
    "Join",
    "MapInPandas",
)

# entry -> (ops fingerprint on the analyzed plan, width knob at start time)
EXPECTED: dict[str, tuple[dict[str, int], str]] = {
    "streaming_anti_join": ({"EventTimeWatermark": 2, "Join": 1}, "bytes"),
    "streaming_asof_attrib": ({"MapInPandas": 1}, "bytes"),
    "streaming_bounce_detect": (
        {"EventTimeWatermark": 1, "FlatMapGroupsInPandasWithState": 1},
        "pandas",
    ),
    "streaming_cdc_route": ({"Aggregate": 1, "Join": 1}, "bytes"),
    "streaming_chained_stateful": (
        {"EventTimeWatermark": 2, "Aggregate": 1, "Join": 1},
        "bytes",
    ),
    "streaming_cms_sketch": ({"Aggregate": 1}, "bytes"),
    # Deduplicate 3→2 in r6: shingle_set's post-explode global distinct
    # became a per-row array_distinct inside the scan (see its docstring),
    # so the benchmark-set build lost its logical Deduplicate node; the
    # STREAMING side's state layout is unchanged (entry re-verified
    # against its oracle, CORRECTNESS_full_r11.json).
    "streaming_decontaminate": ({"Deduplicate": 2, "Aggregate": 1, "Join": 1}, "bytes"),
    "streaming_dedup_union": ({"EventTimeWatermark": 1, "Deduplicate": 1}, "bytes"),
    # Aggregate 3 = the STATIC corpus index build (minhash min-per-seed +
    # band-key concat) riding in the analyzed plan, plus the one streaming
    # gate count; Deduplicate 1 = pair-level distinct (multi-band collisions
    # count docs, not bands). The stream side is signed per-row in an Arrow
    # kernel (scalar pandas_udf — no MapInPandas node).
    "streaming_neardup_gate": ({"Deduplicate": 1, "Aggregate": 3, "Join": 1}, "bytes"),
    "streaming_dim_enrich": (
        {"EventTimeWatermark": 1, "Aggregate": 1, "Join": 2},
        "bytes",
    ),
    "streaming_dq_audit": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    "streaming_dynamic_session": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    "streaming_ewma_user": ({"FlatMapGroupsInPandasWithState": 1}, "pandas"),
    "streaming_full_outer_join": ({"EventTimeWatermark": 2, "Join": 1}, "bytes"),
    "streaming_gapfill": (
        {"EventTimeWatermark": 1, "FlatMapGroupsInPandasWithState": 1},
        "pandas",
    ),
    "streaming_hll_windows": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    "streaming_is_new_repair": ({"FlatMapGroupsInPandasWithState": 1}, "pandas"),
    "streaming_keyword_stats": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    # late_drop_audit drives its own named query (observe() metrics need the
    # StreamingQueryListener path), so it inherits the session conf
    "streaming_late_drop_audit": ({"EventTimeWatermark": 1, "Aggregate": 1}, "session"),
    "streaming_manifest_sink": ({}, "session"),  # pass-through stage+commit sink
    "streaming_mb_bounce": (
        {"EventTimeWatermark": 1, "FlatMapGroupsInPandasWithState": 1},
        "pandas",
    ),
    "streaming_mb_bucketed_bounce": (
        {"EventTimeWatermark": 1, "FlatMapGroupsInPandasWithState": 1},
        "bytes",
    ),
    "streaming_mb_ewma": ({"FlatMapGroupsInPandasWithState": 1}, "pandas"),
    "streaming_mb_interval_join": ({"EventTimeWatermark": 2, "Join": 1}, "bytes"),
    "streaming_mb_is_new": ({"FlatMapGroupsInPandasWithState": 1}, "pandas"),
    "streaming_mb_unique_visit": ({"FlatMapGroupsInPandasWithState": 1}, "pandas"),
    "streaming_mb_visitor_stats": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    "streaming_observed_metrics": ({}, "session"),  # observe() is metric-only
    "streaming_order_wide": ({"EventTimeWatermark": 2, "Join": 2}, "bytes"),
    "streaming_outer_interval_join": ({"EventTimeWatermark": 2, "Join": 1}, "bytes"),
    "streaming_payment_wide": ({"EventTimeWatermark": 2, "Join": 1}, "bytes"),
    "streaming_product_stats": ({"EventTimeWatermark": 1, "Aggregate": 2}, "bytes"),
    "streaming_province_uv": (
        {"EventTimeWatermark": 1, "Deduplicate": 1, "Aggregate": 1},
        "bytes",
    ),
    "streaming_scd2_enrich": ({"Join": 1}, "bytes"),  # broadcast dim side, no watermark
    # MapInPandas 1 = the STATIC corpus LSH signature index build riding in
    # the analyzed plan; the arriving vector is signed per-row in a scalar
    # Arrow kernel (no node). Deduplicate = multi-table pair collapse,
    # Aggregate = the one gate count.
    "streaming_semantic_gate": (
        {"Deduplicate": 1, "Aggregate": 1, "Join": 1, "MapInPandas": 1},
        "bytes",
    ),
    "streaming_semi_join": ({"EventTimeWatermark": 2, "Join": 1}, "bytes"),
    "streaming_session_stats": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    "streaming_bucketed_uv": ({"FlatMapGroupsInPandasWithState": 1}, "bytes"),
    "streaming_mb_bucketed_is_new": (
        {"FlatMapGroupsInPandasWithState": 1},
        "bytes",
    ),
    "streaming_mb_bucketed_uv": ({"FlatMapGroupsInPandasWithState": 1}, "bytes"),
    "streaming_tws_bounce": (
        {"EventTimeWatermark": 1, "TransformWithStateInPySpark": 1},
        "pandas",
    ),
    "streaming_tws_is_new": ({"TransformWithStateInPySpark": 1}, "pandas"),
    "streaming_union_stats": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    "streaming_unique_visit": ({"FlatMapGroupsInPandasWithState": 1}, "pandas"),
    "streaming_update_counts": ({"Aggregate": 1}, "bytes"),
    "streaming_value_band": (
        {"EventTimeWatermark": 1, "Aggregate": 1, "Join": 1},
        "bytes",
    ),
    "streaming_visitor_stats": ({"EventTimeWatermark": 1, "Aggregate": 1}, "bytes"),
    # first stage of the 4-query DWD->DWM->DWS topology: stateless filter,
    # started at the one width the topology sizes from its source bytes
    "streaming_warehouse_e2e": ({}, "bytes"),
    "streaming_warehouse_e2e_append": ({}, "bytes"),
}

_SENTINEL_WIDTH = "7"  # never equals either knob; detects 'inherits session'


class PlanCaptured(Exception):
    def __init__(self, df, width: str):
        self.df, self.width = df, width


def _capture(spark, name: str):
    """Run entry `name` until its first DataStreamWriter.start; return the
    pre-start DataFrame and the shuffle width in force at start time."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def fake_start(self, *a, **k):
        raise PlanCaptured(
            self._df, self._df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )

    orig = DataStreamWriter.start
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    DataStreamWriter.start = fake_start
    spark.conf.set("spark.sql.shuffle.partitions", _SENTINEL_WIDTH)
    try:
        QUERIES[name](spark, SF)
    except PlanCaptured as pc:
        return pc.df, pc.width
    finally:
        DataStreamWriter.start = orig
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    raise AssertionError(f"{name} never called DataStreamWriter.start")


def test_expected_table_covers_every_streaming_entry():
    streaming = {n for n in QUERIES if n.startswith("streaming_")}
    assert streaming == set(EXPECTED), (
        f"missing from EXPECTED: {sorted(streaming - set(EXPECTED))}; "
        f"stale in EXPECTED: {sorted(set(EXPECTED) - streaming)}"
    )


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_streaming_entry_plan_fingerprint(spark, name):
    from gmall_spark.session import stream_shuffle_width, stream_state_width
    from gmall_spark.streaming.pipelines import _stream_input_bytes

    df, width = _capture(spark, name)
    assert df.isStreaming, f"{name}: captured frame is not a streaming plan"

    plan = df._jdf.queryExecution().analyzed().toString()
    got = {m: plan.count(m) for m in MARKERS}
    got = {k: v for k, v in got.items() if v}
    want_ops, want_knob = EXPECTED[name]
    assert got == want_ops, (
        f"{name}: stateful-operator fingerprint drifted: got {got}, "
        f"expected {want_ops} — re-review the entry's state layout"
    )
    assert "Join Cross" not in plan, f"{name}: cross join in streaming plan"

    knob_widths = {
        "bytes": str(stream_state_width(_stream_input_bytes(df))),
        "pandas": str(stream_shuffle_width()),
        "session": _SENTINEL_WIDTH,
    }
    assert width == knob_widths[want_knob], (
        f"{name}: started at shuffle width {width}, expected the "
        f"{want_knob!r} knob ({knob_widths[want_knob]})"
    )
