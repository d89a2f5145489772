"""Topology-level crash/resume exactly-once, on the topology the registry
ships (topology.warehouse_topology: bucketed DWM state, append-mode DWS).

The per-query checkpoint tests (test_jdbc_sink, test_streaming_routing) prove
a SINGLE query resumes without duplicating output. This test proves the
composed warehouse topology does: four concurrent queries chained through
parquet handoffs (the reference's Kafka-topic decoupling, `BaseLogApp.java` →
`UniqueVisitApp.java`/`UserJumpDetailApp.java` → `VisitorStatsApp.java`) are
stopped MID-PIPELINE — upstream chunks processed, downstream state half-built,
in-flight batches aborted — then restarted from the same checkpoints, and the
final DWS output must equal the batch oracle exactly. A lost file, a replayed
micro-batch reaching a sink twice, state resuming at the wrong offset, or a
window emitted on both sides of the restart all break the equality.

Exactly-once here is the composition of two mechanisms this test exercises
end-to-end across a restart boundary:
  * file SOURCE offsets in each checkpoint (a half-processed directory resumes
    at the right file), and
  * file SINK manifests (_spark_metadata): an aborted batch's orphan parquet
    files are not listed, and batch reads of the handoff dir honor the
    manifest — so downstream never sees uncommitted upstream output.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

from pyspark.sql import functions as F

from gmall_spark.operators.stateful import dedup_daily, detect_bounce
from gmall_spark.sources import load_table
from gmall_spark.streaming.multibatch import chunk_events
from gmall_spark.streaming.topology import (
    PAGE_SCHEMA,
    _copy_chunks,
    _drain,
    _write_sentinel,
    warehouse_topology,
)

SF = "/root/testdata/sf0.001"
N_CHUNKS = 4


def test_topology_crash_resume_exactly_once(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    newest = _copy_chunks(chunk_events(spark, SF, N_CHUNKS), src)
    lo, hi = load_table(spark, SF, "events").agg(F.min("ts"), F.max("ts")).first()
    delay_secs = int((hi - lo).total_seconds()) + 1 + 700
    dws = os.path.join(base, "dws")

    def topology():
        # every query, the DWS one included, writes a checkpointed parquet
        # sink, so the whole topology resumes from the same checkpoints
        return warehouse_topology(
            spark, src, base, lateness=(delay_secs, hi), dws_path=dws
        )

    # ---- phase 1: run until mid-pipeline, then crash-stop all four.
    # Condition: q1 has committed ≥2 of the 4 chunks, so downstream queries
    # hold keyed state and partially-aggregated windows while unprocessed
    # chunks remain — the restart must pick up BOTH the half-read source and
    # the half-built state. Leaving the block stops every query with no
    # drain: in-flight downstream batches abort, like a crash.
    with topology() as queries:
        deadline = time.monotonic() + 120
        while True:
            p = queries[0].lastProgress
            if p is not None and p["batchId"] >= 1 and p["numInputRows"] > 0:
                break
            if time.monotonic() > deadline:
                raise TimeoutError("q1 never reached its second chunk")
            time.sleep(0.1)

    # the crash must land mid-pipeline for the resume to prove anything:
    # q1 ingested some-but-not-all chunks (sentinels not yet written)
    committed = spark.read.schema(PAGE_SCHEMA).parquet(os.path.join(base, "dwd_page"))
    n_committed = committed.count()
    n_total = load_table(spark, SF, "events").count()
    assert 0 < n_committed < n_total, (
        f"crash landed outside the pipeline: {n_committed}/{n_total} "
        "events already at DWD"
    )

    # ---- phase 2: resume from the same checkpoints, finish the stream,
    # flush timers (sentinel A) and close windows (sentinel B)
    with topology() as queries:
        _drain(queries, 0.3, 240.0, spark=spark)
        _write_sentinel(src, "a_timer_flush", hi + timedelta(seconds=610), 0, newest)
        _drain(queries, 0.3, 240.0, spark=spark)
        _write_sentinel(
            src, "b_window_close", hi + timedelta(seconds=delay_secs + 1200), 1, newest
        )
        _drain(queries, 0.3, 240.0, spark=spark)

    got = spark.read.parquet(dws).collect()

    # append mode + exactly-once ⇒ each window emitted on exactly one side of
    # the restart, never both
    keys = [(r["w"]["start"], r["w"]["end"]) for r in got]
    assert len(keys) == len(set(keys)), "window emitted twice across restart"

    # batch oracle from the batch twins over the full input
    events = load_table(spark, SF, "events")
    win = F.window("ts", "10 minutes").alias("w")
    pv = events.groupBy(win).agg(F.count("*").alias("pv_ct"))
    uv = (
        dedup_daily(events, "user_id", "ts", "event_id")
        .groupBy(win)
        .agg(F.count("*").alias("uv_ct"))
    )
    uj = (
        detect_bounce(
            events, "user_id", "ts", "event_id",
            F.col("event_type") == "view", "600 seconds",
        )
        .groupBy(win)
        .agg(F.count("*").alias("uj_ct"))
    )
    exp = {
        (r["w"]["start"], r["w"]["end"]): (
            r["pv_ct"] or 0, r["uv_ct"] or 0, r["uj_ct"] or 0,
        )
        for r in pv.join(uv, "w", "full").join(uj, "w", "full").collect()
    }
    assert dict(zip(keys, ((r["pv_ct"], r["uv_ct"], r["uj_ct"]) for r in got))) == exp
