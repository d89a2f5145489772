"""Streaming/batch equivalence: every streaming operator must produce the
batch twin's results on fully-arrived data (modulo windows/timers still open
at stream end — those are asserted to be exactly the final-watermark
stragglers, not silent losses)."""

from __future__ import annotations

import pathlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmall_spark.operators.joins import interval_join
from gmall_spark.operators.stateful import dedup_daily, detect_bounce, first_touch
from gmall_spark.operators.windows import tumbling_stats
from gmall_spark.session import ROCKSDB_PROVIDER, conf_scope
from gmall_spark.sources import load_table
from gmall_spark.streaming.pipelines import run_to_memory, windowed_stats_stream, interval_join_stream
from gmall_spark.streaming.stateful import (
    dedup_daily_stream,
    detect_bounce_stream,
    fix_is_new_stream,
)

SF = "/root/testdata/sf0.001"
N_CHUNKS = 4


@pytest.fixture(scope="module")
def chunked_events(spark, tmp_path_factory):
    """events sf0.001 sorted by ts, split into N parquet files (µs timestamps)
    → N ordered micro-batches under maxFilesPerTrigger=1, so watermarks
    advance between batches and event-time timers actually fire."""
    out = tmp_path_factory.mktemp("events_chunks")
    pdf = load_table(spark, SF, "events").orderBy("ts").toPandas()
    chunk = (len(pdf) + N_CHUNKS - 1) // N_CHUNKS
    for i in range(N_CHUNKS):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        if len(part):
            part.to_parquet(
                out / f"part-{i:03d}.parquet",
                index=False,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
    return str(out)


def read_stream(spark, path: str):
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)
    )


def rows_set(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_agg_stream_matches_batch(spark, chunked_events):
    # countDistinct is illegal on streams — covered by test_windowed_uv below
    ev_s = read_stream(spark, chunked_events)
    aggs = [
        F.count(F.lit(1)).alias("pv_ct"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("dur_sum"),
    ]
    stream = run_to_memory(
        windowed_stats_stream(ev_s, "ts", "10 minutes", ["event_type"], aggs, "2 seconds"),
        "t_win_stream",
    )
    ev_b = load_table(spark, SF, "events")
    batch = tumbling_stats(ev_b, "ts", "10 minutes", ["event_type"], aggs)
    cols = ["stt", "edt", "event_type", "pv_ct", "dur_sum"]
    s_rows, b_rows = set(rows_set(stream, cols)), set(rows_set(batch, cols))
    assert s_rows <= b_rows
    # anything missing must be an end-of-stream window the watermark never closed
    max_ts = ev_b.agg(F.max("ts")).collect()[0][0]
    for row in b_rows - s_rows:
        assert pd.Timestamp(row[1]) > max_ts - pd.Timedelta(seconds=2), row
    assert len(s_rows) >= len(b_rows) - 5 * len({r[2] for r in b_rows})


def test_windowed_uv_stream_matches_batch(spark, chunked_events):
    from gmall_spark.streaming.pipelines import windowed_uv_stream

    stream = run_to_memory(
        windowed_uv_stream(
            read_stream(spark, chunked_events), "ts", "10 minutes", "user_id", ["event_type"]
        ),
        "t_uv_stream",
    )
    ev_b = load_table(spark, SF, "events")
    batch = tumbling_stats(
        ev_b, "ts", "10 minutes", ["event_type"], [F.countDistinct("user_id").alias("user_uv_ct")]
    )
    cols = ["stt", "edt", "event_type", "user_uv_ct"]
    s_rows, b_rows = set(rows_set(stream, cols)), set(rows_set(batch, cols))
    assert s_rows <= b_rows
    max_ts = ev_b.agg(F.max("ts")).collect()[0][0]
    for row in b_rows - s_rows:
        assert pd.Timestamp(row[1]) > max_ts - pd.Timedelta(seconds=2), row


def test_interval_join_stream_matches_batch(spark, chunked_events):
    ev_s = read_stream(spark, chunked_events)
    views_s = ev_s.filter(F.col("event_type") == "view")
    buys_s = ev_s.filter(F.col("event_type") == "purchase")
    joined_s = interval_join_stream(
        views_s, buys_s, "user_id", "ts", "ts", "0 minutes", "15 minutes"
    ).select(
        F.col("l.event_id").alias("view_id"), F.col("r.event_id").alias("purchase_id")
    )
    stream = run_to_memory(joined_s, "t_ij_stream")

    ev_b = load_table(spark, SF, "events")
    joined_b = interval_join(
        ev_b.filter(F.col("event_type") == "view"),
        ev_b.filter(F.col("event_type") == "purchase"),
        "user_id", "ts", "ts", "0 minutes", "15 minutes",
    ).select(F.col("l.event_id").alias("view_id"), F.col("r.event_id").alias("purchase_id"))
    assert rows_set(stream, ["view_id", "purchase_id"]) == rows_set(
        joined_b, ["view_id", "purchase_id"]
    )


def test_fix_is_new_stream_matches_batch(spark, chunked_events):
    stream = run_to_memory(fix_is_new_stream(read_stream(spark, chunked_events)), "t_isnew")
    batch = first_touch(load_table(spark, SF, "events"), "user_id", "ts", "event_id").select(
        "event_id", "user_id", F.col("is_first").alias("is_new")
    )
    assert rows_set(stream, ["event_id", "user_id", "is_new"]) == rows_set(
        batch, ["event_id", "user_id", "is_new"]
    )


def test_dedup_daily_stream_matches_batch(spark, chunked_events):
    stream = run_to_memory(dedup_daily_stream(read_stream(spark, chunked_events)), "t_uv")
    batch = dedup_daily(load_table(spark, SF, "events"), "user_id", "ts", "event_id").select(
        "user_id",
        F.date_format("dt", "yyyy-MM-dd").alias("dt"),
        F.col("event_id").alias("first_event_id"),
    )
    assert rows_set(stream, ["user_id", "dt", "first_event_id"]) == rows_set(
        batch, ["user_id", "dt", "first_event_id"]
    )


def test_detect_bounce_stream_matches_batch(spark, chunked_events):
    stream = run_to_memory(
        detect_bounce_stream(read_stream(spark, chunked_events), timeout_secs=600), "t_bounce"
    )
    ev_b = load_table(spark, SF, "events")
    batch = detect_bounce(
        ev_b, "user_id", "ts", "event_id", F.col("event_type") == "view", "10 minutes"
    ).select("event_id", "user_id", "bounce_reason")
    s_rows = set(rows_set(stream, ["event_id", "user_id", "bounce_reason"]))
    b_rows = set(rows_set(batch, ["event_id", "user_id", "bounce_reason"]))
    # streaming may not have fired timers for entries pending at stream end
    assert s_rows <= b_rows
    max_ts = ev_b.agg(F.max("ts")).collect()[0][0]
    missing = b_rows - s_rows
    if missing:
        pending_ok = (
            ev_b.filter(F.col("event_id").isin([m[0] for m in missing]))
            .filter(F.col("ts") + F.expr("INTERVAL '600' SECOND") >= max_ts - F.expr("INTERVAL '2' SECOND"))
            .count()
        )
        assert pending_ok == len(missing), f"non-straggler bounces missing: {missing}"


def test_session_window_stream_matches_batch_sessionize(spark, chunked_events):
    """session_window(ts, gap) must reproduce the batch lag+cumsum
    sessionization (same gap) for every session closed by the watermark."""
    from gmall_spark.streaming.pipelines import session_stats_stream
    import __spark_entry__ as entrymod

    stream = run_to_memory(
        session_stats_stream(read_stream(spark, chunked_events), "ts", "user_id", "30 minutes"),
        "t_sess_stream",
    )
    batch = entrymod.queries()["sessionize"](spark, SF)
    s_rows = set(rows_set(stream, ["user_id", "n_events"]))
    b_rows = set(rows_set(batch, ["user_id", "n_events"]))
    # compare multisets of (user, session size); streaming may lack sessions
    # still open at the watermark — everything it emits must exist in batch
    from collections import Counter

    s_ct = Counter(tuple(r) for r in rows_set(stream, ["user_id", "n_events"]))
    b_ct = Counter(tuple(r) for r in rows_set(batch, ["user_id", "n_events"]))
    assert all(s_ct[k] <= b_ct[k] for k in s_ct), (s_ct - b_ct)
    missing = b_ct - s_ct
    assert sum(missing.values()) <= len({r[0] for r in b_rows}), missing


def test_rate_source_smoke(spark):
    from gmall_spark.streaming.pipelines import rate_source

    df = rate_source(spark, rows_per_second=500)
    q = (
        df.writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 15
    n = 0
    while time.time() < deadline:
        n = spark.table("t_rate").count()
        if n > 0:
            break
        time.sleep(0.25)
    q.stop()
    assert n > 0


def test_late_data_cannot_resurrect_emitted_window(spark, tmp_path):
    """ST10 — Spark's actual late-data guarantee: a row may still join LIVE
    window state even if older than the watermark (observed: one-batch slack),
    but once the watermark has EVICTED and emitted a window, a late row for
    it is dropped — append mode never re-emits a closed window. The test
    stages four micro-batches: seed window → advance watermark → eviction
    batch → late arrival."""
    import datetime as dt
    import os
    import time as _time
    import pandas as pd

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(eid, minutes, user):
        return pd.DataFrame(
            {
                "event_id": [eid],
                "ts": [base + dt.timedelta(minutes=minutes)],
                "user_id": [user],
                "event_type": ["view"],
                "value": [1.0],
                "props": ["{}"],
            }
        )

    batches = [mk(1, 0, 1), mk(2, 40, 1), mk(4, 41, 1), mk(3, 1, 9)]  # last is late
    src = tmp_path / "late"
    src.mkdir()
    for i, pdf in enumerate(batches):
        p = src / f"p{i}.parquet"
        pdf.to_parquet(p, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        t = _time.time() - 400 + i * 50  # file source orders by mtime
        os.utime(p, (t, t))
    stream = run_to_memory(
        windowed_stats_stream(
            read_stream(spark, str(src)), "ts", "10 minutes", ["event_type"],
            [F.count(F.lit(1)).alias("pv_ct")], "2 seconds",
        ),
        "t_late",
    )
    first_window = stream.filter(F.col("stt") == "2024-01-01 12:00:00").collect()
    assert len(first_window) == 1          # emitted exactly once, never re-emitted
    assert first_window[0]["pv_ct"] == 1   # late event_id=3 not resurrected


def test_drop_duplicates_within_watermark(spark, chunked_events):
    """ST2's built-in form: dropDuplicatesWithinWatermark guarantees at most
    one emission per key within the watermark delay; the key's first event is
    always present."""
    ev = read_stream(spark, chunked_events).withWatermark("ts", "2 seconds")
    out = run_to_memory(ev.dropDuplicatesWithinWatermark(["user_id"]), "t_ddww")
    ev_b = load_table(spark, SF, "events")
    assert out.count() <= ev_b.count()
    firsts = first_touch(ev_b, "user_id", "ts", "event_id").filter(F.col("is_first") == 1)
    got_ids = {r["event_id"] for r in out.select("event_id").collect()}
    first_ids = {r["event_id"] for r in firsts.select("event_id").collect()}
    assert first_ids <= got_ids  # every key's first event emitted


def test_fix_is_new_tws_matches_batch(spark, chunked_events):
    """The Spark 4 transformWithStateInPandas variant must agree with both
    the applyInPandasWithState version and the batch twin."""
    from gmall_spark.compat import ensure_protobuf

    ensure_protobuf()  # wires the vendored runtime; see compat.py
    pytest.importorskip("google.protobuf", reason="TWS state protocol needs protobuf")
    from gmall_spark.streaming.stateful import fix_is_new_tws

    stream = run_to_memory(fix_is_new_tws(read_stream(spark, chunked_events)), "t_tws")
    batch = first_touch(load_table(spark, SF, "events"), "user_id", "ts", "event_id").select(
        "event_id", "user_id", F.col("is_first").alias("is_new")
    )
    assert rows_set(stream, ["event_id", "user_id", "is_new"]) == rows_set(
        batch, ["event_id", "user_id", "is_new"]
    )


def test_interval_join_stream_left_outer(spark, chunked_events):
    """J5 streaming — left-outer interval join: unmatched left rows emit with
    nulls once the watermark proves no match can arrive; matched rows equal
    the inner join exactly."""
    from gmall_spark.streaming.pipelines import interval_join_stream as ijs

    ev_s = read_stream(spark, chunked_events)
    views_s = ev_s.filter(F.col("event_type") == "view")
    buys_s = ev_s.filter(F.col("event_type") == "purchase")
    outer = run_to_memory(
        ijs(views_s, buys_s, "user_id", "ts", "ts", "0 minutes", "15 minutes",
            how="left_outer").select(
            F.col("l.event_id").alias("view_id"),
            F.col("r.event_id").alias("purchase_id"),
        ),
        "t_loj_stream",
    )
    ev_b = load_table(spark, SF, "events")
    inner_b = interval_join(
        ev_b.filter(F.col("event_type") == "view"),
        ev_b.filter(F.col("event_type") == "purchase"),
        "user_id", "ts", "ts", "0 minutes", "15 minutes",
    ).select(F.col("l.event_id").alias("view_id"), F.col("r.event_id").alias("purchase_id"))

    matched_s = {(r["view_id"], r["purchase_id"]) for r in outer.collect() if r["purchase_id"] is not None}
    matched_b = {tuple(r) for r in inner_b.collect()}
    assert matched_s == matched_b  # matched side identical to inner join
    n_views = ev_b.filter(F.col("event_type") == "view").count()
    null_rows = outer.filter(F.col("purchase_id").isNull()).count()
    assert null_rows > 0  # outer rows actually emitted
    # every view appears (matched or null) except watermark stragglers
    seen_views = outer.select("view_id").distinct().count()
    assert seen_views <= n_views
    assert seen_views >= n_views * 0.9


def test_ewma_stream_matches_batch_fold_bitwise(spark, chunked_events):
    """Cross-batch state carry: the 4-chunk streaming EWMA's LAST emission
    per key must equal the batch F.aggregate fold BIT-FOR-BIT — the fold
    order is pinned (ts, event_id) on both paths and every step is
    acc*0.5 + x*0.5, so even float equality is exact."""
    from pyspark.sql import Window

    from gmall_spark.streaming.stateful import ewma_stream

    stream = run_to_memory(ewma_stream(read_stream(spark, chunked_events)), "t_ewma")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    last = (
        stream.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events", "ewma")
    )
    ev = load_table(spark, SF, "events")
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.aggregate(
            ordered, F.lit(0.0), lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5)
        ).alias("ewma"),
    )
    got = rows_set(last, ["user_id", "n_events", "ewma"])
    want = rows_set(batch, ["user_id", "n_events", "ewma"])
    assert got == want


def test_gapfill_stream_multibatch_matches_model(spark, chunked_events):
    """4 advancing-watermark batches must produce exactly the buckets the
    final watermark closes — gap rows synthesized for silent hours, counts
    carried LOCF — with the pending-bucket state and the event-time timer
    surviving every batch boundary."""
    from gmall_spark.streaming.stateful import gapfill_stream

    out = run_to_memory(
        gapfill_stream(read_stream(spark, chunked_events)), "t_gapfill"
    )
    got = {
        (r["event_type"], int(r["bucket"].timestamp() * 1000)): (
            r["filled_ct"],
            r["is_gap"],
        )
        for r in out.collect()
    }

    pdf = load_table(spark, SF, "events").select("event_type", "ts").toPandas()
    hour = 3_600_000
    ms = (pdf["ts"] - pd.Timestamp(0)) // pd.Timedelta(milliseconds=1)
    pdf["bms"] = ms // hour * hour
    wm = int(ms.max()) - 2000
    last_closed = (wm - hour) // hour * hour
    expect = {}
    for et, g in pdf.groupby("event_type"):
        counts = g.groupby("bms").size().to_dict()
        carry = None
        b = min(counts)
        while b <= last_closed:
            if b in counts:
                carry = counts[b]
                expect[(et, b)] = (carry, False)
            else:
                expect[(et, b)] = (carry, True)
            b += hour
    assert got == expect


def test_rocksdb_state_store_matches_default_provider(spark, chunked_events):
    """The big-state deployment knob (session.enable_rocksdb_state) must be
    pure mechanism: the SAME keyed-state pipelines produce the SAME rows
    under RocksDB as under the default heap-map provider — covering both
    state APIs we ship (applyInPandasWithState via fix_is_new_stream,
    dropDuplicates-style keyed dedup via dedup_daily_stream)."""
    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        got_isnew = run_to_memory(
            fix_is_new_stream(read_stream(spark, chunked_events)), "t_isnew_rocks"
        )
        batch = first_touch(
            load_table(spark, SF, "events"), "user_id", "ts", "event_id"
        ).select("event_id", "user_id", F.col("is_first").alias("is_new"))
        assert rows_set(got_isnew, ["event_id", "user_id", "is_new"]) == rows_set(
            batch, ["event_id", "user_id", "is_new"]
        )
        got_uv = run_to_memory(
            dedup_daily_stream(read_stream(spark, chunked_events)), "t_uv_rocks"
        )
        batch_uv = dedup_daily(
            load_table(spark, SF, "events"), "user_id", "ts", "event_id"
        ).select(
            "user_id",
            F.date_format("dt", "yyyy-MM-dd").alias("dt"),
            F.col("event_id").alias("first_event_id"),
        )
        assert rows_set(got_uv, ["user_id", "dt", "first_event_id"]) == rows_set(
            batch_uv, ["user_id", "dt", "first_event_id"]
        )


def test_watermark_evicts_closed_window_state(spark):
    """ST7/ST8 at the METRICS level: state must be bounded by windows in
    flight, not by windows ever seen. Three time-ordered chunks stream 889
    distinct 10-minute windows through a watermarked append aggregate; the
    stateOperators progress metrics must show (a) eviction happening
    (numRowsRemoved accounts for every closed window), and (b) peak
    numRowsTotal far below the distinct-window count — the property that
    makes a year-long stream's state O(windows-in-flight) instead of
    O(history). (Observed shape: per-batch state 291-304 rows, final 1.)"""
    import time

    from pyspark.sql import functions as F

    from gmall_spark.sources import load_table
    from gmall_spark.streaming.multibatch import stream_event_chunks

    src = stream_event_chunks(spark, SF, 3)
    agg = (
        src.withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .count()
    )
    name = f"evict_{time.time_ns()}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    spark.catalog.dropTempView(name)
    assert ops, "no stateOperators progress recorded"
    n_windows = (
        load_table(spark, SF, "events")
        .select(F.window("ts", "10 minutes"))
        .distinct()
        .count()
    )
    removed = sum(op["numRowsRemoved"] for op in ops)
    final_state = ops[-1]["numRowsTotal"]
    peak_state = max(op["numRowsTotal"] for op in ops)
    assert removed + final_state == n_windows, (removed, final_state, n_windows)
    assert removed > 0, "watermark never evicted any window state"
    assert peak_state < n_windows / 2, (
        f"state accumulated {peak_state} rows for {n_windows} windows — "
        "eviction is not keeping state bounded by windows in flight"
    )


def test_watermark_evicts_join_buffer_state(spark):
    """The stream-stream join twin of the window-eviction metrics test —
    the heaviest state family (four store instances per partition). 390
    view/purchase rows stream through a ±15-minute interval join in three
    time-ordered chunks; buffered state must stay bounded by rows inside
    the join horizon (observed 126-135 in flight), with eviction
    accounting for everything that left."""
    import time

    from pyspark.sql import functions as F

    from gmall_spark.sources import load_table
    from gmall_spark.streaming.multibatch import stream_event_chunks
    from gmall_spark.streaming.pipelines import interval_join_stream

    l = stream_event_chunks(spark, SF, 3).filter(F.col("event_type") == "view")
    r = stream_event_chunks(spark, SF, 3).filter(F.col("event_type") == "purchase")
    j = interval_join_stream(l, r, "user_id", "ts", "ts", "0 minutes", "15 minutes")
    name = f"jevict_{time.time_ns()}"
    q = (
        j.select("l.event_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    spark.catalog.dropTempView(name)
    assert ops, "no stateOperators progress recorded"
    n_inputs = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .count()
    )
    removed = sum(op["numRowsRemoved"] for op in ops)
    final_state = ops[-1]["numRowsTotal"]
    peak_state = max(op["numRowsTotal"] for op in ops)
    assert removed + final_state == n_inputs, (removed, final_state, n_inputs)
    assert removed > 0, "watermark never evicted any join buffer state"
    assert peak_state < n_inputs / 2, (
        f"join buffered {peak_state} rows of {n_inputs} inputs — state is "
        "accumulating history instead of tracking the join horizon"
    )


def test_detect_bounce_tws_matches_apiws_twin(spark, chunked_events):
    """The transformWithState timer-API bounce must be BIT-identical to the
    applyInPandasWithState twin on the same chunk schedule — same matches,
    same timeout emissions, same stragglers left unfired at stream end.
    (Looser batch-twin equivalence is inherited: the apiws twin already has
    its own batch test above.)"""
    from gmall_spark.compat import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip("google.protobuf", reason="TWS state protocol needs protobuf")
    from gmall_spark.streaming.stateful import detect_bounce_tws

    cols = ["event_id", "user_id", "ts", "bounce_reason"]
    apiws = run_to_memory(
        detect_bounce_stream(read_stream(spark, chunked_events)), "t_bounce_a"
    )
    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        tws = run_to_memory(
            detect_bounce_tws(read_stream(spark, chunked_events)), "t_bounce_t"
        )
    assert rows_set(tws, cols) == rows_set(apiws, cols)


def test_tws_timer_fires_and_clears_pending_state(spark):
    """The transformWithState TIMER path at the METRICS level — the state
    shape the window/join eviction tests don't cover. Three time-ordered
    chunks stream through detect_bounce_tws; the stateOperators +
    customMetrics ledger must show (a) the zero-input flush batch firing
    timers: every state row removed there is one emitted timeout bounce
    (sink rows == state removals, the exactly-once contract of the timer
    path), (b) the timer column family balancing — every registered timer
    is eventually deleted (stale-replaced or fired) once the value state
    drains to empty, and (c) peak pending state bounded by the key universe
    (≤1 pending entry per user), not by history."""
    import time

    from gmall_spark.compat import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip("google.protobuf", reason="TWS state protocol needs protobuf")
    from gmall_spark.streaming.multibatch import stream_event_chunks
    from gmall_spark.streaming.stateful import detect_bounce_tws

    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        df = detect_bounce_tws(stream_event_chunks(spark, SF, 3))
        name = f"twstimer_{time.time_ns()}"
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
        spark.catalog.dropTempView(name)

    ops = [(p, op) for p in progress for op in p["stateOperators"]]
    assert ops, "no stateOperators progress recorded"

    # (a) flush batches (no input): timers fired — each removal is exactly
    # one emitted timeout row
    flush = [(p, op) for p, op in ops if p["numInputRows"] == 0]
    assert flush, "availableNow never ran a zero-input flush batch"
    fired = sum(op["numRowsRemoved"] for _, op in flush)
    assert fired > 0, "no event-time timer ever fired in the flush batch"
    for p, op in flush:
        assert p["sink"]["numOutputRows"] == op["numRowsRemoved"], (
            "timer firings and emitted timeout rows disagree: "
            f"{op['numRowsRemoved']} removals vs {p['sink']['numOutputRows']} rows"
        )

    # (b) timer ledger: with the value state fully drained, every registered
    # timer was deleted (replaced mid-stream or consumed by expiry)
    final_state = ops[-1][1]["numRowsTotal"]
    reg = sum(op["customMetrics"]["numRegisteredTimers"] for _, op in ops)
    dele = sum(op["customMetrics"]["numDeletedTimers"] for _, op in ops)
    assert reg > 0, "no timer was ever registered"
    assert final_state == 0, f"{final_state} pending entries survived the flush"
    assert reg == dele, f"timer ledger leaks: {reg} registered, {dele} deleted"

    # (c) state is O(open pendings), never O(history)
    n_users = load_table(spark, SF, "events").select("user_id").distinct().count()
    peak = max(op["numRowsTotal"] for _, op in ops)
    assert 0 < peak <= n_users, (peak, n_users)


def test_dynamic_session_window_state_bounded(spark):
    """The DYNAMIC-gap session window at the METRICS level — the last state
    shape without a stateOperators assertion. Three time-ordered chunks
    stream the per-event-gap sessionization (purchase holds 30 min,
    otherwise 10); the session store must (a) evict exactly one state row
    per emitted session (append-mode exactly-once), (b) account for every
    session the cummax replay model produces (removed + final == model
    total), and (c) keep peak buffered sessions far below the total — the
    O(sessions-in-flight) property. (Observed shape at sf0.001: peak 327,
    final 1, model 973.)"""
    import time

    from gmall_spark.streaming.multibatch import stream_event_chunks

    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    out = (
        stream_event_chunks(spark, SF, 3)
        .withWatermark("ts", "2 seconds")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = f"dynsess_{time.time_ns()}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).count()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    spark.catalog.dropTempView(name)
    assert ops, "no stateOperators progress recorded"

    # independent replay of the gap rule: a session breaks iff ts >= cummax
    # of (prior ts + its gap) — same model the registry oracle uses
    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    gaps = ev["event_type"].eq("purchase").map({True: 1800, False: 600})
    ends = ev["ts"] + pd.to_timedelta(gaps, unit="s")
    model_total = 0
    for _, g in ev.assign(end=ends).groupby("user_id"):
        run_end = None
        for ts, end in zip(g["ts"], g["end"]):
            if run_end is None or ts >= run_end:
                model_total += 1
                run_end = end
            else:
                run_end = max(run_end, end)

    removed = sum(op["numRowsRemoved"] for op in ops)
    final_state = ops[-1]["numRowsTotal"]
    peak_state = max(op["numRowsTotal"] for op in ops)
    assert removed == emitted, (
        f"{removed} sessions evicted but {emitted} emitted — append-mode "
        "exactly-once broken at the state level"
    )
    assert removed + final_state == model_total, (removed, final_state, model_total)
    assert peak_state < model_total / 2, (
        f"session store buffered {peak_state} of {model_total} sessions — "
        "eviction is not tracking sessions in flight"
    )


def test_dedup_daily_bucketed_matches_per_key(spark, chunked_events):
    """The hash-bucket grouping of the daily dedup must be BIT-identical to
    the per-key grouping on the same chunk schedule — same (user, day)
    firsts, same rows, carried across batch boundaries by the coded seen
    sets either way. (The registry's mb entry additionally pins emit_batch
    equality through the shared oracle.)"""
    cols = ["user_id", "dt", "first_event_id", "first_ts"]
    per_key = run_to_memory(
        dedup_daily_stream(read_stream(spark, chunked_events)), "t_uv_pk"
    )
    bucketed = run_to_memory(
        dedup_daily_stream(read_stream(spark, chunked_events), bucketed=True), "t_uv_bk"
    )
    assert rows_set(bucketed, cols) == rows_set(per_key, cols)


def test_detect_bounce_bucketed_matches_per_key(spark, chunked_events):
    """The hash-bucket grouping of the CEP bounce (pending arrays per
    bucket + one min-deadline timer per bucket with a watermark sweep) must
    be bit-identical to the per-key grouping on the same chunk schedule —
    BOTH emit paths: in-batch match/timeout, cross-batch pending
    resolution, and timer-fired timeouts. (The registry's mb entry
    additionally pins emit_batch equality through the shared oracle.)"""
    cols = ["event_id", "user_id", "ts", "bounce_reason"]
    per_key = run_to_memory(
        detect_bounce_stream(read_stream(spark, chunked_events)), "t_bn_pk"
    )
    bucketed = run_to_memory(
        detect_bounce_stream(read_stream(spark, chunked_events), bucketed=True), "t_bn_bk"
    )
    assert rows_set(bucketed, cols) == rows_set(per_key, cols)


def test_fix_is_new_bucketed_matches_per_key(spark, chunked_events):
    """The hash-bucket grouping of the is_new repair must be bit-identical
    to the per-key grouping on the same chunk schedule (same contract as
    the bucketed dedup test above)."""
    cols = ["event_id", "user_id", "is_new"]
    per_key = run_to_memory(
        fix_is_new_stream(read_stream(spark, chunked_events)), "t_in_pk"
    )
    bucketed = run_to_memory(
        fix_is_new_stream(read_stream(spark, chunked_events), bucketed=True), "t_in_bk"
    )
    assert rows_set(bucketed, cols) == rows_set(per_key, cols)
