"""Structured Streaming assemblies (SURVEY §2.1 S1/S3/S5, §2.7 ST4–ST11).

The reference topology — one Flink job per layer, decoupled by Kafka topics —
maps to one Structured Streaming query per pipeline, decoupled by Kafka
topics (prod) or in-engine handoffs (tests). Watermarks replace Flink's
WatermarkStrategy (ST4–ST6); `availableNow` triggers replace the ad-hoc
"process what's there" batch drives.

Kafka readers/writers are thin `format("kafka")` wrappers (S1/K1/K2); tests
use file streams over the driver's parquet (schema-pinned — streaming sources
cannot infer) because no broker exists in this environment. The pipeline code
is identical either way: sources are injected, transformations don't know
what feeds them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.functions import window_bounds
from gmall_spark.schemas import EVENTS_SCHEMA


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table (S1 stand-in; schema from
    schemas.EVENTS_SCHEMA, normalized to µs TIMESTAMP exactly like the batch
    loader — testdata has shipped both ns and µs naive timestamps, so the
    declared schema branches on the parquet footer).

    maxFilesPerTrigger=1 keeps micro-batches bounded — the same knob that
    caps per-trigger intake from Kafka (maxOffsetsPerTrigger) at scale.
    """
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_type = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
    ts_decl = "long" if ts_type == "timestamp[ns]" else "timestamp"
    schema = f"event_id long, ts {ts_decl}, user_id long, event_type string, value double, props string"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_table_dir(sf_dir, "events"))
    )
    if ts_decl == "long":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def stream_table(spark: SparkSession, sf_dir: str, name: str, schema: str) -> DataFrame:
    """Generic file-stream over any testdata table (the S1 Kafka stand-in for
    non-event topics, e.g. the CDC'd `orders` binlog). Single file +
    maxFilesPerTrigger=1 ⇒ one deterministic micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_table_dir(sf_dir, name))
    )


def _table_dir(sf_dir: str, name: str) -> str:
    """The file-stream source only accepts directories; expose the single
    table file through a per-table symlink directory (testdata is read-only)."""
    import os

    from gmall_spark.session import scratch_dir

    # abspath first: a relative sf_dir would otherwise produce a symlink
    # whose RELATIVE target resolves against /tmp — a silently-empty source
    sf_dir = os.path.abspath(sf_dir)
    d = scratch_dir("stream", sf_dir.strip("/").replace("/", "_"), name)
    link = os.path.join(d, f"{name}.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{name}.parquet", link)
    return d


def kafka_stream(spark: SparkSession, brokers: str, topic: str, group: str) -> DataFrame:
    """S1 — Kafka string consumer (MyKafkaUtil.java:54-61): subscribe + cast
    value to string. Requires the spark-sql-kafka package on the classpath
    (not present in this environment — covered by contract tests only)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("kafka.group.id", group)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value", "timestamp")
    )


def windowed_stats_stream(
    events: DataFrame,
    ts_col: str,
    size: str,
    dims: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "2 seconds",
) -> DataFrame:
    """A1 streaming — tumbling event-time window agg with watermark
    (VisitorStatsApp.java:122-165: bounded out-of-orderness + 10s tumble).

    Append-mode output: a window emits once, when the watermark passes its
    end — the exact cadence of the reference's toAppendStream (ST11). State
    size is bounded by (windows in flight × dim combinations); late rows
    beyond the watermark are dropped (ST10: the reference configures no
    allowedLateness either).
    """
    out = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, size).alias("w"), *dims)
        .agg(*aggs)
    )
    stt, edt = window_bounds(F.col("w"))
    return out.withColumn("stt", stt).withColumn("edt", edt).drop("w")


def windowed_uv_stream(
    events: DataFrame,
    ts_col: str,
    size: str,
    entity: str,
    dims: Sequence[str],
    watermark: str = "2 seconds",
) -> DataFrame:
    """A4's exact count(distinct) in streaming (SURVEY §4.2): Spark forbids
    distinct aggregates on streams, so rewrite as dedup-then-count — drop
    duplicate (entity, window, dims) tuples (watermark-bounded state), then a
    plain count per window. Exactly the two-stage rewrite the survey planned;
    chained stateful operators in append mode are a Spark 4 capability.
    """
    out = (
        # watermark BEFORE deriving the window column — the window struct
        # inherits event-time metadata from ts only if ts is already marked
        events.withWatermark(ts_col, watermark)
        .withColumn("w", F.window(ts_col, size))
        .dropDuplicates([entity, "w", *dims])
        .groupBy("w", *dims)
        .agg(F.count(F.lit(1)).alias(f"{entity.split('_')[0]}_uv_ct"))
    )
    stt, edt = window_bounds(F.col("w"))
    return out.withColumn("stt", stt).withColumn("edt", edt).drop("w")


def session_stats_stream(
    events: DataFrame,
    ts_col: str,
    key: str,
    gap: str = "30 minutes",
    watermark: str = "2 seconds",
) -> DataFrame:
    """Gap-based session windows in streaming — `session_window(ts, gap)`:
    a session closes when no event arrives within `gap`, emitted once the
    watermark passes (append mode). The streaming twin of the batch
    `sessionize` query (lag+cumsum rewrite); equivalence asserted in tests.
    """
    out = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    stt, edt = window_bounds(F.col("w"))
    return out.withColumn("session_start", stt).withColumn("session_end", edt).drop("w")


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """S5 — the rate test source (the reference's socket-fed join demos,
    gmall-flink-cdc/.../jointest/TestFlinkSQLJoin.java:20-29, stand-in):
    monotonically increasing (timestamp, value) rows for wiring smoke tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    watermark: str = "2 seconds",
    how: str = "inner",
) -> DataFrame:
    """J1/J2 streaming — keyed event-time interval join
    (OrderWideApp.java:96-105). Both sides watermarked; the range conjunct
    bounds join state: Spark evicts left rows once the watermark passes
    left_ts + upper, right rows once it passes right_ts - lower. That's
    Flink's interval-join state cleanup, derived from the same predicate.

    how='left_outer'/'full_outer' gives J5's outer semantics: the unmatched
    side emits with nulls only once the watermark proves no match can still
    arrive — the state-TTL-driven outer emission the reference demos in
    TestFlinkSQLJoin.java:34-43.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    qty_lo, unit_lo = lower.strip().split(" ", 1)
    qty_hi, unit_hi = upper.strip().split(" ", 1)
    cond = F.expr(
        f"l.{on} = r.{on} AND r.{right_ts} >= l.{left_ts} + INTERVAL '{qty_lo}' {unit_lo} "
        f"AND r.{right_ts} <= l.{left_ts} + INTERVAL '{qty_hi}' {unit_hi}"
    )
    return l.join(r, cond, how)


def warm_streaming(spark: SparkSession) -> None:
    """One-time engine warm-up for the Structured Streaming machinery, so the
    FIRST real streaming query isn't charged for it (the batch-side analog is
    bench.py's pandas_udf warm-up).

    What the first stateful streaming query pays exactly once per session
    (measured on this box: ~3-4s, none of it per-query work):
      - file-stream source + offset/commit WAL init
      - state-store provider init (one store per shuffle partition)
      - the applyInPandasWithState Python worker pool — a DIFFERENT pool
        than pandas_udf's (different worker module), so warming one does
        not warm the other; measured: ewma entry 5.6s cold vs 1.55s warm
      - the memory-sink path

    Runs a 64-row keyed-state query over a scratch parquet; idempotent and
    cheap enough to call unconditionally from bench/driver harnesses."""
    import os
    import time

    from gmall_spark.session import (
        ROCKSDB_PROVIDER,
        conf_scope,
        scratch_dir,
        stream_shuffle_width,
    )
    from gmall_spark.streaming.stateful import fix_is_new_stream

    src_dir = scratch_dir("warm_src")
    if not any(f.endswith(".parquet") for f in os.listdir(src_dir)):
        spark.range(64).selectExpr(
            "id AS event_id",
            "timestamp_micros(id * 1000000) AS ts",
            "id % 8 AS user_id",
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
    src = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(
        src_dir
    )
    with conf_scope(spark, {"spark.sql.shuffle.partitions": stream_shuffle_width()}):
        name = f"warm_stream_{time.time_ns()}"
        q = (
            fix_is_new_stream(src)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.catalog.dropTempView(name)
        # Second warm target: the stream-stream join machinery (symmetric
        # hash join state stores + the join codegen paths) — a different
        # physical operator family than keyed pandas state; the first join
        # entry was otherwise paying its JIT/init (~5s observed as a
        # first-entry transient under load).
        l = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src_dir)
        r = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src_dir)
        jname = f"warm_join_{time.time_ns()}"
        j = interval_join_stream(
            l, r, "user_id", "ts", "ts", "0 seconds", "10 seconds", how="left_outer"
        )
        q = (
            j.select("l.event_id")
            .writeStream.format("memory")
            .queryName(jname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.catalog.dropTempView(jname)
        # Third warm target: the Python DataSource STREAM writer machinery
        # (gmall_manifest) — a third distinct Python worker family plus the
        # per-sink streaming commit runner, none of it shared with the
        # pandas-state pool or the memory sink. Without this the manifest-
        # sink entry pays ~2.6s of one-time init on its single in-sweep run
        # while its solo-median baseline row is warm (measured 5.8s cold vs
        # 1.5s warm — the r4 'unreproducible baseline row' was this gap).
        # Must be a STREAMING write: warming the batch writer pool alone
        # measurably did not pre-pay it.
        from gmall_spark.sinks.manifest_sink import register_manifest_sink

        register_manifest_sink(spark)
        warm_sink = os.path.join(scratch_dir("warm_sink"), f"m{time.time_ns()}")
        w = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(
            src_dir
        )
        q = (
            w.select("event_id", "user_id")
            .writeStream.format("gmall_manifest")
            .option("path", warm_sink)
            .option("checkpointLocation", warm_sink + "_ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Fourth warm target: the transformWithStateInPandas machinery — a
        # FOURTH Python worker family (the TWS state-server protocol over
        # protobuf) plus the RocksDB provider init that API requires;
        # nothing above pre-pays either. With two TWS entries in the
        # registry the init otherwise lands on whichever runs first in a
        # sweep (alphabetically streaming_tws_bounce), skewing its row vs
        # a warm solo median — the same class of artifact as the r4
        # manifest-sink mystery. Skipped silently where protobuf is
        # unavailable (the TWS entries themselves raise a reasoned
        # ImportError there).
        try:
            from gmall_spark.compat import ensure_protobuf

            ensure_protobuf()
            import google.protobuf  # noqa: F401

            from gmall_spark.streaming.stateful import fix_is_new_tws

            with conf_scope(
                spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
            ):
                w = spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long"
                ).parquet(src_dir)
                tname = f"warm_tws_{time.time_ns()}"
                q = (
                    fix_is_new_tws(w)
                    .writeStream.format("memory")
                    .queryName(tname)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                spark.catalog.dropTempView(tname)
        except ImportError:
            pass


def _stream_input_bytes(df: DataFrame) -> int:
    """Estimated source volume of a streaming frame: sum of file sizes under
    every FileSource path in its analyzed plan. This is the same signal a
    cluster's source-rate planner uses (file sizes / offset ranges) and it
    is available BEFORE the query starts — which is when the state width
    must be chosen. Unparseable/missing paths contribute 0 (the width then
    falls back to its floor of 1)."""
    import os
    import re

    total = 0
    plan = df._jdf.queryExecution().analyzed().toString()
    for path in set(re.findall(r"FileSource\[([^\]]+)\]", plan)):
        if not os.path.isdir(path):
            continue
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion with an availableNow trigger
    into a memory sink; returns the result table. The test-time analog of
    'submit and let it run' — processes everything currently available, then
    stops (ST9: checkpointing elided for in-memory runs).

    shuffle_partitions sizes the STATE STORE width for this query: stateful
    cost is (per-partition store open/commit per batch) vs (parallelism of
    the keyed work), not the batch-engine default of 200. Pinned at query
    start; the session conf is restored afterwards. Default width is
    session.stream_state_width() of the source bytes — right for JVM-state
    and bucketed keyed-state queries; PER-KEY pandas-state callers pass
    shuffle_partitions=stream_shuffle_width() (see both docstrings).

    Sink choice is mode-driven. APPEND streams go straight to a parquet
    FILE sink: executors write result partitions to scratch and the driver
    never materializes a row — the shape that holds at any result size
    (the r8 sf100 probe found the memory sink buffering a 40M-row result
    in the driver JVM before the spool copy; that double-pay is gone).
    UPDATE/COMPLETE keep the memory sink (the file sink is append-only by
    contract) — those entries emit compact re-emitted aggregates, and the
    result is spooled to parquet and the memory table dropped immediately
    so nothing pins JVM heap across a sweep.
    """
    import os as _os

    from gmall_spark.session import conf_scope, spool_dir, stream_state_width

    spark = df.sparkSession
    width = shuffle_partitions or stream_state_width(_stream_input_bytes(df))
    if output_mode == "append":
        spool = spool_dir(f"filesink_{name}_")
        out_path = _os.path.join(spool, "out")
        writer = (
            df.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", _os.path.join(spool, "ckpt"))
        )
    else:
        writer = df.writeStream.format("memory")
    with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
        q = (
            writer.queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if output_mode == "append":
        # a zero-row stream commits no files; explicit schema + exist_ok
        # mkdir keep the read lazy and empty-safe. The read sees the sink's
        # _spark_metadata commit log, so only committed files are visible
        # (partial task output from a failed attempt is never read).
        _os.makedirs(out_path, exist_ok=True)
        return spark.read.schema(df.schema).parquet(out_path)
    return spool_memory_sink(spark, name, spool_dir(f"memsink_{name}_"))


def spool_memory_sink(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Spool memory sink ``name`` to parquet at ``path``, DROP the memory
    table, and return a frame over the spool. A memory sink pins its full
    result in the JVM for the session's lifetime, and a registry sweep
    executes dozens of streaming entries back-to-back — the accumulated row
    buffers were measurably degrading every subsequent query (GC pressure).
    The returned frame reads the spool with the sink's exact schema
    (explicit, so an empty result survives the round-trip). RAM-backed
    scratch: the spool is written and read once, immediately — exactly the
    IO worth keeping off a shared disk."""
    tbl = spark.table(name)
    schema = tbl.schema
    tbl.write.mode("overwrite").parquet(path)
    spark.catalog.dropTempView(name)
    return spark.read.schema(schema).parquet(path)


def jdbc_epoch_write(batch: DataFrame, epoch_id: int, url: str, table: str, **jdbc_opts) -> None:
    """Idempotent per-epoch JDBC write — the exactly-once foreachBatch
    recipe: DELETE any rows this epoch already wrote (a previous attempt
    that crashed mid-write), then append the batch tagged with its epoch id.

    Spark's streaming guarantee is at-least-once into the sink: a crash
    between the JDBC write and the checkpoint commit replays the SAME epoch
    with the SAME data on restart (the offset log pins the retried batch's
    file set). Keying the write by epoch therefore converges replays to
    exactly-once — the Spark idiom replacing the reference's Kafka
    transactional Semantic.EXACTLY_ONCE (MyKafkaUtil.java:29-33), which a
    JDBC sink can't use. The DELETE runs on the driver over the same
    embedded/remote connection the writer uses."""
    jvm = batch.sparkSession._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(f'DELETE FROM {table} WHERE "_epoch" = {int(epoch_id)}')
        except Exception:
            pass  # first-ever write: the table doesn't exist yet — the writer creates it
        finally:
            st.close()
    finally:
        conn.close()
    (
        batch.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**jdbc_opts)
        .save()
    )


def foreach_batch_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    checkpoint: str,
    available_now: bool = True,
    exactly_once: bool = False,
    **jdbc_opts,
):
    """K3 — the ClickHouse JDBC sink pattern (ClickhouseUtil.java:16-66):
    per micro-batch, drop transient columns and batch-write via JDBC. The
    reference batches 5 rows at a time through reflection; foreachBatch
    writes the whole micro-batch through the DataFrame JDBC writer.

    exactly_once=True routes through jdbc_epoch_write (epoch-keyed
    delete-then-append), making a replayed crashed batch idempotent at the
    cost of an `_epoch` column in the sink table; False is plain
    at-least-once append.

    available_now=True drains what's available then stops (tests/backfills);
    False runs continuously (production)."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        if exactly_once:
            jdbc_epoch_write(batch, epoch_id, url, table, **jdbc_opts)
        else:
            batch.write.mode("append").format("jdbc").option("url", url).option(
                "dbtable", table
            ).options(**jdbc_opts).save()

    writer = df.writeStream.foreachBatch(write).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def route_cdc_stream(
    envelope_stream: DataFrame,
    config_path: str,
    out_path: str,
    checkpoint: str,
):
    """J4/K2 streaming — config-driven routing with LIVE config updates
    (BaseDbApp.java:57-90): the reference broadcasts a CDC'd config table so
    rule changes apply to in-flight data; here every micro-batch re-reads the
    config table inside foreachBatch (SURVEY §4.3), so a config change takes
    effect at the next trigger — same latency class as Flink's broadcast
    state update. Output: parquet partitioned by sink_table (the batch analog
    of the dynamic-topic Kafka sink; swap the writer for production Kafka).

    Combined with checkpointing, a restarted query resumes at the right
    offset and routes new data under the new rules — tested in
    tests/test_streaming_routing.py.
    """
    from gmall_spark.operators.parse import decode_cdc, drop_cdc_deletes
    from gmall_spark.operators.routing import route_by_config

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        config = spark.read.parquet(config_path)  # fresh per micro-batch
        routed = route_by_config(drop_cdc_deletes(decode_cdc(batch)), config)
        routed.write.mode("append").partitionBy("sink_table").parquet(out_path)

    return (
        envelope_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def order_wide_stream(
    orders_stream: DataFrame,
    details_stream: DataFrame,
    dim_paths: dict[str, tuple[str, str, str]],
    out_path: str,
    checkpoint: str,
    join_on: str = "okey",
    left_ts: str = "o_ts",
    right_ts: str = "d_ts",
    lower: str = "-5 seconds",
    upper: str = "5 seconds",
):
    """OrderWideApp streaming end-to-end (SURVEY §3.3): stream-stream interval
    join + dimension enrichment with LATEST dim values.

    The reference needs async Phoenix lookups plus a Redis cache that must be
    invalidated on every dim update (DimSinkFunction.java:41-45). Here the
    dims are columnar tables RE-READ inside foreachBatch each micro-batch —
    an updated dim row is visible to the next batch automatically, no cache
    layer, no invalidation protocol; Catalyst broadcasts each fresh read.

    dim_paths: {alias: (parquet_path, fact_key, dim_key)}.
    """
    from gmall_spark.operators.joins import dim_enrich

    joined = interval_join_stream(
        orders_stream, details_stream, join_on, left_ts, right_ts, lower, upper
    ).drop(F.col(f"r.{join_on}"))  # both sides carry the equi key; keep one

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        dims = [
            (spark.read.parquet(path), fact_key, dim_key)  # fresh per batch
            for path, fact_key, dim_key in dim_paths.values()
        ]
        dim_enrich(batch, dims).write.mode("append").parquet(out_path)

    return (
        joined.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def split_log_stream(raw_json: DataFrame, out_base: str, checkpoint: str):
    """T6 streaming — BaseLogApp's multi-way split as ONE streaming query
    with a foreachBatch multi-write (BaseLogApp.java:96-152: side outputs →
    three Kafka topics). One pass over each micro-batch feeds all sinks —
    the cache() inside foreachBatch is what prevents N re-reads for N sinks
    (per-sink streaming queries would each re-read the source).
    """
    from gmall_spark.apps.warehouse import base_log_app

    def process(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.cache()
        try:
            out = base_log_app(batch)
            for name in ("start", "page", "display", "dirty"):
                out[name].write.mode("append").json(f"{out_base}/{name}")
        finally:
            batch.unpersist()

    return (
        raw_json.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def kafka_dynamic_topic_sink(df: DataFrame, brokers: str, checkpoint: str):
    """K2 — dynamic per-record topic routing (BaseDbApp.java:85-90): the
    built-in Kafka sink honors a `topic` column; route_by_config's
    sink_table column becomes the topic directly."""
    out = df.select(
        F.col("sink_table").alias("topic"),
        F.to_json(F.struct([c for c in df.columns if c != "sink_table"])).alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def asof_enrich_stream(
    stream: DataFrame,
    static_ref: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Streaming point-in-time enrichment: each stream row picks the static
    reference row with the greatest ``right_ts <= left_ts`` for its key —
    the as-of lookup a feature store does at serving time.

    The batch asof_join's union-carry-forward needs a global sort, which
    streaming can't do; instead this is the Pandas-kernel escape hatch the
    built-ins genuinely can't express: the (dim-sized) reference is
    broadcast once as a ts-sorted pandas frame, and each Arrow batch runs
    one vectorized ``pandas.merge_asof`` (binary search per row, zero
    Python loops). Stateless — no watermark interaction, every input row
    emits exactly once; per-batch cost is O(batch · log |ref|).

    Same contract as a broadcast dim join: the reference must fit executor
    memory — enforced below with the same hard guard as the ANN broadcast
    baseline (similarity.MAX_BROADCAST_INDEX_ROWS), so an unbounded
    reference fails fast at build time instead of OOMing the driver. For
    one that genuinely exceeds the bound, range-partition the reference by
    ``right_ts`` and route each stream key to its partition's index.
    """
    import pandas as pd

    from pyspark.sql import types as T

    from gmall_spark.extras.similarity import MAX_BROADCAST_INDEX_ROWS

    # Contract validation mirrors batch asof_join: these would otherwise
    # surface as a KeyError inside an executor on the first micro-batch
    # (merge_asof suffixes colliding column names), not at build time.
    if left_ts == right_ts:
        raise ValueError(
            f"asof_enrich_stream: left_ts and right_ts are both {left_ts!r}; "
            "rename one side — merge_asof needs distinct timestamp columns"
        )
    overlap = (set(static_ref.columns) - {on}) & set(stream.columns)
    if overlap:
        raise ValueError(
            "asof_enrich_stream: reference payload columns collide with "
            f"stream columns: {sorted(overlap)}"
        )

    ref_pdf = (
        static_ref.limit(MAX_BROADCAST_INDEX_ROWS + 1)
        .toPandas()
        .sort_values(right_ts)
        .reset_index(drop=True)
    )
    if len(ref_pdf) > MAX_BROADCAST_INDEX_ROWS:
        raise ValueError(
            f"asof_enrich_stream: static reference exceeds "
            f"{MAX_BROADCAST_INDEX_ROWS} rows — broadcast enrichment is for "
            "dim-sized references; range-partition the reference by "
            f"{right_ts!r} and join each stream key to its partition instead"
        )
    bc = stream.sparkSession.sparkContext.broadcast(ref_pdf)
    rpay = [c for c in static_ref.columns if c != on]
    out_fields = list(stream.schema.fields) + [
        static_ref.schema[c] for c in rpay
    ]
    out_schema = T.StructType(out_fields)
    stream_cols = stream.columns

    def enrich(batches):
        ref = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            merged = pd.merge_asof(
                pdf.sort_values(left_ts),
                ref,
                left_on=left_ts,
                right_on=right_ts,
                by=on,
                direction="backward",
            )
            yield merged[stream_cols + rpay]

    return stream.mapInPandas(enrich, out_schema)
