"""Multi-micro-batch streaming harness — cross-batch state evolution made
driver-checkable.

The single-batch streaming entries (streaming/queries.py) pin the file source
to ONE deterministic micro-batch; state correctness ACROSS batches (the thing
Kafka gives a real deployment for free) was previously only covered by tests
driving N batches. This module splits the events table into N time-ordered
chunk files and streams them one-per-trigger, so a registry entry runs a real
N-batch Structured Streaming query with an advancing watermark — and captures
WHICH micro-batch every output row emitted in (`emit_batch`), so the oracle
must replay Spark's emission schedule, not just the final row set:

- watermark after batch b: wm_b = ms_floor(max event time of files 0..b) − delay
- append-mode window close: first batch whose governing watermark (wm of the
  PREVIOUS batch) has passed the window end; a final flush batch runs after
  the last file under the final watermark
- event-time timers: fire in the first batch whose governing watermark lies
  strictly beyond the timer
- NoTimeout keyed state: emits in the arrival batch of the deciding row

Chunking is rank-deterministic (row_number over (ts, event_id), then an exact
integer split), so DuckDB reproduces the exact batch boundaries. An optional
`late_every` relocates every k-th chunk-0 row into the LAST chunk: those rows
arrive with event times far below the watermark — the cross-batch late-data
drop (ST10) the oracle must model (a late row contributes only if its window
is still open when it arrives).

This splitter is test scaffolding standing in for a partitioned Kafka topic —
the ENGINE code under test (watermarks, stateful operators, windowed aggs) is
identical to production; only the source is simulated. The chunk build is
fully distributed (two-phase global rank + per-chunk single-task writes;
only per-partition counts touch the driver), so it holds to the sf100 probe
corpus and beyond.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: same delay every streaming entry uses
WATERMARK = "2 seconds"
DELAY_MS = 2000


def _chunk_assignments(n_batches: int, late_every: int | None):
    """Column exprs (chunk, arrival) over a frame with `rn` (1-based global
    rank) and `n` (total rows) — exact integer arithmetic, oracle-replayable."""
    chunk = F.expr(f"CAST(((rn - 1) * {n_batches}) DIV n AS INT)")
    if late_every is None:
        return chunk, chunk
    arrival = F.when(
        (chunk == 0) & (F.col("event_id") % late_every == 0),
        F.lit(n_batches - 1),
    ).otherwise(chunk)
    return chunk, arrival


def chunk_events(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
    late_every: int | None = None,
) -> str:
    """Write the events table as ``n_batches`` time-ordered parquet files with
    strictly increasing mtimes (the file source's ordering key) and return
    the directory. Idempotent per (sf_dir, n_batches, late_every); atomic
    rename so a crashed writer never leaves a half-directory behind."""
    from gmall_spark.session import conf_scope, scratch_dir
    from gmall_spark.sources import load_table

    tag = f"b{n_batches}_l{late_every or 0}"
    d = os.path.join(
        scratch_dir("stream_mb", sf_dir.strip("/").replace("/", "_")), tag
    )
    if os.path.isdir(d) and len(os.listdir(d)) == n_batches:
        return d
    ev = load_table(spark, sf_dir, "events")

    # Fully distributed chunking (the previous version toPandas()'d the
    # whole table to rank+write driver-side — fine through sf10's 10M rows,
    # a driver Arrow-collect blowup at sf100's 100M). Global 1-based rank
    # by (ts, event_id) via the textbook two-phase recipe: range-partition
    # on the sort key (ascending key ranges land in ascending partition
    # ids), per-partition row_number, plus the summed counts of all earlier
    # partitions — only the per-partition COUNTS (one row each) ever reach
    # the driver.
    from pyspark.sql import Window

    n = ev.count()
    parts = max(1, min(spark.sparkContext.defaultParallelism, n // 100_000 + 1))
    # persist pins the sampled range boundaries: the counts job and the
    # chunk writes must see the SAME partitioning or the offsets are wrong
    rp = (
        ev.repartitionByRange(parts, "ts", "event_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = dict(rp.groupBy("_pid").count().collect())
    acc, offsets = 0, {}
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            ),
            F.col("_pid"),
        ),
        F.lit(0),
    )
    w = Window.partitionBy("_pid").orderBy("ts", "event_id")
    ranked = (
        rp.withColumn("rn", F.row_number().over(w) + off_expr)
        .withColumn("n", F.lit(n))
    )
    chunk, arrival = _chunk_assignments(n_batches, late_every)
    chunked = ranked.withColumn("arrival", arrival).drop("rn", "n", "_pid")

    tmp = d + "__writing"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    # µs on disk: the stream schema declares `ts timestamp` (µs) — pin the
    # writer so no ns/µs drift can reappear
    base = 1_600_000_000  # fixed epoch; only the ORDER of mtimes matters
    try:
        with conf_scope(spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}):
            for b in range(n_batches):
                out_b = os.path.join(tmp, f"_spark_chunk{b}")
                # one file per chunk (1 file == 1 micro-batch for every
                # maxFilesPerTrigger=1 consumer): repartition — NOT coalesce,
                # which would collapse the rank stage itself to one task —
                # shuffles the chunk to a single write task executor-side;
                # row ORDER within the file is irrelevant, consumers sort
                (
                    chunked.filter(F.col("arrival") == b)
                    .drop("arrival")
                    .repartition(1)
                    .write.parquet(out_b)
                )
                part = next(
                    f for f in os.listdir(out_b)
                    if f.startswith("part-") and f.endswith(".parquet")
                )
                path = os.path.join(tmp, f"chunk{b}.parquet")
                os.rename(os.path.join(out_b, part), path)
                shutil.rmtree(out_b, ignore_errors=True)
                os.utime(path, (base + b * 10, base + b * 10))
    finally:
        rp.unpersist()
    os.makedirs(os.path.dirname(d), exist_ok=True)
    try:
        os.rename(tmp, d)
    except OSError:  # concurrent creator won the rename — use theirs
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def stream_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
    late_every: int | None = None,
) -> DataFrame:
    """File-stream over the chunked events dir, one file per micro-batch —
    the N-batch analog of stream_events."""
    d = chunk_events(spark, sf_dir, n_batches, late_every)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )


def run_collect_batches(
    df: DataFrame,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,  # default: session.stream_state_width()
) -> DataFrame:
    """Drive a streaming frame with availableNow through foreachBatch,
    stamping every output row with the micro-batch id it emitted in. The
    returned (batch) DataFrame carries `emit_batch` — the emission schedule
    the oracle replays. Batch ids: 0..N-1 for the N files, N for the final
    watermark-flush batch.

    Each batch lands in a per-run parquet spool EXECUTOR-side (append +
    emit_batch column) and the result is read back lazily — no driver-side
    row materialization, so the capture scales with the cluster exactly
    like any other sink (an earlier pandas-collect version hauled the full
    output through the driver twice)."""
    from gmall_spark.session import conf_scope, spool_dir, stream_state_width
    from gmall_spark.streaming.pipelines import _stream_input_bytes

    spark = df.sparkSession
    fields = list(df.schema.fields) + [T.StructField("emit_batch", T.IntegerType())]
    out_schema = T.StructType(fields)
    spool = spool_dir("mb_spool_")

    def sink(bdf: DataFrame, bid: int) -> None:
        (
            bdf.withColumn("emit_batch", F.lit(int(bid)))
            .write.mode("append")
            .parquet(spool)
        )

    width = shuffle_partitions or stream_state_width(_stream_input_bytes(df))
    with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
        q = (
            df.writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    try:
        # explicit schema: an all-empty spool (or a batch with only nulls)
        # must not change inferred types between runs
        return spark.read.schema(out_schema).parquet(spool)
    except Exception:
        return spark.createDataFrame([], schema=out_schema)
