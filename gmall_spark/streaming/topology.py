"""Composed live warehouse topology — the reference's defining shape run for
real: multiple CONCURRENT streaming queries chained through storage handoffs.

The reference decouples its layers with Kafka topics (`BaseLogApp.java:22-24`
→ `UniqueVisitApp.java:40-42` / `UserJumpDetailApp.java:64-66` →
`VisitorStatsApp.java:44-46`); here each hop is a parquet directory written
by one streaming query's file sink and discovered live by the next query's
file source — the same decoupling contract (durable, replayable, ordered
discovery) without a broker in the container. Four queries run
SIMULTANEOUSLY:

    q1  DWD base_log   events (3 chunked files, 1/trigger) → cleaned page log
    q2a DWM unique_visit   page log → daily firsts   (keyed NoTimeout state)
    q2b DWM user_jump      page log → bounce records (event-time timers)
    q3  DWS visitor_stats  page ∪ uv ∪ uj → per-window pv/uv/uj counts

Stage 3 aggregates in COMPLETE mode rather than watermark-append: the uj
stream's rows lag the raw stream by up to the 600 s bounce timeout in EVENT
time, so a single union watermark would race the fast pv path and drop early
uj rows nondeterministically — precisely the cross-topic lateness a real
deployment handles by reserving extra out-of-orderness. Complete mode makes
the FINAL state independent of interleaving (every row eventually arrives;
the run stops at quiescence), which is what an end-to-end oracle can check;
per-stage watermark-closure semantics are proven by the dedicated streaming
entries. At production scale the DWS layer would instead widen its watermark
delay by the DWM timeout budget and run append.

Quiescence is event-driven: every query reports ``_IDLE_STREAK`` consecutive
onQueryIdle events (a trigger fired and no batch ran) with no batch executed
anywhere in the topology in between — the window in which stage-2 timers
flush (the engine runs one extra batch after a watermark advance) and their
output drains through stage 3 (see ``_drain``).

``warehouse_topology`` builds the four queries once; the complete-mode entry,
the append-mode entry and the crash/resume test differ only in the source
directory, the DWS lateness budget and the DWS sink.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from gmall_spark.functions import window_bounds
from gmall_spark.session import conf_scope, spool_dir, stream_state_width
from gmall_spark.sources import load_table
from gmall_spark.streaming.multibatch import chunk_events
from gmall_spark.streaming.pipelines import _stream_input_bytes, spool_memory_sink
from gmall_spark.streaming.stateful import dedup_daily_stream, detect_bounce_stream

PAGE_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


#: consecutive onQueryIdle events required from EVERY query with zero
#: executed batches anywhere in between. An idle event means a trigger fired
#: and the engine found no work (no batch executed), so 3 per query spans
#: >= 2 full trigger periods of topology-wide silence — comfortably past the
#: <=1-trigger file-discovery latency of any downstream layer, with margin
#: for a trigger that was mid-listing when an upstream file landed.
_IDLE_STREAK = 3


class _QuiesceListener(StreamingQueryListener):
    """Event-driven quiescence watch over a fixed set of concurrent queries.

    Counts, per tracked runId, the streak of consecutive onQueryIdle events.
    ANY onQueryProgress event from ANY tracked query — i.e. any executed
    batch, data-carrying or zero-input watermark-flush — resets EVERY
    streak: its output (files, flushed timer rows) may feed a downstream
    layer that has not discovered it yet, so the silence clock must restart
    topology-wide. Events from untracked queries (anything else running on
    the shared session) are ignored."""

    def __init__(self, run_ids) -> None:
        self.cond = threading.Condition()
        self._streaks = {rid: 0 for rid in run_ids}
        #: tracked runId -> exception string (or None for a clean stop). A
        #: terminated query can never advance its idle streak, so without
        #: this the drain would block for the full timeout and then mask
        #: q.exception() behind a generic TimeoutError.
        self.terminated: dict[str, str | None] = {}

    def min_streak(self) -> int:
        with self.cond:
            return min(self._streaks.values(), default=0)

    def reset(self) -> None:
        with self.cond:
            for k in self._streaks:
                self._streaks[k] = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self.cond:
            if str(event.progress.runId) in self._streaks:
                for k in self._streaks:
                    self._streaks[k] = 0
                self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        with self.cond:
            rid = str(event.runId)
            if rid in self._streaks:
                self._streaks[rid] += 1
                self.cond.notify_all()

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            rid = str(event.runId)
            if rid in self._streaks:
                self.terminated[rid] = getattr(event, "exception", None)
                self.cond.notify_all()


def _raise_if_terminated(watch: _QuiesceListener) -> None:
    if watch.terminated:
        rid, exc = next(iter(watch.terminated.items()))
        raise RuntimeError(
            f"warehouse topology query {rid} terminated during "
            f"drain: {exc or 'stopped without exception'}"
        )


def _drain(queries, trigger_secs: float, timeout_secs: float, spark: SparkSession) -> None:
    """Block until every query has been idle long enough that stage-2 timers
    have flushed (the engine runs one extra batch after a watermark advance)
    and their output has drained through stage 3.

    Event-driven (was: 6 consecutive 0.3 s lastProgress polls, a fixed
    >=1.8 s tail per drain even after true quiescence): a temporary
    StreamingQueryListener counts consecutive onQueryIdle events per query —
    an idle event is the engine reporting a trigger fired and NO batch ran,
    the strongest quiescence signal it emits, and stop() during an idle
    streak cannot interrupt a state-store commit. Quiescence = every query
    at >= _IDLE_STREAK idle events with zero executed batches anywhere in
    the topology in between (see _QuiesceListener), re-verified at
    declaration by the previous poll's condition as a belt: every
    lastProgress shows numInputRows=0 AND no trigger is active (a
    watermark-flush batch reports numInputRows=0 while the NEXT zero-input
    eviction batch is still running, so lastProgress alone can declare
    quiescence mid-commit — observed once as
    CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT aborting the final window flush).

    The queries MUST start with spark.sql.streaming.noDataProgressEventInterval
    lowered from its 10 s default (warehouse_topology pins 250 ms):
    onQueryIdle is throttled at that cadence, so each drain stage otherwise
    stalls ~10 s per idle event waiting for the signal, not for any real
    work (measured in OPTIMIZATION_r08.md: a 1-file probe query emits idle
    events every ~0.3 s at a 300 ms interval vs 10.0 s at the default)."""
    deadline = time.monotonic() + timeout_secs
    watch = _QuiesceListener({str(q.runId) for q in queries})
    spark.streams.addListener(watch)
    try:
        while True:
            with watch.cond:
                while min(watch._streaks.values(), default=0) < _IDLE_STREAK:
                    _raise_if_terminated(watch)
                    remaining = deadline - time.monotonic()
                    if remaining <= 0:
                        raise TimeoutError(
                            f"warehouse topology not quiescent within {timeout_secs}s"
                        )
                    watch.cond.wait(timeout=min(remaining, max(trigger_secs, 0.25)))
            # belt re-verification outside the lock (py4j calls): identical
            # to the old poll condition at its moment of declaration. A query
            # may have terminated since the streak wait; its py4j calls would
            # fail opaquely, so re-check first
            _raise_if_terminated(watch)
            progs = [q.lastProgress for q in queries]
            if (
                all(p is not None and p["numInputRows"] == 0 for p in progs)
                and not any(q.status.get("isTriggerActive") for q in queries)
                # a late batch may have reset the streaks BETWEEN the streak
                # condition and the belt; the belt alone can still pass in
                # that window (numInputRows==0 on a flush batch), so declare
                # only if the required post-batch silence still stands
                and watch.min_streak() >= _IDLE_STREAK
            ):
                return
            watch.reset()
    finally:
        spark.streams.removeListener(watch)


def _dir(base: str, name: str) -> str:
    d = os.path.join(base, name)
    os.makedirs(d, exist_ok=True)
    return d


@contextmanager
def warehouse_topology(
    spark: SparkSession,
    src: str,
    base: str,
    trigger_secs: float = 0.3,
    lateness: tuple[int, datetime] | None = None,
    dws_path: str | None = None,
):
    """Start the four queries over the event files in ``src``, each handoff
    directory and checkpoint under ``base``, and yield them as
    ``[q1, q2a, q2b, q3]``. Leaving the block stops every query — after an
    error quietly, so the error is the one raised — and restores the
    session confs.

    ``lateness`` = (delay_secs, hi): the DWS aggregate marks a watermark of
    ``delay_secs`` and keeps rows with ``ts <= hi`` (append mode, each window
    emitted once on closure, see warehouse_e2e_append); None aggregates in
    complete mode. ``dws_path`` sends the DWS output to a checkpointed
    parquet sink (append mode only); None to the memory sink that
    ``_dws_result(spark, base)`` reads back. The handoff directory names
    and the memory sink are how perfbench/tracing.py attributes progress
    to the ``stream.*`` layers. The DWD and DWM queries are named
    ``<basename(base)>_dwd_page`` / ``_dwm_uv`` / ``_dwm_uj``; the DWS
    query is named ``basename(base)``."""
    if dws_path is not None and lateness is None:
        raise ValueError("the parquet DWS sink is append-only: pass lateness")
    name = os.path.basename(base)
    dwd_page = _dir(base, "dwd_page")
    dwm_uv = _dir(base, "dwm_uv")
    dwm_uj = _dir(base, "dwm_uj")
    trig = {"processingTime": f"{trigger_secs} seconds"}

    def page_stream() -> DataFrame:
        return spark.readStream.schema(PAGE_SCHEMA).parquet(dwd_page)

    def start_parquet(df: DataFrame, path: str, ck: str, query_name: str):
        return (
            df.writeStream.format("parquet")
            .queryName(query_name)
            .option("path", path)
            .option("checkpointLocation", _dir(base, ck))
            .outputMode("append")
            .trigger(**trig)
            .start()
        )

    # q1 — DWD: chunked event source (one file per trigger), cleaned
    # projection (BaseLogApp's parse/clean stage; our events are already
    # structured, so cleaning = typed projection)
    ev = (
        spark.readStream.schema(PAGE_SCHEMA + ", props string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    queries = []
    # One width for all four queries, sized from the source bytes: every
    # later layer reads rows derived from those files, and each partition
    # of a stateful layer pays a state-store commit (and, in the bucketed
    # DWM layers, one Python task) per batch, whatever its rows
    # (session.stream_state_width). Idle progress at trigger cadence so
    # _drain sees quiescence when it happens, not at the 10 s default
    # throttle. Both are captured per query at start(), so they are set
    # before the first start()
    with conf_scope(
        spark,
        {
            "spark.sql.shuffle.partitions": stream_state_width(_stream_input_bytes(ev)),
            "spark.sql.streaming.noDataProgressEventInterval": "250ms",
        },
    ):
        try:
            queries.append(
                start_parquet(
                    ev.select("event_id", "ts", "user_id", "event_type", "value"),
                    dwd_page,
                    "ck_q1",
                    f"{name}_dwd_page",
                )
            )
            # q2a — DWM unique visit (UniqueVisitApp): daily firsts off the
            # live page log; q2b — DWM user jump (UserJumpDetailApp): CEP
            # bounce with event-time timers off the SAME live page log. Both
            # use the hash-bucket grouping: a bounded number of Python calls
            # per batch at any volume, emitting exactly what the per-key
            # grouping would (see streaming/stateful.py)
            uv_rows = dedup_daily_stream(page_stream(), bucketed=True)
            queries.append(start_parquet(uv_rows, dwm_uv, "ck_q2a", f"{name}_dwm_uv"))
            uj_rows = detect_bounce_stream(page_stream(), bucketed=True)
            queries.append(start_parquet(uj_rows, dwm_uj, "ck_q2b", f"{name}_dwm_uj"))

            # q3 — DWS visitor stats (VisitorStatsApp): union the three live
            # layers, count per 10-minute window per metric
            pv = page_stream().select(F.lit("pv").alias("src"), "ts")
            uv = (
                spark.readStream.schema(
                    "user_id long, dt string, first_event_id long, first_ts timestamp"
                )
                .parquet(dwm_uv)
                .select(F.lit("uv").alias("src"), F.col("first_ts").alias("ts"))
            )
            uj = (
                spark.readStream.schema(
                    "event_id long, user_id long, ts timestamp, bounce_reason string"
                )
                .parquet(dwm_uj)
                .select(F.lit("uj").alias("src"), "ts")
            )
            union = pv.unionByName(uv).unionByName(uj)
            if lateness is not None:
                delay_secs, hi = lateness
                # watermark FIRST (sentinel ts must drive it), filter second
                union = union.withWatermark("ts", f"{delay_secs} seconds").filter(
                    F.col("ts") <= F.lit(hi)
                )
            stats = union.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
                *(
                    F.sum(F.when(F.col("src") == s, 1).otherwise(0)).cast("long").alias(f"{s}_ct")
                    for s in ("pv", "uv", "uj")
                )
            )
            if dws_path is None:
                queries.append(
                    stats.writeStream.format("memory")
                    .queryName(name)
                    .outputMode("complete" if lateness is None else "append")
                    .trigger(**trig)
                    .start()
                )
            else:
                queries.append(start_parquet(stats, dws_path, "ck_q3", name))
            yield queries
        except BaseException:
            for q in queries:  # error path — don't leak running queries
                try:
                    q.stop()
                except Exception:
                    pass
            raise
        for q in queries:
            q.stop()


def _dws_result(spark: SparkSession, base: str) -> DataFrame:
    """The memory-sink DWS output of the topology under ``base``, spooled
    (so it does not pin JVM heap for the rest of the session) and projected
    to the entries' window-string contract."""
    out = spool_memory_sink(spark, os.path.basename(base), os.path.join(base, "dws_out"))
    stt, edt = window_bounds(F.col("w"))
    return out.select(stt.alias("stt"), edt.alias("edt"), "pv_ct", "uv_ct", "uj_ct")


def warehouse_e2e(
    spark: SparkSession,
    sf_dir: str,
    trigger_secs: float = 0.3,
    timeout_secs: float = 600.0,
) -> DataFrame:
    """Run the four-query topology over the shared chunk files to
    quiescence; returns the DWS result: one row per 10-minute window with
    pv_ct / uv_ct / uj_ct."""
    base = spool_dir("e2e_")
    src = chunk_events(spark, sf_dir, 3)
    with warehouse_topology(spark, src, base, trigger_secs) as queries:
        _drain(queries, trigger_secs, timeout_secs, spark=spark)
    return _dws_result(spark, base)


def _copy_chunks(shared: str, src: str) -> int:
    """Copy the chunk files of ``shared`` into ``src`` with strictly
    increasing mtimes (the file source's ordering key) and return the
    newest copy's actual mtime — the floor every sentinel must clear."""
    mtime = 1_600_000_000
    for i, f in enumerate(sorted(os.listdir(shared))):
        dst = os.path.join(src, f)
        with open(os.path.join(shared, f), "rb") as a, open(dst, "wb") as b:
            b.write(a.read())
        os.utime(dst, (mtime + i * 10, mtime + i * 10))
    return max(int(os.path.getmtime(os.path.join(src, f))) for f in os.listdir(src))


def _write_sentinel(src: str, tag: str, ts, order: int, newest_chunk_mtime: int) -> None:
    """Drop flush sentinel ``order`` (user -1) into the live source ``src``.
    Its mtime is derived from the newest chunk's, so it sorts after every
    real chunk however many there are, and sentinel B after sentinel A."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": [-(order + 1)],
            "ts": pd.Series([ts], dtype="datetime64[us]"),
            "user_id": [-1],
            "event_type": ["__flush__"],
            "value": [0.0],
            "props": [None],
        }
    )
    # q1 is already polling src (maxFilesPerTrigger=1, fast trigger) when
    # sentinels land, and parquet writes are not atomic: listing could
    # catch a half-written file and fail the batch. Write under a dotted
    # temp name the FileStreamSource's default filter ignores, set the
    # mtime, then rename — the source only ever sees a complete file.
    p = os.path.join(src, f"zz_sentinel_{tag}.parquet")
    tmp = os.path.join(src, f".zz_sentinel_{tag}.parquet.tmp")
    pdf.to_parquet(tmp, index=False)
    stamp = newest_chunk_mtime + 100 + order * 10
    os.utime(tmp, (stamp, stamp))
    os.rename(tmp, p)


def warehouse_e2e_append(
    spark: SparkSession,
    sf_dir: str,
    trigger_secs: float = 0.3,
    timeout_secs: float = 600.0,
) -> DataFrame:
    """The PRODUCTION configuration of the four-query topology: the DWS
    window aggregate runs in APPEND mode with its watermark delay widened by
    the DWM timeout budget — the alternative the complete-mode docstring
    (above) documents. Each window emits exactly once, on closure.

    In production, event time tracks wall clock, so "widen by the timeout
    budget" is literally ``bounce_timeout + base_delay``. This replay
    compresses the whole event-time range into seconds of wall clock, which
    breaks that bound (the pv branch jumps the union watermark to max(ts)
    while timer-flushed uj rows still carry early timestamps), so the replay
    makes the lateness budget explicit instead:

    - DWS delay = (event-time range) + 700 s — no real row can EVER be late,
      making the append output independent of how the four queries'
      micro-batches interleave (the nondeterminism complete mode ducked);
    - sentinel A (ts = max + 610 s, filtered out of every aggregate) pushes
      the DWM watermark past every bounce timer, flushing ALL pending
      entries' timeout bounces — the full-flush twin of the complete-mode
      oracle's `pending.ts + 600 s < wm` closure condition;
    - after the uj flush drains, sentinel B (ts = max + delay + 1200 s)
      pushes the DWS watermark past every real window's end, closing them.

    The sentinels never reach any aggregate: the DWS branches filter
    ``ts <= max(real ts)`` AFTER the watermark column is marked, and the
    sentinel's synthetic user (-1) rows from the uv layer carry first_ts >
    max as well. Emission schedule: nothing closes before sentinel B (the
    delay exceeds the range), so the memory sink holds each real window
    exactly once — duplicate emission, a window lost to lateness, or a
    missed timer flush all break the oracle counts."""
    lo, hi = load_table(spark, sf_dir, "events").agg(F.min("ts"), F.max("ts")).first()
    delay_secs = int((hi - lo).total_seconds()) + 1 + 700

    base = spool_dir("e2ea_")
    src = _dir(base, "src")
    # private copy of the chunk files: sentinels must not pollute the shared
    # chunk cache other entries stream from
    newest = _copy_chunks(chunk_events(spark, sf_dir, 3), src)
    with warehouse_topology(
        spark, src, base, trigger_secs, lateness=(delay_secs, hi)
    ) as queries:
        # Sentinel A is dropped IMMEDIATELY, not after a full-topology drain:
        # it rides the SAME single channel as the real data (src —q1→
        # dwd_page —q2a/q2b→), and ordering is guaranteed end-to-end without
        # any drain — q1's file source takes files oldest-mtime-first (A's
        # pinned mtime sorts after every real chunk), q1 writes batches
        # sequentially, and q2a/q2b discover dwd_page through the file sink's
        # commit log in batch order. So every real page row reaches the DWM
        # state in A's batch or earlier, and a row arriving in the SAME batch
        # as A is still processed under the pre-A watermark (watermarks
        # advance at batch END) — the flushed bounce set is identical to the
        # old drain-then-A schedule (rows pinned by the oracle). A's timer
        # cascade now OVERLAPS the real data flow instead of serializing
        # behind a drained topology (r8 profile: the A cascade alone was
        # ~6.7 s of serial wall).
        #
        # Sentinel B CANNOT be pre-dropped: it must jump the DWS watermark
        # only after q2b's timer-flush rows and q2a's last uv rows are
        # COMMITTED to their directories — those travel dwm_uv/dwm_uj, which
        # q3 discovers independently of dwd_page, so cross-directory order
        # is not guaranteed by any channel. The pre-B drain therefore covers
        # exactly the producing layers {q1, q2a, q2b}: their joint idle
        # streak proves A flowed through q1, both DWM layers consumed
        # everything q1 wrote (including A), and the eviction batches that
        # flush timers have run and committed. q3 is deliberately NOT in the
        # set — any file committed before B lands is listed by q3 in B's
        # batch or earlier, and same-batch rows precede the end-of-batch
        # watermark jump, so q3 keeps ingesting CONCURRENTLY with this drain
        # instead of gating it (the overlap the r8 verdict asked to profile).
        budget = time.monotonic() + timeout_secs
        _write_sentinel(src, "a_timer_flush", hi + timedelta(seconds=610), 0, newest)
        _drain(queries[:3], trigger_secs, timeout_secs, spark=spark)
        _write_sentinel(
            src, "b_window_close", hi + timedelta(seconds=delay_secs + 1200), 1, newest
        )
        # final drain covers ALL four: B must flow through q1→q3, every
        # closed window must reach the sink, and the stop on leaving the
        # block must not interrupt a state-store commit anywhere
        _drain(queries, trigger_secs, max(budget - time.monotonic(), 30.0), spark=spark)
    return _dws_result(spark, base)
