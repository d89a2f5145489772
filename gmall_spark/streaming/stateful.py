"""Streaming stateful operators — the Flink keyed-state/CEP pieces
(SURVEY §2.7 ST1–ST3) as applyInPandasWithState / transformWithState.

These are the only operators in the engine that need arbitrary keyed state;
everything else is declarative. Each mirrors its batch twin in
operators/stateful.py (same outputs on the same fully-arrived data), and the
tests assert exactly that equivalence.

Design — one kernel per semantics, thin shells over it:

- **Kernels.** Each keyed-state semantics is written ONCE as a pure numpy
  function ``kernel(state, pdf, wm_ms) -> (state, emissions)``:
  ``is_new_kernel`` (BaseLogApp's first-touch repair), ``daily_first_kernel``
  (UniqueVisitApp's daily dedup) and ``bounce_kernel`` (UserJumpDetailApp's
  CEP bounce). ``state`` is a tuple of aligned int64 arrays holding the
  entries of every key in the group; ``pdf`` is the group's micro-batch
  from ``_batch_frame``, sorted by (key, ts, event_id), or None on a timer
  invocation; ``wm_ms`` is the event-time watermark. A kernel never touches
  Spark, so its batch-split and bucket invariance are property-tested
  directly (tests/test_keyed_state_kernels.py).
- **Grouping.** ``_keyed_state`` is the one applyInPandasWithState shell.
  Per-key grouping (``bucketed=False``) groups by the entity key — the
  faithful Flink analog, one state row of ≤1-long arrays per entity.
  Bucketed grouping groups by pmod(xxhash64(key), 4·cores): one state row
  per bucket, so a micro-batch costs a bounded number of Python
  invocations instead of one per active entity (7.6–13.5× at sf10). The
  bucket count does not depend on the width the query runs at, so bucketed
  state takes the byte-sized session.stream_state_width. Per-key
  is simply identity bucketing — Flink's key-group idea (*State Management
  in Apache Flink*, VLDB 2017) — and both groupings emit bit-identically.
- **TWS adapters.** ``fix_is_new_tws`` / ``detect_bounce_tws`` map their
  typed ValueState and first-class timers onto the same kernels.

Scale notes:
- Event-time timeouts are watermark-driven: a pending entry times out when
  the watermark passes it, which is Flink's event-time timer semantics
  (UserJumpDetailApp's CEP within(10s) timeout path). Bucketed grouping
  keeps one group timer at the minimum pending deadline, and the bounce
  kernel sweeps every due pending on each invocation.
- Batches arrive unordered *between* micro-batches; the carried state keeps
  the ordering guarantee forward (the reference relies on Kafka
  per-partition order the same way).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: kernel state: aligned int64 arrays, one entry per (key, ...) in the group
State = tuple[np.ndarray, ...]

#: day code = key·2¹⁶ + epoch day (the day fits 16 bits until year 2149)
_DAY_BITS = 1 << 16


def _batch_frame(
    pdfs: Iterator[pd.DataFrame], sort_cols: list[str] | None = None
) -> pd.DataFrame | None:
    """Concatenate a group's micro-batch chunks and sort ONCE globally —
    the only order-sound way to consume the keyed-state chunk iterator.

    Spark hands a group's rows as an iterator of Arrow-batch slices whose
    ORDER IS ARBITRARY: rows within a shuffle partition are clustered by
    key but not time-sorted, so a key whose rows straddle an Arrow-batch
    boundary sees its later chunk first. A per-chunk sort-then-carry
    pattern is therefore order-UNSOUND — it passes small-scale gates
    (groups rarely straddle a 10k-row Arrow batch there) and lost 95 of
    1,970,000 bounce rows in the first sf10 topology verification
    (BENCH_r08_e2e_sf10_ab.json). Memory: this buffers ONE group's batch
    slice — a key's per-batch volume, or batch/buckets when bucketed.

    Returns None when the batch holds no rows for the group; the result has
    a fresh positional index (chunk concat repeats labels, and callers use
    positional logic)."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    return pdf.sort_values(
        sort_cols or ["ts", "event_id"], kind="mergesort"
    ).reset_index(drop=True)


def _starts(a: np.ndarray) -> np.ndarray:
    """Mask of the rows where a sorted array takes a new value."""
    out = np.ones(len(a), dtype=bool)
    out[1:] = a[1:] != a[:-1]
    return out


def is_new_kernel(
    state: State, pdf: pd.DataFrame | None, wm_ms: int, *, key: str
) -> tuple[State, pd.DataFrame | None]:
    """ST1 — first-touch is_new repair (BaseLogApp.java:69-94). State: the
    ever-seen keys. A key's first-ever event (its first row in the batch,
    and not yet seen) keeps is_new=1; every later one is rewritten to 0.
    Emits (event_id, key, is_new) for every input row. There is no horizon
    to trim: like Flink's keyed ValueState, a seen key stays seen."""
    (seen,) = state
    if pdf is None:
        return state, None
    k = pdf[key].to_numpy()
    first = _starts(k) & ~np.isin(k, seen)
    out = pd.DataFrame(
        {"event_id": pdf["event_id"].to_numpy(), key: k, "is_new": first.astype("int32")}
    )
    return (np.union1d(seen, k[first]),), out


def daily_first_kernel(
    state: State, pdf: pd.DataFrame | None, wm_ms: int, *, key: str
) -> tuple[State, pd.DataFrame | None]:
    """ST2 — daily UV dedup (UniqueVisitApp.java:45-87): keep each key's
    first event per calendar day. State: the seen (key, day) codes.

    Retention is the reference's ValueState TTL (24 h) as a sliding window
    on the group's latest day: codes older than max-day − 1 are dropped.
    With time-ordered arrival (the chunked sources here; Kafka
    per-partition order in the reference) no new event can be older than
    that, so the trim never changes an emission. Emits
    (key, dt, first_event_id, first_ts)."""
    (codes,) = state
    out = None
    if pdf is not None:
        ts = pdf["ts"]
        k = pdf[key].to_numpy()
        code = k * _DAY_BITS + ts.to_numpy().astype("datetime64[D]").astype("int64")
        # (key, ts)-sorted rows keep each code's rows adjacent
        fresh = _starts(code) & ~np.isin(code, codes)
        codes = np.union1d(codes, code[fresh])
        out = pd.DataFrame(
            {
                key: k[fresh],
                "dt": ts[fresh].dt.strftime("%Y-%m-%d").to_numpy(),
                "first_event_id": pdf["event_id"].to_numpy()[fresh],
                "first_ts": ts.to_numpy()[fresh],
            }
        )
    if len(codes):
        day = codes % _DAY_BITS
        codes = codes[day >= day.max() - 1]
    return (codes,), out


def _deadline_ms(ptsus: np.ndarray, timeout_secs: int) -> np.ndarray:
    """Event-time timer deadline (epoch ms) of each pending entry."""
    return ptsus // 1000 + timeout_secs * 1000


def bounce_kernel(
    state: State,
    pdf: pd.DataFrame | None,
    wm_ms: int,
    *,
    key: str,
    entry_type: str = "view",
    timeout_secs: int = 600,
) -> tuple[State, pd.DataFrame]:
    """ST3 — CEP bounce with BOTH emit paths (UserJumpDetailApp.java:70-120):
    an entry event is a bounce if the key's next event is another entry
    (match path) or comes more than the timeout later, or if the watermark
    passes the entry's deadline with no follow-up (timeout path — Flink's
    CEP timeout side-output). State: the pending trailing entry of each key,
    as (key, pending_id, pending_ts µs).

    - Sweep: a pending whose key has no row in the batch fires once
      ``watermark > ms(ts) + timeout`` — the STRICTLY-beyond predicate
      Spark applies when firing an event-time timer. The sweep also runs
      on the input path: a group that receives any event gets no timer
      invocation that batch, yet its quiet keys' deadlines may have passed.
    - Resolution: a pending whose key is in the batch resolves against the
      key's FIRST event by the integer-µs gap (timeout if late, match if
      the first event is an entry, dropped otherwise).
    - lead(): within the batch, rows are (key, ts, event_id)-sorted, so row
      i+1 is the same key's next event unless a new key starts there.
    - Trailing entry: each key's last event, if an entry, is its new
      pending.

    Emits (event_id, key, ts, bounce_reason)."""
    ks, pids, ptsus = state
    due = wm_ms > _deadline_ms(ptsus, timeout_secs)
    if pdf is None:
        keep = ~due
        out = _bounce_frame(key, [(pids[due], ks[due], ptsus[due], "timeout")])
        return (ks[keep], pids[keep], ptsus[keep]), out

    tmo_us = timeout_secs * 1_000_000
    kcol = pdf[key].to_numpy()
    ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    eid = pdf["event_id"].to_numpy()
    entry = pdf["event_type"].eq(entry_type).to_numpy()
    new_key = _starts(kcol)
    first_pos = np.flatnonzero(new_key)
    last_pos = np.append(first_pos[1:] - 1, len(kcol) - 1)
    uniq = kcol[first_pos]

    idx = np.searchsorted(uniq, ks)
    present = uniq[np.minimum(idx, len(uniq) - 1)] == ks
    fp = first_pos[idx[present]]
    late = ts_us[fp] - ptsus[present] > tmo_us
    matched = ~late & entry[fp]
    swept = ~present & due
    parts = [(pids[swept], ks[swept], ptsus[swept], "timeout")]
    for mask, why in ((late, "timeout"), (matched, "match")):
        parts.append((pids[present][mask], ks[present][mask], ptsus[present][mask], why))

    # zeros at the last row: it never survives `decided`, but it still flows
    # through the subtraction, and uninitialised int64 can warn on overflow
    has_next = np.zeros(len(kcol), dtype=bool)
    has_next[:-1] = ~new_key[1:]
    gap = np.zeros(len(kcol), dtype="int64")
    gap[:-1] = ts_us[1:] - ts_us[:-1]
    nxt_entry = np.zeros(len(kcol), dtype=bool)
    nxt_entry[:-1] = entry[1:]
    decided = entry & has_next
    t_hits = decided & (gap > tmo_us)
    m_hits = decided & ~t_hits & nxt_entry
    for mask, why in ((t_hits, "timeout"), (m_hits, "match")):
        parts.append((eid[mask], kcol[mask], ts_us[mask], why))

    # kept pendings are of keys absent from the batch, so they never
    # collide with the new trailing entries
    keep = ~present & ~due
    tail = last_pos[entry[last_pos]]
    state = (
        np.concatenate([ks[keep], kcol[tail]]),
        np.concatenate([pids[keep], eid[tail]]),
        np.concatenate([ptsus[keep], ts_us[tail]]),
    )
    return state, _bounce_frame(key, parts)


def _bounce_frame(key: str, parts: list[tuple]) -> pd.DataFrame:
    """(event_id, key, ts µs, reason) parts → one emission frame."""
    eid, k, ts_us = (np.concatenate([p[i] for p in parts]) for i in range(3))
    reason = np.concatenate([np.full(len(p[0]), p[3], dtype=object) for p in parts])
    return pd.DataFrame(
        {
            "event_id": eid.astype("int64"),
            key: k.astype("int64"),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "bounce_reason": reason,
        }
    )


def _keyed_state(
    events: DataFrame,
    key: str,
    bucketed: bool,
    kernel: Callable[..., tuple[State, pd.DataFrame | None]],
    out_schema: str,
    state_fields: list[str],
    wake: Callable[[State], int] | None = None,
) -> DataFrame:
    """The one applyInPandasWithState shell over a kernel: load the group's
    state arrays, hand the kernel the globally sorted batch (None on a
    timer invocation) and the watermark, store what it returns.

    Grouping is ``key`` itself or, when ``bucketed``, the hash bucket
    pmod(xxhash64(key), 4 · stream_shuffle_width()). ``wake`` maps a
    non-empty state to the group's event-time timer (epoch ms); without it
    the operator runs with NoTimeout and never reads the watermark."""
    from pyspark.sql import functions as F

    from gmall_spark.session import stream_shuffle_width

    state_schema = ", ".join(f"{f} array<long>" for f in state_fields)
    empty = tuple(np.empty(0, dtype="int64") for _ in state_fields)
    sort_cols = [key, "ts", "event_id"]

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = (
            tuple(np.asarray(a or (), dtype="int64") for a in state.get)
            if state.exists
            else empty
        )
        pdf = None if state.hasTimedOut else _batch_frame(pdfs, sort_cols)
        st, out = kernel(st, pdf, state.getCurrentWatermarkMs() if wake else 0)
        if len(st[0]):
            state.update(tuple(a.tolist() for a in st))
            if wake:
                state.setTimeoutTimestamp(wake(st))
        else:
            state.remove()
        if out is not None and len(out):
            yield out

    group = key
    if bucketed:
        group = "_bkt"
        events = events.withColumn(
            group, F.pmod(F.xxhash64(F.col(key)), F.lit(4 * stream_shuffle_width()))
        )
    timeout = GroupStateTimeout.EventTimeTimeout if wake else GroupStateTimeout.NoTimeout
    return events.groupBy(group).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def fix_is_new_stream(
    events: DataFrame, key: str = "user_id", bucketed: bool = False
) -> DataFrame:
    """ST1 — new/old-visitor repair (BaseLogApp.java:69-94) as keyed state
    over ``is_new_kernel``; ``bucketed`` picks the hash-bucket grouping.
    Emits (event_id, key, is_new)."""
    return _keyed_state(
        events,
        key,
        bucketed,
        functools.partial(is_new_kernel, key=key),
        f"event_id long, {key} long, is_new int",
        ["seen"],
    )


def dedup_daily_stream(
    events: DataFrame, key: str = "user_id", bucketed: bool = False
) -> DataFrame:
    """ST2 — daily UV dedup (UniqueVisitApp.java:45-87) as keyed state over
    ``daily_first_kernel``; ``bucketed`` picks the hash-bucket grouping.
    Emits (key, dt, first_event_id, first_ts)."""
    return _keyed_state(
        events,
        key,
        bucketed,
        functools.partial(daily_first_kernel, key=key),
        f"{key} long, dt string, first_event_id long, first_ts timestamp",
        ["codes"],
    )


def detect_bounce_stream(
    events: DataFrame,
    key: str = "user_id",
    entry_type: str = "view",
    timeout_secs: int = 600,
    watermark: str = "2 seconds",
    bucketed: bool = False,
) -> DataFrame:
    """ST3 — CEP bounce detection (UserJumpDetailApp.java:70-120) as keyed
    state over ``bounce_kernel``, with an event-time timer at the group's
    earliest pending deadline; ``bucketed`` picks the hash-bucket grouping.
    Emits (event_id, key, ts, bounce_reason)."""
    return _keyed_state(
        events.withWatermark("ts", watermark),
        key,
        bucketed,
        functools.partial(
            bounce_kernel, key=key, entry_type=entry_type, timeout_secs=timeout_secs
        ),
        f"event_id long, {key} long, ts timestamp, bounce_reason string",
        ["ks", "pids", "ptsus"],
        wake=lambda st: int(_deadline_ms(st[2], timeout_secs).min()),
    )


def ewma_stream(events: DataFrame, key: str = "user_id", alpha: float = 0.5) -> DataFrame:
    """Streaming twin of the batch ewma_user_value entry: per-key EWMA as a
    one-value keyed fold (state = running ewma + event count), emitting the
    updated (key, n_events, ewma) once per micro-batch the key appears in.

    The fold is a deliberate per-row Python loop, NOT a vectorized power-sum:
    EWMA is inherently sequential, and only the literal acc*α' + x*α order
    reproduces the batch twin's F.aggregate fold bit-for-bit (a numpy
    dot-with-powers evaluates the same sum in a different order → an ulp
    off → a different value-hash). The loop runs over one key's rows in one
    micro-batch — same asymptotics as the vectorized path, and the state
    carried between batches is two scalars, never a row buffer."""

    out_schema = f"{key} long, n_events long, ewma double"
    state_schema = "ewma double, n long"
    keep = 1.0 - alpha

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc, n = (state.get if state.exists else (0.0, 0))
        # one globally-sorted frame per batch (see _batch_frame): the fold
        # order must be the batch's true event-time order, and the oracle
        # models ONE cumulative emission per (key, batch) — the previous
        # per-chunk yield emitted once per Arrow chunk, a latent
        # cardinality mismatch whenever a key straddled a chunk boundary
        pdf = _batch_frame(pdfs)
        if pdf is not None:
            for x in pdf["value"].tolist():
                acc = acc * keep + x * alpha
            n += len(pdf)
            yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n], "ewma": [acc]})
        state.update((acc, n))

    return events.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def gapfill_stream(
    events: DataFrame,
    key: str = "event_type",
    ts: str = "ts",
    watermark: str = "2 seconds",
) -> DataFrame:
    """Streaming gap-fill + LOCF — the timer-driven twin of the batch
    gapfill_locf entry, and the one operator here that EMITS SYNTHETIC ROWS:
    hourly buckets with no data at all are materialized (with the last
    observed count carried forward) as the watermark closes them. Flink
    users build this with registerEventTimeTimer; Spark has no built-in, so
    it is keyed state (pending bucket counts + emission cursor + LOCF carry)
    plus an event-time timer that wakes the key when its next bucket can
    close — including on batches where the key received NO data (the
    heartbeat path a windowed agg cannot express, since windows only exist
    where rows do).

    Emission rule (deterministic, oracle-replayable): a bucket [b, b+1h)
    emits in the first invocation whose watermark wm satisfies
    b + 1h <= wm; the per-key grid runs from the key's first observed
    bucket through the last closed bucket, is_gap marking synthesized rows.
    State is the open-bucket tail plus two scalars — bounded by the key's
    out-of-orderness, not its history."""

    hour = 3_600_000
    out_schema = f"{key} string, bucket timestamp, filled_ct long, is_gap boolean"
    state_schema = "bms array<long>, cts array<long>, nxt long, carry long"

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bms, cts, nxt, carry = state.get
            obs = dict(zip(list(bms), list(cts)))
        else:
            obs, nxt, carry = {}, None, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            # unit-agnostic epoch-ms (Arrow hands ns here, µs elsewhere)
            ms = (pdf[ts] - pd.Timestamp(0)) // pd.Timedelta(milliseconds=1)
            b = ms // hour * hour
            for bm, c in b.value_counts().items():
                obs[int(bm)] = obs.get(int(bm), 0) + int(c)
        wm = state.getCurrentWatermarkMs()
        rows = []
        if obs and nxt is None:
            nxt = min(obs)
        if nxt is not None:
            # belt: the watermark pre-filter already drops rows of closed
            # buckets; never let one resurrect an emitted bucket
            obs = {b: c for b, c in obs.items() if b >= nxt}
        if nxt is not None and wm > 0:
            last_closed = (wm - hour) // hour * hour
            while nxt <= last_closed:
                c = obs.pop(nxt, None)
                if c is not None:
                    carry = c
                    rows.append((nxt, c, False))
                else:
                    rows.append((nxt, carry, True))
                nxt += hour
        if rows:
            yield pd.DataFrame(
                {
                    key: key_tuple[0],
                    "bucket": pd.to_datetime([r[0] for r in rows], unit="ms"),
                    "filled_ct": [r[1] for r in rows],
                    "is_gap": [r[2] for r in rows],
                }
            )
        ks = sorted(obs)
        state.update((ks, [obs[k] for k in ks], nxt, carry))
        if obs:
            # wake this key when its next pending bucket can close (strictly
            # beyond the current watermark, as the API requires)
            state.setTimeoutTimestamp(max(wm + 1, (min(obs) + hour)))

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def _require_protobuf(fallback: str) -> None:
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package; use "
            f"{fallback} (applyInPandasWithState) in this environment"
        ) from exc


def _tws_on_rocksdb(events: DataFrame) -> None:
    # transformWithState runs only on the RocksDB state store (its column-
    # family model); the default HDFS-backed store can't host it
    from gmall_spark.session import enable_rocksdb_state

    enable_rocksdb_state(events.sparkSession)


def fix_is_new_tws(events: DataFrame, key: str = "user_id") -> DataFrame:
    """ST1 on the Spark 4 transformWithStateInPandas API: ``is_new_kernel``
    behind typed per-key ValueState managed by a StatefulProcessor — the
    closest structural analog to the reference's Flink ValueState code
    (BaseLogApp.java:69-94). The seen flag maps to the kernel's per-key
    state: [key] when set, empty otherwise.

    Requires `protobuf` (the TWS state-server protocol) — wired up from the
    image's gcloud-vendored runtime by compat.ensure_protobuf (see its
    docstring); the applyInPandasWithState shell remains the default
    production path, and the equivalence test + the streaming_tws_is_new
    registry entry exercise this one."""
    _require_protobuf("fix_is_new_stream")
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key, T.LongType()),
            T.StructField("is_new", T.IntegerType()),
        ]
    )
    sort_cols = [key, "ts", "event_id"]

    class IsNewProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.seen = handle.getValueState(
                "seen", T.StructType([T.StructField("v", T.IntegerType())])
            )

        def handleInputRows(self, key_tuple, rows, timerValues):
            was_seen = self.seen.exists() and self.seen.get()[0] == 1
            seen = np.asarray(key_tuple[:1] if was_seen else (), dtype="int64")
            (seen,), out = is_new_kernel(
                (seen,), _batch_frame(rows, sort_cols), 0, key=key
            )
            self.seen.update((int(len(seen) > 0),))
            if out is not None:
                yield out

        def close(self) -> None:
            pass

    _tws_on_rocksdb(events)
    return events.groupBy(key).transformWithStateInPandas(
        IsNewProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )


def detect_bounce_tws(
    events: DataFrame,
    key: str = "user_id",
    entry_type: str = "view",
    timeout_secs: int = 600,
    watermark: str = "2 seconds",
) -> DataFrame:
    """ST3 on the transformWithState timer API: ``bounce_kernel`` behind
    FIRST-CLASS event-time timers (handle.registerTimer /
    handleExpiredTimer) instead of applyInPandasWithState's single implicit
    timeout slot. The pending entry lives in ValueState as one
    (pending_id, pending_us) pair — the kernel's per-key state — with one
    timer at its deadline; handleExpiredTimer runs the kernel's sweep.

    Why this adapter exists: timers are where TWS earns its keep over the
    GroupState API (many per key, listable, deletable — a key replacing its
    pending entry deletes the stale timer instead of overwriting a slot),
    and the timer column family is a distinct state shape whose eviction
    the metrics-level test pins (numRowsRemoved must track resolved
    pendings, not history). Requires protobuf + RocksDB store, exactly like
    fix_is_new_tws."""
    _require_protobuf("detect_bounce_stream")
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key, T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("bounce_reason", T.StringType()),
        ]
    )
    sort_cols = [key, "ts", "event_id"]
    kernel = functools.partial(
        bounce_kernel, key=key, entry_type=entry_type, timeout_secs=timeout_secs
    )

    class BounceProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            # pending trailing entry: (event_id, event-time as epoch micros).
            # Micros-as-long rather than a timestamp field: the state row
            # round-trips through the TWS Arrow protocol bit-exactly, and
            # the timer expiry derives from the same integer (no tz/unit
            # coupling between the two column families).
            self.pending = handle.getValueState(
                "pending",
                T.StructType(
                    [
                        T.StructField("pending_id", T.LongType()),
                        T.StructField("pending_us", T.LongType()),
                    ]
                ),
            )

        def _step(self, k, pdf, wm_ms: int, fired: bool):
            if self.pending.exists():
                pid, pus = self.pending.get()
                st = tuple(np.array([v], dtype="int64") for v in (k, pid, pus))
            else:
                st = (np.empty(0, dtype="int64"),) * 3
            (_, pids, ptsus), out = kernel(st, pdf, wm_ms)
            if not fired:
                # the firing timer is auto-removed by the engine, and
                # deleting it again logs a TimerStateImpl warning
                for t in self.handle.listTimers():
                    self.handle.deleteTimer(t)
            if len(pids):
                self.pending.update((int(pids[0]), int(ptsus[0])))
                self.handle.registerTimer(int(_deadline_ms(ptsus, timeout_secs)[0]))
            else:
                self.pending.clear()
            if len(out):
                yield out

        def handleInputRows(self, key_tuple, rows, timerValues):
            yield from self._step(
                key_tuple[0],
                _batch_frame(rows, sort_cols),
                timerValues.getCurrentWatermarkInMs(),
                fired=False,
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # (named ``key``: the engine invokes this hook with keyword
            # arguments, unlike handleInputRows.) The timer was registered
            # at the pending's deadline, so the watermark that fired it is
            # past that deadline: one ms beyond it makes the sweep fire.
            yield from self._step(
                key[0], None, expiredTimerInfo.getExpiryTimeInMs() + 1, fired=True
            )

        def close(self) -> None:
            pass

    _tws_on_rocksdb(events)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(key)
        .transformWithStateInPandas(
            BounceProcessor(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="eventTime",
        )
    )
