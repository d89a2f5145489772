"""Property tests for the keyed-state kernels (no Spark).

Each kernel in gmall_spark.streaming.stateful is driven the way the
applyInPandasWithState shell drives it: a time-ordered event stream split at
random micro-batch boundaries, hashed into a random number of buckets (or
grouped per key), each group's batch rows shuffled and cut into random
Arrow-style chunks for ``_batch_frame``, a timer invocation for every quiet
group, and the Spark watermark (previous batches' max ts minus the 2 s
delay). The emissions concatenated over all batches must equal a direct
pandas statement of the batch semantics — which pins batch-split,
bucket-count and chunk-order invariance in one property.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from gmall_spark.streaming.stateful import (
    _batch_frame,
    bounce_kernel,
    daily_first_kernel,
    is_new_kernel,
)

TIMEOUT_S = 600
DELAY_MS = 2000
SORT = ["user_id", "ts", "event_id"]
#: a watermark past every deadline: the end-of-stream flush
FLUSH_WM = np.iinfo("int64").max // 2
#: 2021-01-01 23:00 UTC in µs, so streams cross midnights
T0_US = 1_609_542_000_000_000

# gaps between consecutive events (µs): ties, sub-second, both sides of the
# 600 s timeout, and half a day to cross calendar days
_GAP = st.one_of(
    st.integers(0, 2_000_000),
    st.sampled_from(
        [0, 1, 599_999_999, 600_000_000, 600_000_001, 602_000_000, 43_200_000_000]
    ),
)
_EVENT = st.tuples(st.integers(-1, 4), _GAP, st.sampled_from(["view", "view", "click"]))


@st.composite
def streams(draw):
    raw = draw(st.lists(_EVENT, min_size=1, max_size=60))
    n = len(raw)
    ts_us = T0_US + np.cumsum([g for _, g, _ in raw])
    event_id = draw(st.permutations(range(n)))
    events = pd.DataFrame(
        {
            "event_id": np.asarray(event_id, dtype="int64"),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "user_id": np.asarray([k for k, _, _ in raw], dtype="int64"),
            "event_type": [t for _, _, t in raw],
        }
    ).sort_values(["ts", "event_id"], kind="mergesort", ignore_index=True)
    cuts = sorted(set(draw(st.lists(st.integers(1, n), max_size=6))))
    n_buckets = draw(st.one_of(st.none(), st.integers(1, 6)))
    seed = draw(st.integers(0, 2**31 - 1))
    return events, cuts, n_buckets, seed


def _split(df: pd.DataFrame, bounds) -> list[pd.DataFrame]:
    edges = [0, *bounds, len(df)]
    return [df.iloc[a:b] for a, b in zip(edges, edges[1:])]


def _run(kernel, n_state, events, cuts, n_buckets, seed) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    empty = tuple(np.empty(0, dtype="int64") for _ in range(n_state))
    group_of = (lambda k: k) if n_buckets is None else (lambda k: (k * 7919) % n_buckets)
    states: dict = {}
    outs = []
    max_ts_ms = None
    for batch in _split(events, cuts):
        wm = 0 if max_ts_ms is None else max_ts_ms - DELAY_MS
        busy = set()
        for g, rows in batch.groupby(batch["user_id"].map(group_of)):
            rows = rows.iloc[rng.permutation(len(rows))]
            bounds = sorted(rng.integers(0, len(rows) + 1, size=rng.integers(0, 4)))
            chunks = _split(rows, bounds)
            states[g], out = kernel(states.get(g, empty), _batch_frame(iter(chunks), SORT), wm)
            outs.append(out)
            busy.add(g)
        for g in set(states) - busy:
            states[g], out = kernel(states[g], None, wm)
            outs.append(out)
        if len(batch):
            last = int(batch["ts"].max().value // 1_000_000)
            max_ts_ms = last if max_ts_ms is None else max(max_ts_ms, last)
    for g in states:
        states[g], out = kernel(states[g], None, FLUSH_WM)
        outs.append(out)
    outs = [o for o in outs if o is not None and len(o)]
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    if not len(df):
        return []
    df = df[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
    return sorted(map(tuple, df.itertuples(index=False)))


@settings(max_examples=150, deadline=None)
@given(streams())
def test_is_new_kernel_matches_first_event_per_key(s):
    events = s[0]
    got = _run(functools.partial(is_new_kernel, key="user_id"), 1, *s)
    want = events.assign(is_new=(~events["user_id"].duplicated()).astype("int32"))
    cols = ["event_id", "user_id", "is_new"]
    assert _rows(got, cols) == _rows(want, cols)


@settings(max_examples=150, deadline=None)
@given(streams())
def test_daily_first_kernel_matches_first_event_per_key_day(s):
    events = s[0]
    got = _run(functools.partial(daily_first_kernel, key="user_id"), 1, *s)
    dt = events["ts"].dt.strftime("%Y-%m-%d")
    want = events.assign(dt=dt)[~pd.DataFrame({"u": events["user_id"], "d": dt}).duplicated()]
    want = want.rename(columns={"event_id": "first_event_id", "ts": "first_ts"})
    cols = ["user_id", "dt", "first_event_id", "first_ts"]
    assert _rows(got, cols) == _rows(want, cols)


@settings(max_examples=150, deadline=None)
@given(streams())
def test_bounce_kernel_matches_lead_semantics(s):
    events = s[0]
    kernel = functools.partial(bounce_kernel, key="user_id", timeout_secs=TIMEOUT_S)
    got = _run(kernel, 3, *s)
    ev = events.sort_values(SORT, kind="mergesort", ignore_index=True)
    by_key = ev.groupby("user_id")
    nxt_ts, nxt_type = by_key["ts"].shift(-1), by_key["event_type"].shift(-1)
    entry = ev["event_type"].eq("view")
    late = (nxt_ts - ev["ts"]) > pd.Timedelta(seconds=TIMEOUT_S)
    # the key's last entry has no lead(): the end-of-stream flush times it out
    timeout = entry & (nxt_ts.isna() | late)
    match = entry & nxt_ts.notna() & ~late & nxt_type.eq("view")
    want = ev[timeout | match].assign(
        bounce_reason=np.where(timeout[timeout | match], "timeout", "match")
    )
    cols = ["event_id", "user_id", "ts", "bounce_reason"]
    assert _rows(got, cols) == _rows(want, cols)
