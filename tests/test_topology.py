"""Tests for the warehouse topology: the drain and sentinel helpers (no
Spark: stub listener events, stub queries, plain files), and one live run
at sf0.001 for the query names and the state width."""

from __future__ import annotations

import os
from datetime import datetime
from types import SimpleNamespace

import pytest

from gmall_spark.streaming.topology import (
    _IDLE_STREAK,
    _copy_chunks,
    _drain,
    _write_sentinel,
    warehouse_topology,
)


def test_sentinels_sort_after_every_chunk(tmp_path):
    """The file source takes files oldest-mtime-first, so the flush
    sentinels must sort after every real chunk. With >= 11 chunks spaced
    10 s apart, a fixed base+100 s sentinel mtime would tie or sort before
    the later chunks; deriving it from the newest chunk's mtime cannot."""
    shared, src = tmp_path / "shared", tmp_path / "src"
    shared.mkdir()
    src.mkdir()
    n_batches = 12
    for i in range(n_batches):
        (shared / f"part-{i:03d}.parquet").write_bytes(b"x")
    newest = _copy_chunks(str(shared), str(src))
    ts = datetime(2021, 1, 1)
    _write_sentinel(str(src), "b_window_close", ts, 1, newest)
    _write_sentinel(str(src), "a_timer_flush", ts, 0, newest)

    by_mtime = sorted(os.listdir(src), key=lambda f: os.path.getmtime(src / f))
    assert len(set(os.path.getmtime(src / f) for f in by_mtime)) == n_batches + 2
    assert by_mtime[-2:] == [
        "zz_sentinel_a_timer_flush.parquet",
        "zz_sentinel_b_window_close.parquet",
    ]
    assert by_mtime[:-2] == sorted(os.listdir(shared))


class _DeadQuery:
    """A query that terminated: any py4j-style access is an error."""

    def __init__(self, run_id: str) -> None:
        self.runId = run_id

    @property
    def lastProgress(self):
        raise AssertionError("belt read lastProgress of a terminated query")

    @property
    def status(self):
        raise AssertionError("belt read status of a terminated query")


class _Streams:
    """Stub spark.streams: on registration, the listener sees every query
    reach the idle streak and then one query terminate — the window between
    the streak wait and the belt's py4j calls."""

    def addListener(self, watch) -> None:
        for rid in list(watch._streaks):
            for _ in range(_IDLE_STREAK):
                watch.onQueryIdle(SimpleNamespace(runId=rid))
        watch.onQueryTerminated(SimpleNamespace(runId="q2", exception="boom"))

    def removeListener(self, watch) -> None:
        pass


def test_drain_rechecks_termination_before_belt():
    spark = SimpleNamespace(streams=_Streams())
    queries = [_DeadQuery("q1"), _DeadQuery("q2")]
    with pytest.raises(RuntimeError, match="q2 terminated during drain: boom"):
        _drain(queries, 0.3, 5.0, spark=spark)


def test_quiesce_listener_streak_accounting():
    from types import SimpleNamespace

    from gmall_spark.streaming.topology import _IDLE_STREAK, _QuiesceListener

    w = _QuiesceListener({"r1", "r2"})
    assert w.min_streak() == 0

    # idle events accumulate per query; min is over ALL tracked queries
    for _ in range(_IDLE_STREAK):
        w.onQueryIdle(SimpleNamespace(runId="r1"))
    assert w.min_streak() == 0  # r2 has no streak yet
    for _ in range(_IDLE_STREAK):
        w.onQueryIdle(SimpleNamespace(runId="r2"))
    assert w.min_streak() == _IDLE_STREAK

    # an executed batch ANYWHERE (progress event from a tracked query)
    # resets EVERY streak — its output may feed an undiscovered downstream
    w.onQueryProgress(
        SimpleNamespace(progress=SimpleNamespace(runId="r2"))
    )
    assert w.min_streak() == 0

    # events from untracked queries (other work on the shared session) are
    # ignored in both directions
    for _ in range(_IDLE_STREAK):
        w.onQueryIdle(SimpleNamespace(runId="r1"))
        w.onQueryIdle(SimpleNamespace(runId="r2"))
    w.onQueryProgress(
        SimpleNamespace(progress=SimpleNamespace(runId="other"))
    )
    assert w.min_streak() == _IDLE_STREAK
    w.onQueryIdle(SimpleNamespace(runId="other"))
    assert w.min_streak() == _IDLE_STREAK

    # reset() is the caller's re-arm between belt-check failures
    w.reset()
    assert w.min_streak() == 0


def test_live_topology_names_and_state_width(spark, sf_dir, tmp_path):
    """Every query carries its layer's name, and every stateful operator of
    the topology runs at the one width sized from the source bytes — 1 at
    sf0.001 — whatever the host's cores."""
    from gmall_spark.session import stream_state_width
    from gmall_spark.streaming.multibatch import chunk_events

    src = chunk_events(spark, sf_dir, 3)
    src_bytes = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
    width = stream_state_width(src_bytes)
    assert width == 1
    base = str(tmp_path / "topo")
    name = os.path.basename(base)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with warehouse_topology(spark, src, base) as queries:
        _drain(queries, 0.3, 300.0, spark=spark)
        assert [q.name for q in queries] == [
            f"{name}_dwd_page",
            f"{name}_dwm_uv",
            f"{name}_dwm_uj",
            name,
        ]
        assert {q.name for q in queries} <= {q.name for q in spark.streams.active}
        for q in queries[1:]:
            widths = {
                op["numShufflePartitions"]
                for p in q.recentProgress
                for op in p["stateOperators"]
            }
            assert widths == {width}, (q.name, widths)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
