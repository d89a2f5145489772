"""Unit tests for session-level scratch/spool plumbing and the streaming
state-width rule (no SparkSession).

The spool GC bug class these pin down: ``run_to_memory`` and friends return
LAZY DataFrames whose only backing data is a parquet spool directory. A
TTL-only sweep deletes that directory out from under any process alive
longer than the TTL; the pid tag in ``spool_dir`` names makes the creating
process's liveness checkable from the dirname so the GC can exempt it.
"""

import os
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import gmall_spark.session as sess


def _make_entry(spool_root, name, age_secs):
    p = os.path.join(spool_root, name)
    os.makedirs(p)
    old = time.time() - age_secs
    os.utime(p, (old, old))
    return p


def _run_gc(spool_root):
    # defeat the once-a-minute throttle so each test invocation sweeps
    sess._last_spool_gc = 0.0
    sess._gc_scratch_spool(spool_root)


def test_spool_dir_embeds_live_pid(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    d = sess.spool_dir("memsink_x_")
    assert f"__p{os.getpid()}__" in os.path.basename(d)
    assert os.path.isdir(d)


def test_gc_keeps_expired_spool_of_live_process(tmp_path):
    root = str(tmp_path / "spool")
    os.makedirs(root)
    live = _make_entry(
        root, f"memsink_q1___p{os.getpid()}__abc", sess._SPOOL_TTL_SECS + 60
    )
    _run_gc(root)
    assert os.path.isdir(live), "expired-by-mtime spool of a LIVE pid must survive"


def test_gc_legacy_tag_pid_not_shadowed_by_prefix_digits(tmp_path):
    """Old-format names resolve the LAST ``p<digits>_`` match: a prefix like
    ``memsink_top10_`` contains ``p10_`` and must NOT shadow the real pid tag
    — pid 10 is typically a dead/kernel pid, and resolving to it would delete
    a live process's spool (the exact bug the pid tag exists to prevent)."""
    root = str(tmp_path / "spool")
    os.makedirs(root)
    live = _make_entry(
        root, f"memsink_top10_p{os.getpid()}_abc", sess._SPOOL_TTL_SECS + 60
    )
    _run_gc(root)
    assert os.path.isdir(live), "legacy spool of a LIVE pid must survive prefix shadowing"


def test_gc_deletes_expired_spool_of_dead_process(tmp_path):
    root = str(tmp_path / "spool")
    os.makedirs(root)
    # pid 2**22-1 is above the default kernel pid_max (4194304 exclusive) on
    # this platform's config; even if alive-checkable, fall back tolerated
    dead_pid = 4194303
    try:
        os.kill(dead_pid, 0)
        alive = True
    except ProcessLookupError:
        alive = False
    except OSError:
        alive = True
    entry = _make_entry(root, f"mb_spool_p{dead_pid}_xyz", sess._SPOOL_TTL_SECS + 60)
    _run_gc(root)
    if alive:  # environment has that pid running; nothing to assert
        return
    assert not os.path.exists(entry)


def test_gc_keeps_fresh_entries_regardless_of_tag(tmp_path):
    root = str(tmp_path / "spool")
    os.makedirs(root)
    fresh_tagged = _make_entry(root, "e2e_p4194303_new", 60)
    fresh_untagged = _make_entry(root, "landing_new", 60)
    _run_gc(root)
    assert os.path.isdir(fresh_tagged)
    assert os.path.isdir(fresh_untagged)


def test_gc_deletes_expired_untagged_entries(tmp_path):
    # pre-tag layout / foreign writers: TTL-only, as before
    root = str(tmp_path / "spool")
    os.makedirs(root)
    stale = _make_entry(root, "landing_old", sess._SPOOL_TTL_SECS + 60)
    _run_gc(root)
    assert not os.path.exists(stale)


@pytest.mark.parametrize("cpus", ["1", "4", "32"])
# the env var is the same for every example, so the fixture may be shared
@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=st.integers(0, 1 << 50), b=st.integers(0, 1 << 50))
def test_stream_state_width_follows_bytes(monkeypatch, cpus, a, b):
    """Floor 1, never above cores, non-decreasing in the input bytes, and
    exactly ceil(bytes / BYTES_PER_PARTITION) in between."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    cores = int(cpus)
    assert sess.stream_state_width(0) == 1
    assert sess.stream_state_width(sess.BYTES_PER_PARTITION) == 1
    assert sess.stream_state_width(sess.BYTES_PER_PARTITION + 1) == min(2, cores)
    lo, hi = sorted((a, b))
    w_lo, w_hi = sess.stream_state_width(lo), sess.stream_state_width(hi)
    assert 1 <= w_lo <= w_hi <= cores
    per = sess.BYTES_PER_PARTITION
    assert w_lo == min(cores, max(1, (lo + per - 1) // per))
