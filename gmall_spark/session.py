"""SparkSession factory.

The reference pins parallelism to 1 everywhere
(``gmall-realtime/src/main/java/com/aron/app/dwd/BaseLogApp.java:30``); we do
the opposite and design for N >> 1: AQE on, shuffle partitions sized to the
environment, Arrow enabled for the Pandas-UDF slow path.

The reference hardcodes UTC+8
(``gmall-realtime/src/main/java/com/aron/utils/DateTimeUtil.java:20``); for the
DuckDB oracle (naive/UTC timestamps) we pin the session timezone to UTC and
treat timezone as a deployment config, not engine logic.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import SparkSession

# At 100 TB scale these become cluster-submit confs; the values here are the
# scale-relevant defaults that hold at any size (AQE, skew handling, pushdown),
# with sizes parameterized by env.
SCALE_CONFS = {
    # Runtime re-planning: coalesce tiny post-shuffle partitions, split skewed
    # ones, and convert sort-merge joins to broadcast when a side turns out
    # small. This is the single most important 100TB knob set.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Deliberately NOT set: adaptive.coalescePartitions.initialPartitionNum.
    # Starting every plan wide (8× cores) and letting AQE coalesce down is
    # the textbook spill-aware default, and at sf100 it is worth real money
    # (label_communities 1599.9 s → 1327.4 s at 256 vs 32 partitions) — but
    # this codebase's iterative kernels localCheckpoint each round, which
    # MATERIALIZES the wide partitioning outside AQE's coalesce reach, so at
    # bench scale every subsequent round pays 8× the task overhead (measured:
    # label_communities 4.4 → 9.7 s, pagerank 3.3 → 5.9 s at sf0.1). Scale
    # deployments size the width explicitly instead:
    # SPARK_GRAFT_SHUFFLE_PARTITIONS=256 (a static conf on a cluster), which
    # is how the sf100 number above was measured.
    # Map-side distinct-agg partials before the shuffle.
    "spark.sql.optimizer.distinctBeforeIntersect.enabled": "true",
    # Deliberately NOT raised: objectHashAggregate.sortBased.fallbackThreshold.
    # Measured on the sf10 adjacency build (warm, same session, interleaved):
    # sort-based collect (default threshold 128) beats the hash regime at 4M
    # keys for both collect_set-over-raw (14.4 vs 25.7 s) and
    # collect_list-over-distinct (18.9 vs 48.4 s) — the streaming sorted-run
    # merge is cheaper than per-key map lookups for array payloads.
    # Arrow for every pandas_udf / mapInPandas / applyInPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-column (struct field) pruning down to the parquet reader —
    # matters for the behavior-log StructTypes.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Planning-time filter pushdown into Python DataSources (the gmall_logs
    # connector prunes whole landing-zone files by filename day).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Oracle comparison + reference parity: naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # 128 MiB input splits: the right granularity for both local[32] on sf0.1
    # and a 1000-executor scan of 100 TB (≈ 800k tasks).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Broadcast threshold: dims (nation/region/part/supplier/config tables)
    # must go broadcast; 64 MiB covers every reference dim comfortably.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Broadcast relations are collected through the driver and count against
    # maxResultSize (default 1g). The iterative graph kernels broadcast the
    # node-sized label/rank table per round (guide §8: move the lightweight
    # proxy, never the edge payload) — at sf100 that is ~16M rows / ~400 MB
    # serialized, over the default. 4g bounds a runaway collect while giving
    # the node-table broadcasts headroom; extras/graph.py::_fits_broadcast
    # sizes the broadcast from this value and switches the kernels to the
    # shuffle path when the node table would not fit.
    "spark.driver.maxResultSize": "4g",
    # One BLAS thread per Python worker: every core already runs a task, so
    # an unpinned OpenBLAS/MKL may spawn n_cores threads PER worker and
    # oversubscribe the host. The right setting on any multi-task-per-host
    # deployment; get_spark also exports these in-process for local mode,
    # where executorEnv never reaches the workers.
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
}


def scratch_dir(*sub: str) -> str:
    """Ephemeral-IO root for test/bench scaffolding (stream chunk files,
    memory-sink spools, temp checkpoints, shuffle spill in local mode).

    Prefers RAM (/dev/shm) over /tmp-on-disk: Structured Streaming's fixed
    machinery is many SMALL synchronous writes (offset/commit WALs, one
    state-store delta file per partition per micro-batch per stateful
    operator), and on a shared host those queue behind everyone else's disk
    traffic — measured here as a 3-8× streaming-entry slowdown under load
    while codegen'd batch scans stayed flat. RAM-backing removes the shared
    disk from that path entirely. Bounded use: everything written here is
    sf-test-scale scaffolding, never a production data path (a real cluster
    puts checkpoints on HDFS/S3 and this helper is not on that path).

    Override with SPARK_GRAFT_SCRATCH (e.g. a disk path when benching sf10
    where spill could exceed RAM)."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH") or _auto_scratch_root()
    path = os.path.join(root, *sub)
    os.makedirs(path, exist_ok=True)
    _gc_scratch_spool(os.path.join(root, "spool"))
    return path


#: auto-root decision is made ONCE per process: spark.local.dir is captured at
#: session build, so later scratch_dir calls must keep returning the same root
#: even if /dev/shm pressure changes mid-run.
_AUTO_SCRATCH_ROOT: str | None = None

#: /dev/shm free space below which the auto-root refuses tmpfs. 8 GiB covers
#: the worst committed sf0.1/sf1 scratch footprints with margin.
_SHM_MIN_FREE_BYTES = 8 << 30

#: driver heaps at or above this share the box's RAM with tmpfs badly enough
#: to auto-route scratch to disk: the r7 sf100 LPA probe showed a 64g heap +
#: a 1.18B-edge shuffle on /dev/shm exhausting host RAM (the shuffle data and
#: the JVM compete for the SAME physical pages; tmpfs pages are unreclaimable
#: until deleted), while disk scratch completed. Below it (the 16g default)
#: tmpfs wins: streaming's many small synchronous WAL/state writes measured
#: 3-8x slower behind a shared disk (see the docstring above).
_SHM_MAX_HEAP_GB = 32


def _heap_gb() -> float:
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g").strip().lower()
    try:
        if mem.endswith("g"):
            return float(mem[:-1])
        if mem.endswith("m"):
            return float(mem[:-1]) / 1024
        return float(mem)
    except ValueError:
        return 16.0


def _auto_scratch_root() -> str:
    """RAM-backed scratch when it is safe, disk otherwise — decided once.

    /dev/shm is rejected (with a one-time stderr note naming the override)
    when (a) the requested driver heap is >= _SHM_MAX_HEAP_GB — at that size
    tmpfs and the JVM compete for the same physical RAM and the r7 sf100
    probe showed the OOM killer resolving the contest — or (b) tmpfs free
    space is already below _SHM_MIN_FREE_BYTES (a co-tenant is using it)."""
    global _AUTO_SCRATCH_ROOT
    if _AUTO_SCRATCH_ROOT is not None:
        return _AUTO_SCRATCH_ROOT
    import sys

    shm = "/dev/shm"
    root = None
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        reason = None
        heap = _heap_gb()
        if heap >= _SHM_MAX_HEAP_GB:
            reason = f"driver heap {heap:g}g >= {_SHM_MAX_HEAP_GB}g competes with tmpfs for RAM"
        else:
            try:
                st = os.statvfs(shm)
                free = st.f_bavail * st.f_frsize
                if free < _SHM_MIN_FREE_BYTES:
                    reason = f"/dev/shm free {free >> 30} GiB < {_SHM_MIN_FREE_BYTES >> 30} GiB"
            except OSError:
                pass
        if reason is None:
            root = os.path.join(shm, "gmall_scratch")
        else:
            print(
                f"gmall_spark: scratch falling back to disk ({reason}); "
                "override with SPARK_GRAFT_SCRATCH",
                file=sys.stderr,
            )
    if root is None:
        root = os.path.join(tempfile.gettempdir(), "gmall_scratch")
    _AUTO_SCRATCH_ROOT = root
    return root


_SPOOL_TTL_SECS = 6 * 3600
_last_spool_gc = 0.0
_SPOOL_PID_RE = None  # compiled lazily; regex import kept off the hot path


def spool_dir(prefix: str) -> str:
    """mkdtemp under the scratch spool, tagged with the creating pid so the
    GC can tell live spools from abandoned ones. run_to_memory & friends
    return LAZY frames whose only backing data is this directory — an
    mtime-only TTL would delete it out from under a session alive longer
    than the TTL. The pid tag makes liveness checkable from the dirname."""
    import tempfile as _tempfile

    return _tempfile.mkdtemp(
        prefix=f"{prefix}__p{os.getpid()}__", dir=scratch_dir("spool")
    )


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (OSError, PermissionError):
        pass  # exists but not ours — treat as alive (errs toward keeping)
    return True


def _gc_scratch_spool(spool_root: str) -> None:
    """Best-effort bound on spool accumulation, at most once a minute per
    process. An entry is deleted only when BOTH hold: (a) it is older than
    _SPOOL_TTL_SECS by mtime, and (b) its creating process — parsed from the
    ``__p<pid>__`` tag spool_dir() embeds in the name — is dead. (b) is what
    keeps a >TTL-old but still-referenced spool alive: lazy result frames
    read their spool on every action, and rmtree would succeed on Linux even
    with readers attached. Untagged entries (pre-tag layout, foreign
    writers) fall back to TTL-only, pid-reuse makes a dead entry look alive
    at worst until the recycled pid exits — both err toward keeping.
    Failures (concurrent deleters) are ignored — worst case the entry
    survives to the next sweep."""
    import re
    import shutil
    import time

    global _last_spool_gc, _SPOOL_PID_RE
    now = time.time()
    if now - _last_spool_gc < 60 or not os.path.isdir(spool_root):
        return
    _last_spool_gc = now
    if _SPOOL_PID_RE is None:
        # The ``__p<pid>__`` delimiter can't be shadowed by a user-chosen
        # prefix like ``memsink_top10_`` the way a bare ``p<digits>_``
        # search could (resolving to the wrong — possibly dead — pid and
        # deleting a live process's spool). Old-format entries
        # (``{prefix}p<pid>_<rand>``) fall back to the LAST ``p<digits>_``
        # occurrence: the mkdtemp suffix after the real tag is
        # underscore-free, so the last match is always the pid tag.
        _SPOOL_PID_RE = re.compile(r"__p(\d+)__")
    _legacy_re = re.compile(r"p(\d+)_")
    for entry in os.listdir(spool_root):
        p = os.path.join(spool_root, entry)
        try:
            if now - os.path.getmtime(p) <= _SPOOL_TTL_SECS:
                continue
            m = _SPOOL_PID_RE.search(entry)
            if m is None:
                legacy = _legacy_re.findall(entry)
                pid_str = legacy[-1] if legacy else None
            else:
                pid_str = m.group(1)
            if pid_str is not None and _pid_alive(int(pid_str)):
                continue
            shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _cpus() -> int:
    """Local core count: SPARK_GRAFT_CPUS, default 32 (see get_spark)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def stream_shuffle_width() -> int:
    """Shuffle/state-store width for PER-KEY pandas-state streaming queries
    (applyInPandasWithState / transformWithStateInPandas grouped by entity):
    the session's core count. They pay one Python call per active key per
    batch, so their per-batch cost is parallel Python work and the width
    tracks cores: measured solo on a 32-core box, 32 beats 8 on every
    per-key entry (daily-UV dedup 6.1s → 2.0s). The width stays STATIC
    under input growth — the sf10 A/B (BENCH_r06_sf10_streaming.json)
    measured the 32/64/96 curve flat within noise (378/408/382s over the 4
    heaviest entries) and 16 materially worse (≥1.4× the worst 32-run):
    Python work saturates at physical cores, and partitions beyond that
    only add state-store open+commit overhead. It also fixes the hash-bucket
    count of the bucketed keyed state (4 × this, streaming/stateful.py),
    which is independent of the width that bucketed state RUNS at."""
    return _cpus()


#: bytes of streaming input that justify one more state partition. 1 MiB:
#: with the floor at 1, every sampled JVM-state entry at sf0.1 (0.6-14 MB
#: of sources) ran at or below the old floor-8 width, and 8 MiB left
#: streaming_order_wide (13.6 MB, width 1) ~40% slower than at width 8
#: (BASELINE.md, "Sub-8 state widths"). sf10 sources (220 MB) reach the
#: core cap, where per-partition WORK dominates (width 8 ran 2.6-3.5x
#: slower than 16/32 there, BENCH_r05_sf10_streaming.json).
BYTES_PER_PARTITION = 1 << 20


def stream_state_width(input_bytes: int) -> int:
    """Shuffle/state width for every stateful streaming query except
    per-key pandas state: JVM state (windowed aggs, dropDuplicates, session
    windows, stream-stream joins), the hash-bucketed keyed state, and the
    whole live warehouse topology. It is the run_to_memory /
    run_collect_batches default.

    The width follows the input, not the host:
    ``clamp(ceil(input_bytes / BYTES_PER_PARTITION), 1, cores)``.
    ``input_bytes`` is the estimated source volume
    (pipelines._stream_input_bytes), known before the query starts; 0
    gives 1. A small stream's per-batch cost is fixed cost per
    partition, not work: every partition's store pays open+commit per
    micro-batch (a stream-stream join carries four store instances per
    partition), and every partition of a bucketed-state query is one
    Python task. Measured on 4 cores (BASELINE.md, "Sub-8 state widths"):
    the live topology's DWM/DWS state_commit_s fell 1.36/1.32/4.48 s →
    0.15/0.16/0.44 s at width 1 (sf0.01), and streaming_chained_stateful
    at sf0.1 ran 3.6 s at width 2 vs 7.0 s at width 8 (medians of 3).
    Hash buckets and window keys do not depend on the width, so what a
    query emits does not change with it. Large inputs ramp toward cores:
    a cluster-sized SPARK_GRAFT_CPUS grants hundreds of partitions to
    billions of buffered rows."""
    want = -(-input_bytes // BYTES_PER_PARTITION)
    return max(1, min(stream_shuffle_width(), want))


def get_spark(app_name: str = "gmall_spark", master: str | None = None) -> SparkSession:
    """Build (or get) the tuned session.

    Env overrides (driver contract):
      SPARK_GRAFT_CPUS — local core count (default 32)
      SPARK_GRAFT_SHUFFLE_PARTITIONS — shuffle width (default = cpus)
      SPARK_GRAFT_SCRATCH — ephemeral-IO root (default /dev/shm, see scratch_dir)
    """
    cpus = _cpus()
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    # executorEnv only reaches executors on a real cluster; in local mode the
    # Python workers inherit THIS process's env, so export the BLAS pinning
    # here too (before any worker spawns) — one thread per worker either way.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # protobuf shim (transformWithState wire protocol): must precede the JVM
    # launch — workers inherit the env captured when the JVM starts
    from gmall_spark.compat import ensure_protobuf

    ensure_protobuf()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.default.parallelism", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # bucketed tables (co-located joins) land here, not in the repo cwd
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gmall_warehouse"))
        # Shuffle blocks + spill and the JVM's java.io.tmpdir (which is
        # where temp streaming checkpoints land) go to RAM-backed scratch:
        # the streaming WAL/state-store path is many small synchronous
        # writes, and routing them through a shared disk couples our wall
        # clock to every other tenant's IO (see scratch_dir). Cluster
        # deployments override both via spark-submit confs.
        .config("spark.local.dir", scratch_dir("spark_local"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={scratch_dir('jvm_tmp')}",
        )
    )
    for k, v in SCALE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession, enabled: bool = True) -> None:
    """Switch Structured Streaming state to the RocksDB provider (session
    conf — applies to queries STARTED afterwards; running queries keep the
    provider they started with, and a checkpoint is bound to its provider).

    The default HDFS-backed provider holds every key of every partition's
    state map in executor heap — fine for window aggregates, but a keyed
    store over user-level state (unique-visit dedup, is_new repair) grows
    with the KEY universe: at 100 TB that's billions of keys and the heap
    map becomes the bottleneck long before CPU does (the sf10 probe's
    4M-key run already shows it). RocksDB keeps state off-heap/on-disk with
    changelog checkpointing, bounding heap by the block cache, not by key
    count — the standard big-state deployment; flip it per job, not
    per-operator."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER
        if enabled
        else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )


@contextmanager
def conf_scope(spark: SparkSession, confs: dict):
    """Pin session confs for one block. On exit — normal or raised — each
    key gets back its previous value, or is unset if it had none, so the
    session default applies again. Streaming queries capture the session
    conf at start(), so a scope around start() pins that query's conf."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Bounded FIFO of persisted-intermediate groups ("scopes") registered by
# builders whose lazy results still read the cache — see unpersist_with.
_CACHE_SCOPES: list[tuple] = []
_MAX_CACHE_SCOPES = 8


def unpersist_with(result, *cached):
    """Bound the lifetime of persisted intermediates that a lazy ``result``
    still reads.

    Builders like hypertable_rollup / pagerank / cms_heavy_hitters persist
    intermediates that the RETURNED DataFrame's plan reads, so they cannot
    unpersist before returning — but never unpersisting means repeated
    registry/bench invocations in one session accumulate cached partitions
    until LRU eviction pressure. (A GC hook on ``result`` doesn't work
    either: callers routinely derive a new frame — select/cast/orderBy —
    and drop the original before materializing, which would free the cache
    mid-plan.)

    Instead each builder registers its cache group here; once more than
    ``_MAX_CACHE_SCOPES`` groups are live the oldest is unpersisted. Old
    scopes are by then either materialized or abandoned — at worst an
    ancient still-lazy result recomputes (correctness unaffected; persist
    is an optimization). bench.py additionally clearCache()s per query.
    """
    _CACHE_SCOPES.append(cached)
    while len(_CACHE_SCOPES) > _MAX_CACHE_SCOPES:
        for d in _CACHE_SCOPES.pop(0):
            try:
                d.unpersist()
            except Exception:  # session/JVM may already be gone at shutdown
                pass
    return result


def iter_checkpoint(df):
    """Materialize one round of an iterative algorithm and TRUNCATE its
    lineage (eager localCheckpoint).

    Per-round persist() keeps the logical plan growing — round N's plan
    nests N copies of the round body, and Catalyst re-analyzes/optimizes
    the whole tree per action; measured on kcore_decompose at sf0.1 the
    4th round cost 15s against 0.6s with truncation (42s → 7s total).
    Checkpointing is the standard fixpoint-loop discipline (GraphX ships a
    periodic-checkpointer for exactly this).

    Local mode stores the blocks executor-side and unreliably — fine for a
    single JVM. On a real cluster prefer reliable checkpoints for long
    chains: set spark.sparkContext.setCheckpointDir(...) and swap this for
    df.checkpoint() (or checkpoint every k-th round) so executor loss
    cannot force a non-deterministic partial recompute.
    """
    return df.localCheckpoint(eager=True)


def spread_to_parallelism(df):
    """Rebalance a frame to the session's parallelism when its current
    partitioning is narrower — the guard for compute-amplifying stages
    (explodes, Arrow kernels) that would otherwise inherit an under-split
    scan (e.g. a single-row-group parquet file ⇒ 1 task for the whole
    kernel). Moves only the pre-amplification bytes; a no-op whenever the
    source is already as wide as the session, which is the normal state on
    a real cluster reading many splits."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
