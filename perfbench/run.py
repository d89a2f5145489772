#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one Spark session on
local[nproc]. A pass runs the workload's registry entries one after another
(closed loop, one client); each entry is its registry call (``build``) and
the fetch of its full result (``action``). The run builds the session
(``setup_s``), then makes passes until ``--seconds`` have passed, at least
one; ``wall_s`` is their median. A pass is longer than the declared run
length, so a run measures one pass in a fresh session: JIT, Python worker
pools and state-store init are inside it, as they are for a job started as
its own process. Afterwards it checks each entry's last result against its
DuckDB oracle, untimed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a separate traced run
(among them the peak RSS, which repeats only within about a fifth, and the
CPU seconds of the JVM and its Python workers per pass), and the spans
are written to ``.bench_work/traces/``. The line before it records the run:
workload, seed, nproc, 1-minute loadavg, program sha, the host's CPU steal
during the passes, per-entry seconds, fail_ratio and failures.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

import inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
#: what the benchmark needs of the program; absent -> exit 2, no result
PROGRAM = ("__spark_entry__.py", "gmall_spark", os.path.join("tests", "oracle.py"))
#: driver heap: the benchmark's inputs need far less than the program's 16g
#: default, and the benchmark shares the host's memory
DRIVER_MEM = "4g"


def _configure_env(run_dir: str, cores: int) -> None:
    """Keep every write of the run inside the checkout, and give the
    session this host's core count (get_spark defaults to local[32])."""
    for sub in ("scratch", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # no hsperfdata or JVM temp files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # Python workers import the program from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)


def _program_sha() -> str:
    """sha1 over the program's source files: the checkout is not a git repo."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "tests", "oracle.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "gmall_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _load_oracle_module():
    """tests/oracle.py, imported read-only by path (``tests`` is no package)."""
    spec = importlib.util.spec_from_file_location(
        "gmall_oracle", os.path.join(ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Fetched:
    """What ``oracle.compare`` reads of a DataFrame (``columns`` and
    ``collect()``), served from the Arrow table the timed pass fetched.
    Arrow's Python values equal collect()'s for flat column types only, so
    any other type fails the check by name instead of comparing wrongly."""

    FLAT = {"string", "bigint", "int", "smallint", "tinyint", "double", "float", "boolean",
            "date", "decimal"}

    def __init__(self, df, table) -> None:
        self.table = table
        self.columns = df.columns
        self.types = {t.split("(")[0] for _, t in df.dtypes}

    def collect(self) -> list[tuple]:
        if not self.types <= self.FLAT:
            raise TypeError(f"column types {sorted(self.types - self.FLAT)} are not checked")
        return list(zip(*(c.to_pylist() for c in self.table.columns)))


def check(results: dict, oracles: dict[str, str], sf_dir: str) -> dict[str, str]:
    """Compare each entry's result, {entry: (DataFrame, Arrow table)}, with
    its oracle on the same input; returns {entry: reason} for every mismatch
    or raise."""
    oracle = _load_oracle_module()
    con = oracle.duck_connection(sf_dir)
    failures = {}
    try:
        for name, (df, table) in results.items():
            try:
                ok, msg = oracle.compare(Fetched(df, table), con, oracles[name])
            except Exception as exc:  # a raising entry is a failed entry
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            if not ok:
                failures[name] = msg
    finally:
        con.close()
    return failures


def _tree(pid: int) -> list[int]:
    """``pid`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [pid], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM (peak RSS) over the driver JVM and its Python workers."""
    total_kb = 0
    for pid in _tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of the driver
    JVM and its Python workers so far."""
    ticks = 0
    for pid in _tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(map(int, f.read().rsplit(")", 1)[1].split()[11:15]))
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """Host CPU time stolen from this machine so far (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop_session(spark, jvm_pid: int) -> None:
    """Stop the session and its JVM, and wait until every process it
    started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    procs = _tree(jvm_pid)
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool, src: str,
        oracles: dict[str, str] | None = None) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, run record)."""
    entries = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    loadavg = os.getloadavg()[0]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        t_gen = time.perf_counter()
        sf_dir = inputs.prepare(seed, os.path.join(run_dir, "input"), src)
        gen_s = time.perf_counter() - t_gen
        _configure_env(run_dir, cores)

        from gmall_spark.session import get_spark
        import __spark_entry__

        spark = get_spark("perfbench")
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        try:
            queries = __spark_entry__.queries()
            oracles = oracles or __spark_entry__.oracle_sql()
            setup_s = time.perf_counter() - T_START - gen_s
            tracer = None
            if trace:
                from tracing import Tracer

                tracer = Tracer(spark, cores)
            walls, per_entry, failures = [], {}, {}
            cpu0, steal0 = _cpu_s(jvm_pid), _steal_s()
            t_measure = time.perf_counter()
            with tracer.span(workload) if tracer else nullcontext() as root:
                while not walls or time.perf_counter() - t_measure < seconds:
                    wall, secs, results, failed = _one_pass(
                        spark, queries, entries, sf_dir, tracer, root)
                    walls.append(wall)
                    failures.update(failed)
                    for name, sec in secs.items():
                        per_entry.setdefault(name, []).append(sec)
            cpu_s, steal_s = _cpu_s(jvm_pid) - cpu0, _steal_s() - steal0
            peak_rss = _peak_rss_mb(jvm_pid)
            t_check = time.perf_counter()
            failures.update(check({n: r for n, r in results.items() if n not in failures},
                                  oracles, sf_dir))
            check_s = time.perf_counter() - t_check
            if tracer is not None:
                metrics = tracer.metrics(len(walls))
                metrics["trace.wall_s"] = statistics.median(walls)
                metrics["peak_rss_mb"] = peak_rss
                metrics["cpu_s"] = cpu_s / len(walls)
                tracer.close()
                tracer.write(os.path.join(WORK, "traces", f"{workload}-seed{seed}-{os.getpid()}.json"),
                             metrics)
        finally:
            _stop_session(spark, jvm_pid)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if trace:
        from tracing import unit_of

        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
        }
    result = {"correct": not failures, "attempted": len(entries),
              "failed": len(failures), "metrics": out}
    record = {
        "workload": workload, "seed": seed, "input": sf_dir if sf_dir == src else "variant",
        "nproc": cores, "loadavg_1m": loadavg, "program_sha": _program_sha(),
        "input_gen_s": round(gen_s, 3), "steal_s": round(steal_s, 2), "passes": [round(w, 3) for w in walls],
        "entries_s": per_entry, "check_s": round(check_s, 3),
        "fail_ratio": len(failures) / len(entries), "failures": failures,
    }
    return result, record


def _one_pass(spark, queries, entries, sf_dir, tracer, root):
    """Run every entry once, one after another. Returns the pass's wall
    seconds, seconds per entry, {entry: (DataFrame, fetched Arrow table)}
    for the correctness check, and {entry: error} for entries that raised."""
    def span(name, parent=None, **kw):
        return tracer.span(name, parent, **kw) if tracer else nullcontext()

    secs, results, failures = {}, {}, {}
    t0 = time.perf_counter()
    with span("pass", root) as pass_id:
        for name, layer in entries:
            spark.catalog.clearCache()
            t = time.perf_counter()
            try:
                with span(name, pass_id, layer=layer) as entry_id:
                    with span("build", entry_id):
                        df = queries[name](spark, sf_dir)
                    with span("action", entry_id):
                        results[name] = (df, df.toArrow())
            except Exception as exc:  # one raising entry must not hide the others
                failures[name] = f"{type(exc).__name__}: {exc}"
            secs[name] = round(time.perf_counter() - t, 3)
    return time.perf_counter() - t0, secs, results, failures


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=inputs.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input", default=inputs.SF_DIR,
                    help="source testdata dir (the smoke test uses sf0.001)")
    args = ap.parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found under {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace), args.input)
    for name, why in record["failures"].items():
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
