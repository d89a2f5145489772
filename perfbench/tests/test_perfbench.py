"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/tests -q

The Spark-backed tests run the benchmark at sf0.001 (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SF0001 = "/root/testdata/sf0.001"
sys.path.insert(0, BENCH)

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _python(code: str) -> list[dict]:
    """Run ``code`` in a fresh interpreter beside run.py; its stdout lines
    are JSON."""
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=BENCH, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith(("{", "["))]


@pytest.mark.parametrize(
    "workload,trace",
    [("batch_layers", 0), ("batch_layers", 1), ("stream_topology", 1)],
)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    p = _bench("--workload", workload, "--seed", "0", "--seconds", "1",
               "--trace", str(trace), "--input", SF0001)
    assert p.returncode == 0, p.stderr[-3000:]
    record, result = (json.loads(ln) for ln in p.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
    elif workload == "stream_topology":
        for q in ("dwd_page", "dwm_uv", "dwm_uj", "dws_visitor"):
            assert values[f"stream.{q}.batches"] > 0 and values[f"stream.{q}.add_batch_s"] > 0
        assert values["stream.tail_s"] > 0 and values["dwd.jobs"] == 0
    else:
        for layer in ("dwd", "dwm", "dws", "graph"):
            assert values[f"{layer}.jobs"] > 0 and values[f"{layer}.task_run_s"] > 0
        assert values["stream.dwm_uv.batches"] == 0
    assert record["nproc"] == len(os.sched_getaffinity(0)) and record["seed"] == 0


def test_wrong_oracle_lands_in_fail_ratio():
    code = f"""
import json, sys, run
sys.path.insert(0, run.ROOT)
import __spark_entry__
oracles = __spark_entry__.oracle_sql()
wrong = dict(oracles, streaming_warehouse_e2e=oracles["visitor_stats"])
result, record = run.run("stream_topology", 0, 1.0, False, {SF0001!r}, oracles=wrong)
print(json.dumps(result)); print(json.dumps(record))
"""
    result, record = _python(code)
    assert result["attempted"] == 1 and result["failed"] == 1 and not result["correct"]
    assert record["fail_ratio"] == 1.0
    assert "streaming_warehouse_e2e" in record["failures"]


def test_fetched_rows_equal_collect():
    """The check reads results through Arrow; its rows must be the ones
    Row-by-Row collect() gives, for every benchmarked entry."""
    code = f"""
import json, os, shutil, run
work = os.path.join(run.WORK, "test-" + str(os.getpid()))
run._configure_env(work, 2)
from gmall_spark.session import get_spark
import __spark_entry__
from workloads import WORKLOADS
spark = get_spark("perfbench-test")
qs = __spark_entry__.queries()
same = {{}}
for entries in WORKLOADS.values():
    for name, _ in entries:
        df = qs[name](spark, {SF0001!r})
        fetched = run.Fetched(df, df.toArrow()).collect()
        same[name] = sorted(map(repr, fetched)) == sorted(repr(tuple(r)) for r in df.collect())
spark.stop()
shutil.rmtree(work)
print(json.dumps(same))
"""
    (same,) = _python(code)
    assert same and all(same.values()), same


def test_variant_inputs_are_seeded_and_consistent(tmp_path):
    src = inputs.SF_DIR
    a = inputs.prepare(7, str(tmp_path / "a"), src)
    b = inputs.prepare(7, str(tmp_path / "b"), src)
    c = inputs.prepare(8, str(tmp_path / "c"), src)
    assert inputs.prepare(inputs.DEFAULT_SEED, str(tmp_path / "d"), src) == src
    assert sorted(os.listdir(a)) == sorted(os.listdir(src))
    for t in ("customer", "orders", "lineitem", "events"):
        ta, tb, tc = (pq.read_table(f"{d}/{t}.parquet") for d in (a, b, c))
        assert ta.equals(tb) and not ta.equals(tc)
        assert ta.schema == pq.read_table(f"{src}/{t}.parquet").schema
    cust = pq.read_table(f"{a}/customer.parquet")["c_custkey"]
    orders = pq.read_table(f"{a}/orders.parquet")
    lineitem = pq.read_table(f"{a}/lineitem.parquet")
    events = pq.read_table(f"{a}/events.parquet")
    assert pc.all(pc.is_in(orders["o_custkey"], cust)).as_py()
    assert pc.all(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"])).as_py()
    assert pc.all(pc.is_in(events["user_id"], cust)).as_py()
    full = pq.read_metadata(f"{src}/customer.parquet").num_rows
    assert 0.9 * full < len(cust) < full


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "batch_layers", "--seed", "0", "--seconds", "1", "--trace", "0",
               cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
