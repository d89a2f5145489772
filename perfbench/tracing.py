"""Tracing for the traced run: spans around each registry call, stage
metrics from Spark's status store, and streaming phases from a
StreamingQueryListener. Everything is read from outside the program.

Spans nest workload -> pass -> entry -> {build, action}; ``build`` is the
registry call (planning plus any eager probes), ``action`` the fetch of the
entry's result. They are kept in memory and written once, at the end of the
run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from workloads import STAGE_LAYERS, STREAM_QUERIES

#: per-stage fields summed per layer -> (metric, scale to the metric's unit)
STAGE_SUMS = {
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "executorRunTime": ("task_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "numCompleteTasks": ("tasks", 1),
}
STAGE_METRICS = ("build_s", "action_s", "jobs", "core_busy_share") + tuple(
    m for m, _ in STAGE_SUMS.values()
)
STREAM_METRICS = (
    "add_batch_s",
    "planning_s",
    "latest_offset_s",
    "commit_s",
    "state_commit_s",
    "batches",
    "input_rows",
    "state_rows",
    "busy_share",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports."""
    names = [f"{layer}.{m}" for layer in STAGE_LAYERS for m in STAGE_METRICS]
    names += [f"stream.{q}.{m}" for q in STREAM_QUERIES for m in STREAM_METRICS]
    return names + ["stream.tail_s", "trace.wall_s", "peak_rss_mb", "cpu_s"]


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from its name's suffix."""
    return {"s": "s", "bytes": "B", "share": "1", "mb": "MB"}.get(name.rsplit("_", 1)[-1], "count")


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


class TopologyListener(StreamingQueryListener):
    """Collects every streaming query's progress events, keyed by runId.
    Callbacks arrive on the listener bus; they only append."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.terminated: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        self.started[str(event.runId)] = _epoch_ms(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated[str(event.runId)] = time.time() * 1e3


def _inside(t_ms, span: dict) -> bool:
    return t_ms is not None and span["start_ms"] <= t_ms <= span["end_ms"]


def _stream_query(sink: str) -> str | None:
    if sink == "MemorySink":
        return "dws_visitor"
    name = sink.rstrip("]").rstrip("/").rsplit("/", 1)[-1]
    return name if name in STREAM_QUERIES else None


class Tracer:
    """Spans and layer metrics of one traced run."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.listener = TopologyListener()
        spark.streams.addListener(self.listener)
        jvm = spark._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module.__getattr__("MODULE$")
        )
        self._store = spark.sparkContext._jsc.sc().statusStore()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record [start, end] of the block in epoch ms; yields the span id."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": parent, "name": name, **attrs}
        self.spans.append(rec)
        rec["start_ms"] = time.time() * 1e3
        try:
            yield sid
        finally:
            rec["end_ms"] = time.time() * 1e3

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def _status(self) -> tuple[list[dict], list[dict]]:
        """Every stage and job the status store still holds, as dicts."""
        no_quantiles = self.spark.sparkContext._gateway.new_array(self.spark._jvm.double, 0)
        stages = self._store.stageList(None, False, False, no_quantiles, None)
        jobs = self._store.jobsList(None)
        return (
            json.loads(self._json.writeValueAsString(stages)),
            json.loads(self._json.writeValueAsString(jobs)),
        )

    def metrics(self, passes: int) -> dict[str, float]:
        """Per-layer metrics per traced pass (sums divided by ``passes``,
        shares over all passes); layers the workload does not run report 0."""
        out = dict.fromkeys(per_layer_names(), 0.0)
        stages, jobs = self._status()
        entries = [s for s in self.spans if s.get("layer")]
        for sp in entries:
            layer = sp["layer"]
            if layer == "stream":
                self._stream_entry(out, sp)
                continue
            for k in self.spans:
                if k["parent"] == sp["id"]:
                    out[f"{layer}.{k['name']}_s"] += (k["end_ms"] - k["start_ms"]) / 1e3
            out[f"{layer}.jobs"] += sum(_inside(j.get("completionTime"), sp) for j in jobs)
            for st in stages:
                if _inside(st.get("completionTime"), sp):
                    for field, (metric, scale) in STAGE_SUMS.items():
                        out[f"{layer}.{metric}"] += st[field] * scale
        for layer in STAGE_LAYERS:
            wall = out[f"{layer}.build_s"] + out[f"{layer}.action_s"]
            if wall > 0:
                out[f"{layer}.core_busy_share"] = out[f"{layer}.task_run_s"] / (wall * self.cores)
        busy: dict[str, list[float]] = {}
        for rid, progs in self.listener.progress.items():
            q = _stream_query(progs[0]["sink"]["description"])
            life = self.listener.terminated.get(rid, 0.0) - self.listener.started.get(rid, 0.0)
            if q is not None and life > 0:
                b = busy.setdefault(q, [0.0, 0.0])
                b[0] += sum(p["durationMs"].get("triggerExecution", 0) for p in progs)
                b[1] += life
        for q, (work, life) in busy.items():
            out[f"stream.{q}.busy_share"] = work / life
        for k in out:
            if not k.endswith("share"):
                out[k] /= passes
        return out

    def _stream_entry(self, out: dict[str, float], sp: dict) -> None:
        """Add one topology run's listener phases to ``out``; ``stream.tail_s``
        runs from the end of the last batch that read input to the entry
        returning."""
        last_input_end = None
        for progs in self.listener.progress.values():
            q = _stream_query(progs[0]["sink"]["description"])
            mine = [p for p in progs if _inside(_epoch_ms(p["timestamp"]), sp)]
            if q is None or not mine:
                continue
            pre = f"stream.{q}."
            for p in mine:
                d = p["durationMs"]
                out[pre + "add_batch_s"] += d.get("addBatch", 0) / 1e3
                out[pre + "planning_s"] += d.get("queryPlanning", 0) / 1e3
                out[pre + "latest_offset_s"] += d.get("latestOffset", 0) / 1e3
                out[pre + "commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                out[pre + "state_commit_s"] += (
                    sum(op["commitTimeMs"] for op in p["stateOperators"]) / 1e3
                )
                out[pre + "batches"] += 1
                out[pre + "input_rows"] += p["numInputRows"]
                if p["numInputRows"] > 0:
                    end = _epoch_ms(p["timestamp"]) + d.get("triggerExecution", 0)
                    last_input_end = max(last_input_end or end, end)
            out[pre + "state_rows"] += sum(op["numRowsTotal"] for op in mine[-1]["stateOperators"])
        if last_input_end is not None:
            out["stream.tail_s"] += (sp["end_ms"] - last_input_end) / 1e3

    def write(self, path: str, metrics: dict[str, float]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "metrics": metrics}, f, indent=1)
