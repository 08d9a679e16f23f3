"""Traced-run tooling: layer timers, Catalyst probes and the Spark
event-log parser that splits each op's time per layer.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import re
import sys
import time
from collections import defaultdict

# Package modules whose public functions are timed, by layer. A call
# from one function of a layer into another of the same layer counts
# once (the outermost call).
LAYER_MODULES = {
    "tables": ("analytics_etl_spark.tables",),
    "sources": ("analytics_etl_spark.sources.json_ingest",),
    "plans": ("analytics_etl_spark.plans.pipeline", "analytics_etl_spark.plans.corpus_build"),
    "sinks": ("analytics_etl_spark.sinks.writer",),
    "streaming": ("analytics_etl_spark.streaming.ingest",),
}

_PY_EVAL = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
CATALYST_KEYS = (
    "analysis_s", "optimization_s", "planning_s",
    "plan_nodes", "exchanges", "python_eval_nodes", "logical_rdd_leaves",
)


class LayerTimers:
    """Traced-run instrumentation, installed in place.

    Every public function of ``LAYER_MODULES`` (in its own module and in
    every module that imported it by name) gets a timer that records a
    span and adds its time to ``self.seconds[layer]``; plans-layer calls
    that return Observations leave them in ``self.observations``. Every
    ``DataFrameWriter.save`` and ``.parquet`` first probes Catalyst on the
    DataFrame it writes (``self.catalyst``), timing the probe in
    ``self.probe_s`` so that it can be taken off the op's clock."""

    def __init__(self) -> None:
        self._active: set[str] = set()
        self.take()
        from pyspark.sql.readwriter import DataFrameWriter

        for name in ("save", "parquet"):
            setattr(DataFrameWriter, name, self._probed(getattr(DataFrameWriter, name)))
        wrapped = {}
        for layer, mods in LAYER_MODULES.items():
            for name in mods:
                mod = importlib.import_module(name)
                for attr, fn in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != name:
                        continue
                    wrapped[id(fn)] = (fn, self._wrap(layer, fn))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("analytics_etl_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if layer in self._active:
                return fn(*args, **kwargs)
            self._active.add(layer)
            span = [layer, fn.__name__, time.perf_counter(), None, self._stack[-1] if self._stack else -1]
            self._stack.append(len(self.spans))
            self.spans.append(span)
            p0 = self.probe_s
            try:
                out = fn(*args, **kwargs)
            finally:
                span[3] = time.perf_counter()
                # a Catalyst probe inside the call is not the layer's time
                self.seconds[layer] += span[3] - span[2] - (self.probe_s - p0)
                self._stack.pop()
                self._active.discard(layer)
            if layer == "plans" and isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], dict):
                self.observations.append(out[1])
            return out

        return timed

    def _probed(self, write):
        @functools.wraps(write)
        def probed(writer, *args, **kwargs):
            t0 = time.perf_counter()
            for k, v in catalyst_probe(writer._df).items():
                self.catalyst[k] += v
            self.probe_s += time.perf_counter() - t0
            return write(writer, *args, **kwargs)

        return probed

    def take(self, origin: float = 0.0) -> dict:
        """What was measured since the last call, and reset. Spans are
        ``[layer, function, start_ms, end_ms, parent span index or -1]``
        with times from ``origin`` (a ``time.perf_counter()`` value)."""
        out = {
            "layers": dict(getattr(self, "seconds", {})),
            "observations": getattr(self, "observations", []),
            "catalyst": {k: getattr(self, "catalyst", {}).get(k, 0.0) for k in CATALYST_KEYS},
            "probe_s": getattr(self, "probe_s", 0.0),
            "spans": [
                [layer, fn, round((a - origin) * 1e3, 2), round((b - origin) * 1e3, 2), parent]
                for layer, fn, a, b, parent in getattr(self, "spans", [])
            ],
        }
        self.seconds, self.catalyst = defaultdict(float), defaultdict(float)
        self.observations, self.probe_s, self.spans, self._stack = [], 0.0, [], []
        return out


def catalyst_probe(df) -> dict[str, float]:
    """Plan ``df`` the way its action will and read the Catalyst phase
    times and the plan census off its QueryExecution."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()

    def phase(name: str) -> float:
        p = phases.get(name)
        return p.get().durationMs() / 1000.0 if p.isDefined() else 0.0

    lines = plan.splitlines()
    return {
        "analysis_s": phase("analysis"),
        "optimization_s": phase("optimization"),
        "planning_s": phase("planning"),
        "plan_nodes": sum(1 for ln in lines if ln.strip()),
        "exchanges": sum(1 for ln in lines if "Exchange " in ln and "ReusedExchange" not in ln),
        "python_eval_nodes": sum(1 for ln in lines if _PY_EVAL.search(ln)),
        "logical_rdd_leaves": qe.optimizedPlan().toString().count("LogicalRDD"),
    }


def cache_state(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling log directory."""
    files = [path]
    if os.path.isdir(path):  # events_<n>_<app id>, in n order
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda f: int(re.findall(r"events_(\d+)_", f)[0]),
        )
    for f in files:
        with open(f, errors="ignore") as fh:
            yield from fh


def parse_event_log(path: str, prefix: str) -> dict[str, dict]:
    """Per job group (groups starting with ``prefix``): job intervals
    and the summed task metrics of the stages that ran for them."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_run: set[int] = set()
    tasks: dict[int, list] = defaultdict(list)
    for line in _event_lines(path):
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(prefix):
                jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000.0}
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            stages_run.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
    groups: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, intervals=[], stage_ids=set())
    )
    for job_id, j in jobs.items():
        g = groups[j["group"]]
        g["jobs"] += 1
        g["intervals"].append((j["start"], j.get("end", j["start"])))
    for stage, job_id in stage_job.items():
        if stage not in stages_run or job_id not in jobs:
            continue
        g = groups[jobs[job_id]["group"]]
        g["stage_ids"].add(stage)
        for m in tasks.get(stage, []):
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            g["tasks"] += 1
            g["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for g in groups.values():
        g["stages"] = len(g.pop("stage_ids"))
        g["jobs_wall_s"] = union_seconds(g["intervals"])
    return groups
