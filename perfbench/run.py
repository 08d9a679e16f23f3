"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sales_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. A run generates every op's input from
``--seed``, imports the program and sets it up (the engine's Spark
session on ``local[N]``, N = min(4, cpus), plus the workload's own
set-up). Then it runs ops back to back until ``--seconds`` of op time
has passed, checks every op's output (untimed), and prints a run record
and, as the last line, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``setup_s`` is this process's cold set-up, timed from process start
until the program is ready, without input generation and the
benchmark's own imports.
``--trace 1`` runs the workload twice for half of ``--seconds`` each,
each time from a cold JVM: untraced, then traced (layer timers,
Catalyst probes, job groups and a Spark event log); it reports the
per-layer metrics of the traced half, with the tracing overhead.
Scratch files live under ``.perfbench_work/`` in the working directory
and are removed on exit.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, len(os.sched_getaffinity(0)))
JOB_GROUP = "perfbench-op"
# What each workload's user imports of the program; part of set-up.
PROGRAM_MODULES = {
    "sales_etl": (
        "analytics_etl_spark.sources.json_ingest",
        "analytics_etl_spark.plans.pipeline",
        "analytics_etl_spark.sinks.writer",
    ),
    "bi_queries": ("analytics_etl_spark.queries",),
    "corpus_build": ("analytics_etl_spark.queries",),
    "corpus_ingest": ("analytics_etl_spark.streaming.ingest",),
}


def since_process_start() -> float:
    """Seconds since this process was created, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc while
    ops run: input generation and output checks are not counted."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak_kb, self.peak_procs = interval, 0, 0
        self.active = threading.Event()
        self._stop_evt = threading.Event()

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        for task in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(task) as fh:
                    out += [int(c) for c in fh.read().split()]
            except OSError:
                continue
        return out

    @classmethod
    def tree_rss_kb(cls, java: bool = True) -> tuple[int, int]:
        """(resident kB, processes) of the process tree; without the JVM
        itself (but with its children) when not ``java``."""
        total, procs, todo = 0, 0, [(os.getpid(), None)]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            # The JVM starts Python workers by vfork+exec; until the exec
            # the child shares the JVM's memory and would count it twice.
            if exe == parent_exe and exe.endswith("/java"):
                continue
            if java or not exe.endswith("/java"):
                total, procs = total + rss, procs + 1
            todo += [(c, exe) for c in cls._children(pid)]
        return total * os.sysconf("SC_PAGE_SIZE") // 1024, procs

    def sample(self) -> None:
        kb, procs = self.tree_rss_kb()
        if kb > self.peak_kb:
            self.peak_kb, self.peak_procs = kb, procs

    def run(self) -> None:
        while not self._stop_evt.is_set():
            if self.active.wait(self.interval) and not self._stop_evt.is_set():
                self.sample()
                self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.active.set()
        self.join()


def retained_kb(spark) -> tuple[int, dict]:
    """Memory the program holds once its ops are done, in kB: the
    resident memory of its Python processes (driver and workers), plus
    the JVM's heap in use after Python and the JVM have collected their
    garbage, plus the JVM's committed non-heap memory (metaspace, code
    cache). Leaked cached blocks survive the collection and count in
    full. The JVM's resident size is not used: how much free heap the
    collector keeps committed and resident depends on collection
    timing, not on the program. Also returns the parts, for the run
    record."""
    import gc

    gc.collect()  # drops Python references that pin JVM objects
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # What one collection frees makes more objects unreachable (the
    # Python side's released references, the ContextCleaner's work), so
    # the heap settles over several: collect until three readings agree.
    used: list[int] = []
    while len(used) < 15 and not (len(used) >= 3 and max(used[-3:]) <= 1.01 * min(used[-3:])):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        used.append(mem.getHeapMemoryUsage().getUsed())
    parts = {
        "python_rss_kb": RssSampler.tree_rss_kb(java=False)[0],
        "heap_used_kb": used[-1] // 1024,
        "non_heap_committed_kb": mem.getNonHeapMemoryUsage().getCommitted() // 1024,
    }
    return sum(parts.values()), parts


def start_spark(work: str, event_dir: str | None):
    from analytics_etl_spark import get_spark

    local = os.path.join(work, "spark-local")
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no JVM file is written outside the working directory
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={work}",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Stepper:
    """The ``step(construct, action)`` callable a workload's op uses: build,
    then materialize. Traced, it also times the construction and puts it
    and the action under their own job groups."""

    def __init__(self, spark, traced: bool):
        self.spark, self.traced = spark, traced
        self.reset(0)

    def reset(self, i: int) -> None:
        self.i, self.construct_s = i, 0.0

    def _group(self, kind: str | None) -> None:
        sc = self.spark.sparkContext
        if kind is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{JOB_GROUP}{self.i}.{kind}", f"op {self.i} {kind}")

    def __call__(self, construct, action):
        from workloads import plain_step

        if not self.traced:
            return plain_step(construct, action)
        self._group("c")
        t0 = time.perf_counter()
        built = construct()
        self.construct_s += time.perf_counter() - t0
        self._group("a")
        action(built[0] if isinstance(built, tuple) else built)
        self._group(None)
        return built


def run_ops(wl, spark, seconds: float, timers=None, sampler=None) -> list[dict]:
    """The workload's ops back to back until ``seconds`` of op time has
    passed (and the workload's round is complete), or its inputs run
    out. ``timers`` (a traced run) adds the layer split per op."""
    from layers import cache_state

    traced = timers is not None
    step = Stepper(spark, traced)
    ops, timed = [], 0.0
    for i in wl.ops:
        if timed >= seconds and (i - wl.ops[0]) % wl.round_len == 0:
            break
        measured = i - wl.ops[0] >= wl.warmup_ops
        step.reset(i)
        rec = {"i": i, "ok": True, "error": None, "measured": measured}
        if sampler:
            sampler.active.set()
        t0 = time.perf_counter()
        try:
            out = wl.op(spark, i, step)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            out, rec["ok"], rec["error"] = {}, False, f"{type(e).__name__}: {str(e)[:300]}"
        rec["latency_s"] = time.perf_counter() - t0
        if sampler:
            sampler.active.clear()
            sampler.sample()
        if traced:
            m = timers.take(origin=t0)
            rec["latency_s"] -= m["probe_s"]  # the Catalyst probes are off the clock
            rec["layers"], rec["catalyst"], rec["spans"] = m["layers"], m["catalyst"], m["spans"]
            rec["construct_s"] = step.construct_s
            rec["persisted_rdds"], rec["storage_bytes"] = cache_state(spark)
            rec["funnel"] = _funnel(m["observations"])
        timed += rec["latency_s"] if measured else 0.0
        if rec["ok"]:
            c0 = time.perf_counter()
            try:
                rec["error"] = wl.check(spark, i, out)
            except Exception as e:  # noqa: BLE001
                rec["error"] = f"check raised {type(e).__name__}: {str(e)[:300]}"
            rec["ok"] = rec["error"] is None
            rec["check_s"] = time.perf_counter() - c0
        for k in ("records", "result_rows", "input_bytes", "corpus_read_bytes",
                  "dropped_frac", "corrupt_records"):
            if k in out:
                rec[k] = out[k]
        if traced:
            rec["out_files"], rec["out_bytes"] = _out_files(out)
            if rec["funnel"] is None:
                rec["funnel"] = out.get("funnel")
        ops.append(rec)
    return ops


def _funnel(observations: list) -> float | None:
    """accepted / input of the last plan call that returned Observations
    (first and last stage of its funnel), if its action populated them."""
    for obs in reversed(observations):
        first, last = obs[next(iter(obs))], obs[list(obs)[-1]]
        # Observation.get blocks until populated; read only finished ones
        if all(o._jo is not None and o._jo.future().isCompleted() for o in (first, last)):
            n0, n1 = first.get["n"], last.get["n"]
            return n1 / n0 if n0 else None
    return None


def _out_files(out: dict) -> tuple[int, int]:
    from workloads import dir_bytes

    files = size = 0
    for d in out.get("out_dirs", []):
        f, b = dir_bytes(d)
        files, size = files + f, size + b
    if "out_dir" in out:
        # a partitioned table: count only the files this op rewrote
        for path in glob.glob(os.path.join(out["out_dir"], "*", "*", "*.parquet")):
            if os.path.getmtime(path) >= out.get("t0", 0):
                files, size = files + 1, size + os.path.getsize(path)
    return files, size


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    ops beyond it, or None when the run is too short for one."""
    n = len(latencies)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(latencies)[n - 11]


def end_to_end(ops: list[dict], setup_s: float, retained: int) -> dict[str, float]:
    good = [o for o in ops if o["ok"]]
    timed = sum(o["latency_s"] for o in ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": _med(o["latency_s"] for o in ops),
        "ops_per_s": len(good) / timed,
        "records_per_s": sum(o.get("records", 0) for o in good) / timed,
        "retained_mb": retained / 1024.0,
    }


def per_layer(
    ops: list[dict], groups: dict, session_s: float, overhead: float, queries_layer: bool
) -> dict[str, float]:
    """Per-op medians of the layer split (cache state: after the last op)."""
    rows = []
    for o in ops:
        c = groups.get(f"{JOB_GROUP}{o['i']}.c", {})
        a = groups.get(f"{JOB_GROUP}{o['i']}.a", {})
        both = {k: c.get(k, 0) + a.get(k, 0) for k in (
            "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_records", "spill_bytes")}
        jobs_wall = _union_of(c, a)
        cat, layer = o["catalyst"], o["layers"]
        row = {f"executor.{k}": v for k, v in both.items()}
        row.update(
            {
                "tables.load_s": layer.get("tables", 0.0),
                "queries.construct_s": o["construct_s"] if queries_layer else 0.0,
                "queries.construct_jobs": c.get("jobs", 0) if queries_layer else 0,
                "plans.construct_s": layer.get("plans", 0.0),
                "plans.funnel_kept_frac": o.get("funnel"),
                **{f"catalyst.{k}": v for k, v in cat.items()},
                # construction outside Spark jobs, Catalyst and the jobs
                # themselves account for the op; the rest is driver gap
                "driver.gap_s": o["latency_s"] - (o["construct_s"] - c.get("jobs_wall_s", 0.0))
                - cat.get("optimization_s", 0) - cat.get("planning_s", 0) - jobs_wall,
                "driver.jobs_wall_s": jobs_wall,
                "executor.busy_frac": both["run_s"] / (jobs_wall * CPUS) if jobs_wall else 0.0,
                "executor.input_records_per_result_row": both["input_records"] / o["result_rows"]
                if o.get("result_rows") else 0.0,
                "sources.read_s": layer.get("sources", 0.0),
                "sources.input_bytes": o.get("input_bytes"),
                "sources.corrupt_records": o.get("corrupt_records"),
                "sinks.write_s": layer.get("sinks", 0.0),
                "sinks.files_written": o["out_files"],
                "sinks.bytes_written": o["out_bytes"],
                "sinks.bytes_per_input_byte": o["out_bytes"] / o["input_bytes"] if o.get("input_bytes") else None,
                "streaming.batch_s": layer.get("streaming", 0.0),
                "streaming.corpus_read_bytes": o.get("corpus_read_bytes"),
                "streaming.dropped_frac": o.get("dropped_frac"),
            }
        )
        rows.append(row)
    m = {k: _med(r.get(k) for r in rows) for k in rows[0]} if rows else {}
    m.update(
        {
            "session.start_s": session_s,
            "cache.persisted_rdds": ops[-1]["persisted_rdds"] if ops else 0,
            "cache.storage_bytes": ops[-1]["storage_bytes"] if ops else 0,
            "trace.overhead_s": overhead,
        }
    )
    return m


def _union_of(*groups) -> float:
    from layers import union_seconds

    return union_seconds([iv for g in groups for iv in g.get("intervals", [])])


def run_untraced_half(args) -> dict | None:
    """The untraced half of a traced run, in its own process: the same
    workload and seed for half the time, from a cold JVM and a fresh
    interpreter (the engine keeps module-level state across sessions)."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds / 2), "--trace", "0"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        print(f"perfbench: the untraced half failed ({proc.returncode})", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "analytics_etl_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print("perfbench: the engine package or tools/check_oracle.py is missing", file=sys.stderr)
        return 2
    if args.workload not in PROGRAM_MODULES:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(PROGRAM_MODULES)}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    load_start = os.getloadavg()
    c0 = time.perf_counter()
    untraced = run_untraced_half(args) if args.trace else None
    child_s = time.perf_counter() - c0
    if args.trace and untraced is None:
        return 1
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    # the program runs with its own master and driver memory defaults
    for k in ("SPARK_GRAFT_MASTER", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(k, None)

    # the program's import is part of set-up; the benchmark's own is not
    for name in PROGRAM_MODULES[args.workload]:
        importlib.import_module(name)
    h0 = time.perf_counter()
    import layers
    from workloads import WORKLOADS

    harness_s = time.perf_counter() - h0
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        cls = WORKLOADS[args.workload]
        # the traced half takes fresh inputs, after the untraced half's
        wl = cls(work, args.seed, first_op=cls.ops_per_phase * args.trace)
        g0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - g0

        event_dir = timers = None
        if args.trace:
            event_dir = os.path.join(work, "events")
            os.makedirs(event_dir, exist_ok=True)
            timers = layers.LayerTimers()
        t0 = time.perf_counter()
        spark = start_spark(work, event_dir)
        session_s = time.perf_counter() - t0
        wl.setup(spark)
        # from process start: input generation, the benchmark's imports
        # and a traced run's untraced half excluded
        setup_s = since_process_start() - child_s - harness_s - gen_s
        if timers:
            timers.take()
        run_versions = versions(spark)
        seconds = args.seconds / 2 if args.trace else args.seconds
        ops = run_ops(wl, spark, seconds, timers, None if args.trace else sampler)
        app_id = spark.sparkContext.applicationId
        retained, retained_parts = retained_kb(spark) if not args.trace else (0, {})
        stop_spark(spark)
        spark = None
        sampler.stop()
        groups = {}
        if args.trace:
            logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if app_id in p]
            groups = layers.parse_event_log(logs[0], JOB_GROUP) if logs else {}

        failed = [o for o in ops if not o["ok"]]
        attempted, n_failed = len(ops), len(failed)
        warmup = [o["latency_s"] for o in ops if not o["measured"]]
        ops = [o for o in ops if o["measured"]]
        if untraced:
            attempted, n_failed = attempted + untraced["attempted"], n_failed + untraced["failed"]
        lat = [o["latency_s"] for o in ops]
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": CPUS,
            "master": f"local[{CPUS}]",
            "load_avg_start": load_start,
            "load_avg_end": os.getloadavg(),
            **run_versions,
            "generate_s": gen_s,
            "harness_import_s": harness_s,
            "setup_s": setup_s,
            "session_start_s": session_s,
            "ops": len(ops),
            "op_latencies_s": lat,
            "warmup_latencies_s": warmup,
            "peak_rss_mb": sampler.peak_kb / 1024.0,
            "peak_rss_processes": sampler.peak_procs,
            "retained_parts": retained_parts,
            "check_s": sum(o.get("check_s", 0.0) for o in ops),
            "wall_s": since_process_start(),
            "ops_failed_frac": n_failed / attempted if attempted else 1.0,
            "failures": [f"op {o['i']}: {o['error']}" for o in failed][:10],
        }
        t = tail(lat)
        record["op_tail_s"] = {"percentile": t[0], "value": t[1], "samples": len(lat)} if t else None
        if args.trace:
            overhead = _med(lat) - untraced["metrics"]["op_p50_s"]["value"]
            metrics = per_layer(ops, groups, session_s, overhead, wl.construct_layer == "queries")
            record["census"] = [{"i": o["i"], **o["catalyst"]} for o in ops]
            record["spans"] = {o["i"]: o["spans"] for o in ops}
            record["untraced_half"] = untraced
        else:
            metrics = end_to_end(ops, setup_s, retained)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:  # names and units to print
            declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
        print(json.dumps({"run_record": record}))
        print(
            json.dumps(
                {
                    "correct": n_failed == 0 and attempted > 0,
                    "attempted": attempted,
                    "failed": n_failed,
                    "metrics": {
                        m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                        for m in declared
                    },
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:  # noqa: BLE001 — best effort on the error path
                pass
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
