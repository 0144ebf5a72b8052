"""Tracing for the benchmark's ``--trace 1`` run.

Spans are recorded in memory around the engine's public calls, from
outside the engine: the wrappers replace module attributes before
``gostream_spark.queries`` imports them, so every query picks up the
wrapped function. Spark's own records supply the rest: the event log
(per-job and per-task metrics, parsed after the session stops), the
status tracker (jobs per job group) and a query-execution listener
(the executed query's planning tracker). The timed runs use
``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import re
import sys
import threading
import time

from perfbench.metrics import covered, self_times

# Span-name prefix -> layer, most specific first.
_LAYERS = (
    ("session.", "session"),
    ("queries.", "queries"),
    ("io.", "io"),
    ("operators.", "operators"),
    ("functions.", "operators"),
    ("streaming.file_stream", "streaming.source"),
    ("streaming.ops.", "streaming.ops"),
    ("streaming.runner.", "streaming.runner"),
    ("exec.", "exec"),
)


def layer_of(span_name: str) -> str:
    for prefix, layer in _LAYERS:
        if span_name.startswith(prefix):
            return layer
    return "other"


class NullTracer:
    """Tracing off: spans and job groups cost one attribute lookup."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield

    def job_group(self, spark, group: str) -> None:
        pass


class Tracer(NullTracer):
    """Records spans (name, start, end, parent, attributes) per thread."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = iter(range(1, sys.maxsize))
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "thread": threading.get_ident(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def job_group(self, spark, group: str) -> None:
        spark.sparkContext.setJobGroup(group, group)


def install(tracer: Tracer) -> None:
    """Wrap the engine's public layer entry points. Must run before
    ``gostream_spark.queries`` is imported: the query modules bind the
    names at import time."""
    if "gostream_spark.queries" in sys.modules:
        raise RuntimeError("install() must run before gostream_spark.queries is imported")
    import gostream_spark.functions as functions
    import gostream_spark.io as io
    import gostream_spark.operators as operators
    import gostream_spark.session as session
    import gostream_spark.streaming.ops as sops
    import gostream_spark.streaming.runner as runner
    import gostream_spark.streaming.source as source

    def public_functions(mod):
        names = getattr(mod, "__all__", None) or [
            n for n in vars(mod) if not n.startswith("_")
        ]
        return {
            n: getattr(mod, n)
            for n in names
            if inspect.isfunction(getattr(mod, n, None))
            and getattr(mod, n).__module__.startswith("gostream_spark")
        }

    targets = {
        session.get_spark: "session.get_spark",
        io.load_table: "io.load_table",
        io.spread_for_compute: "io.spread_for_compute",
        source.file_stream: "streaming.file_stream",
        runner.run_available_now: "streaming.runner.run_available_now",
        runner.run_until: "streaming.runner.run_until",
    }
    for n, f in public_functions(operators).items():
        targets.setdefault(f, f"operators.{n}")
    for n, f in public_functions(functions).items():
        targets.setdefault(f, f"functions.{n}")
    for n, f in public_functions(sops).items():
        targets.setdefault(f, f"streaming.ops.{n}")
    wrapped = {id(f): tracer.wrap(f, name) for f, name in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("gostream_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrapped.get(id(val))
            if w is not None:
                setattr(mod, attr, w)


class PlanningListener:
    """py4j ``QueryExecutionListener``: keeps each executed query's
    planning-tracker phases (epoch ms) as Spark reports them."""

    _PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (py4j)
        phases = {
            m.group(1): (int(m.group(2)), int(m.group(3)))
            for m in self._PHASE.finditer(qe.tracker().phases().toString())
        }
        self.events.append({"func": func_name, "phases": phases})

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (py4j)
        self.events.append({"func": func_name, "phases": {}, "failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_planning_listener(spark) -> PlanningListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanningListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def group_jobs(spark, groups) -> dict[str, dict]:
    """Jobs, stages and tasks per job group, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None:
                    stages += 1
                    tasks += s.numTasks
        out[g] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
    return out


def event_log_conf(log_dir: str) -> list[str]:
    """``--conf`` arguments that turn on an uncompressed, unrolled
    event log in ``log_dir`` (plain JSON lines, read by the stdlib)."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
    ]


def parse_event_log(log_dir: str) -> dict:
    """Jobs and per-task metrics from the (single) event log file in
    ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "submitted_ms": e["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(e["Stage IDs"]),
                    "ran_stages": set(),
                }
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["completed_ms"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "ok": (e.get("Task End Reason") or {}).get("Reason") == "Success",
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    for t in tasks:
        jid = stage_job.get(t["stage"])
        t["job"] = jid
        if jid is not None:
            jobs[jid]["ran_stages"].add(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def exec_stats(log: dict, job_ids) -> dict:
    """Execution-layer totals over the given jobs."""
    job_ids = set(job_ids)
    ts = [t for t in log["tasks"] if t["job"] in job_ids]
    per_stage: dict[int, int] = {}
    for t in ts:
        per_stage[t["stage"]] = per_stage.get(t["stage"], 0) + 1
    single = sum(1 for n in per_stage.values() if n == 1)
    # Wall time with at least one of the jobs running.
    spans = [(log["jobs"][j]["submitted_ms"], log["jobs"][j]["completed_ms"])
             for j in job_ids if log["jobs"][j].get("completed_ms") is not None]
    busy_ms = covered(spans, min(a for a, _ in spans), max(b for _, b in spans)) if spans else 0
    return {
        "jobs": len(job_ids),
        "jobs_wall_s": busy_ms / 1000.0,
        "stages": len(per_stage),
        "tasks": len(ts),
        "single_task_stages": single,
        "task_s": sum(t["run_ms"] for t in ts) / 1000.0,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
        "shuffle_write_mb": sum(t["shuffle_bytes"] for t in ts) / 1e6,
        "shuffle_records": sum(t["shuffle_records"] for t in ts),
        "spill_mb": sum(t["spill_bytes"] for t in ts) / 1e6,
        "failed_tasks": sum(1 for t in ts if not t["ok"]),
    }


def innermost_span(spans: list[dict], t: float, thread: int | None = None) -> dict | None:
    """The deepest span (latest start) whose interval holds time ``t``."""
    best = None
    for s in spans:
        if thread is not None and s["thread"] != thread:
            continue
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per layer (span self time summed by layer)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


def span_totals(spans: list[dict]) -> dict[str, dict]:
    """Calls, inclusive and self seconds per span name."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0})
        d["calls"] += 1
        d["s"] += s["end"] - s["start"]
        d["self_s"] += st[s["id"]]
    return out
