"""The benchmark's workloads. Each takes a ``Context`` (live session,
registry, tracer, seed, run length) and returns a ``Result``: its
end-to-end metrics, one outcome tag per attempted operation, and a
detail record.

Every workload reports the same end-to-end metrics (``END_TO_END``);
what counts as a unit of work differs and is defined in
perfbench/README.md.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
import statistics
import threading
import time
from datetime import datetime

from perfbench import datagen, metrics, oracle, trace

END_TO_END = ("setup_s", "cold_s", "warm_s", "lat_s")
UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "lat_s": "s",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s", "queries.build_s": "s", "queries.build_jobs": "count",
    "io.input_s": "s", "operators.self_s": "s", "catalyst.plan_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.parallelism": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.gc_s": "s",
}

#: Untimed warm passes after the batch cold pass. The session is still
#: warming up then: on the reference host the first warm pass read 12%
#: slower than the second (median of 47 runs).
WARMUP_PASSES = 1
#: Fewest timed warm passes in a batch run.
MIN_TIMED_PASSES = 2
#: Fewest warm drains in a stream run.
MIN_WARM_DRAINS = 2

#: Scale factor of the generated batch inputs (row counts as in the
#: engine's sf0.01 reference fixtures: 60k lineitem, 10k events, 500
#: documents, 500 embeddings).
BATCH_SF = 0.01

#: The batch workload's headline queries: the relational, SQL and
#: event-time family (scan and aggregate, the SQL entry's 7-table join,
#: the skew operator, event-time windows, build-time jobs) and the
#: LLM-data-pipeline family (prefix join, connected components, the
#: sketch functions and spread_for_compute inside training mix). A
#: subset of the 37 batch headline queries, sized to the run budget.
RELATIONAL = (
    "pricing_summary", "sql_market_share", "skew_salted_join",
    "session_window", "market_basket_pair_lift",
)
CORPUS = (
    "neardup_prefix_filter_pairs", "neardup_cluster_components",
    "training_mix_pipeline",
)
REPLAY_STREAMS = (
    "streaming_tumbling_counts", "streaming_dedup", "streaming_stateful_counts",
)


@dataclasses.dataclass
class Context:
    spark: object
    registry: dict
    tracer: object
    seed: int
    seconds: float
    run_dir: str
    planning: object = None  # trace.PlanningListener when tracing

    def __post_init__(self) -> None:
        if self.tracer.enabled:
            self.planning = trace.register_planning_listener(self.spark)


@dataclasses.dataclass
class Result:
    metrics: dict
    outcomes: list
    record: dict
    window: tuple = (0.0, 0.0)  # measured phase, epoch seconds
    groups: list = dataclasses.field(default_factory=list)
    actions: list = dataclasses.field(default_factory=list)  # (start, end) epoch s


def _run_query(ctx: Context, res: Result, name: str, tag: str, args: tuple,
               kwargs: dict, collect: bool):
    """Build one registered query and run its action: collect to the
    driver (``collect``) or write to the noop sink. Returns
    ``(seconds, pandas result or None)``."""
    q = ctx.registry[name]
    group = f"{tag}:{name}"
    t0 = time.perf_counter()
    ctx.tracer.job_group(ctx.spark, group + ":build")
    with ctx.tracer.span("queries.fn", query=name):
        df = q.fn(ctx.spark, *args, **kwargs)
    ctx.tracer.job_group(ctx.spark, group + ":exec")
    a0 = time.time()
    with ctx.tracer.span("exec.action", query=name):
        if collect:
            out = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            out = None
    res.actions.append((a0, time.time()))
    res.groups += [group + ":build", group + ":exec"]
    return time.perf_counter() - t0, out


def _batch(ctx: Context, names: tuple) -> Result:
    data = os.path.join(ctx.run_dir, "data")
    sizes = datagen.write_tables(data, ctx.seed, BATCH_SF)
    rng = random.Random(ctx.seed)
    res = Result(metrics={}, outcomes=[], record={"inputs": sizes, "queries": list(names)})
    t_window = time.time()

    # Cold pass: first execution of every query in the fresh session,
    # each result collected to the driver for the oracle check.
    order = rng.sample(names, len(names))
    got, cold_q = {}, {}
    t0 = time.perf_counter()
    for n in order:
        try:
            cold_q[n], got[n] = _run_query(ctx, res, n, "cold", (data,), {}, True)
            res.outcomes.append("ok")
        except Exception as e:  # a failing query is counted, the pass goes on
            res.outcomes.append(f"error:{n}:{type(e).__name__}")
    cold_s = time.perf_counter() - t0

    # Warm passes to the noop sink until the run length, counted from
    # the end of the cold pass, is spent: WARMUP_PASSES untimed, then at
    # least MIN_TIMED_PASSES timed.
    passes: list[float] = []
    pass_query: list[dict[str, float]] = []
    deadline = time.perf_counter() + ctx.seconds
    while (len(passes) < WARMUP_PASSES + MIN_TIMED_PASSES
           or time.perf_counter() < deadline):
        order = rng.sample(names, len(names))
        this: dict[str, float] = {}
        p0 = time.perf_counter()
        for n in order:
            try:
                this[n], _ = _run_query(ctx, res, n, f"w{len(passes)}", (data,), {}, False)
                res.outcomes.append("ok")
            except Exception as e:
                res.outcomes.append(f"error:{n}:{type(e).__name__}")
        passes.append(time.perf_counter() - p0)
        pass_query.append(this)
    res.window = (t_window, time.time())

    # Oracle check, outside the timed passes.
    rows = {}
    for n in names:
        if n not in got:
            continue
        diff = oracle.check(got[n], ctx.registry[n].oracle, data)
        rows[n] = len(got[n])
        res.outcomes.append("ok" if diff is None else f"mismatch:{n}")
        if diff is not None:
            res.record.setdefault("mismatches", {})[n] = diff

    timed = pass_query[WARMUP_PASSES:]
    per_query = {n: [p[n] for p in timed if n in p] for n in names}
    query_median = {n: statistics.median(v) for n, v in per_query.items() if v}
    lat = [t for ts in per_query.values() for t in ts]
    res.metrics.update(
        cold_s=cold_s,
        warm_s=statistics.median(passes[WARMUP_PASSES:]),
        # Every query weighs alike: the geometric mean of the per-query
        # medians, not the median of the pooled samples, which follows
        # the one or two queries that sit in the middle.
        lat_s=statistics.geometric_mean(query_median.values()),
    )
    res.record.update(
        cold_query_s=cold_q,
        warmup_passes=WARMUP_PASSES,
        pass_s=metrics.summary(passes[WARMUP_PASSES:]),
        passes_s=passes,
        query_s=metrics.summary(lat),
        query_warm_median_s=query_median,
        query_warm_s=per_query,
        warmup_query_s=pass_query[:WARMUP_PASSES],
        result_rows=rows,
    )
    return res


def batch(ctx: Context) -> Result:
    """Relational and corpus headline queries, interleaved in a
    seed-shuffled order each pass."""
    return _batch(ctx, RELATIONAL + CORPUS)


# --- streams -------------------------------------------------------------

#: Replay input: shards x rows, one shard per micro-batch.
REPLAY_SHARDS, REPLAY_ROWS = 2, 2_000
#: Live input: shard size, and the phases in order as (name, arrival
#: rate in shards/s, shards). Shard k of a phase is due k + 1 intervals
#: after the phase starts. At ``lo`` each shard finds the engine idle
#: (its data batch and the no-data batch after it end before the next
#: shard), so ``lo`` reads the per-batch floor; at ``hi`` shards queue
#: behind running batches, which take all queued files at once.
LIVE_ROWS = 500
LIVE_PHASES = (("lo", 0.5, 3), ("hi", 4.0, 16))
LIVE_TRIGGER_MS = 100
#: Run time the live phase takes: its phases plus query start and stop.
LIVE_RESERVE_S = sum(n / rate for _, rate, n in LIVE_PHASES) + 4.0
#: A live shard whose creation -> commit latency exceeds this fails.
LIVE_LATENCY_LIMIT_S = 5.0
#: A run whose generator wrote a shard later than this after its due
#: time is invalid: its latencies would measure the host, not the engine.
LOADGEN_LATE_LIMIT_S = 0.25

_LIVE_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS event_cnt
FROM events GROUP BY 1, 2
"""


class ProgressListener:
    """Collects every micro-batch progress record of the streams that
    start after it is registered."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.rows = 0
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = json.loads(event.progress.json)
                with outer._lock:
                    outer.progress.append(p)
                    outer.rows += p.get("numInputRows", 0)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _L()


class LoadGenerator(threading.Thread):
    """Open-loop shard writer: shard ``k`` of a phase is due at
    ``phase_start + (k + 1) / rate`` whether or not the engine has
    caught up. Each shard is written under a hidden name, renamed into
    place, and its creation time is stamped at the rename. Event time
    equals creation time, so the watermark advances with the wall clock."""

    def __init__(self, table_dir: str, seed: int, start_evt: threading.Event):
        super().__init__(daemon=True)
        self.dir = os.path.join(table_dir, "events.parquet")
        self.seed = seed
        self.start_evt = start_evt
        self.shards: list[dict] = []  # {"phase", "created", "due", "rows"}
        self.phases: dict[str, tuple[float, float]] = {}  # name -> (start, end) epoch s
        self.done = threading.Event()
        self.error: BaseException | None = None

    def write_shard(self, k: int, phase: str, due: float) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([self.seed, 3, k])
        now_us = int(time.time() * 1e6)
        cols = datagen.event_columns(rng, LIVE_ROWS, 1500, id_base=k * LIVE_ROWS, t0_us=now_us)
        cols["ts"] = pa.array(np.full(LIVE_ROWS, now_us), datagen.TS)
        hidden = os.path.join(self.dir, f".part-{k:05d}.parquet")
        pq.write_table(pa.table(cols), hidden)
        os.rename(hidden, os.path.join(self.dir, f"part-{k:05d}.parquet"))
        self.shards.append({"phase": phase, "created": time.time(), "due": due, "rows": LIVE_ROWS})

    def run(self) -> None:
        try:
            self.start_evt.wait()
            k = len(self.shards)
            t = time.time()
            for phase, rate, n in LIVE_PHASES:
                for i in range(n):
                    due = t + (i + 1) / rate
                    time.sleep(max(0.0, due - time.time()))
                    self.write_shard(k, phase, due)
                    k += 1
                self.phases[phase] = (t, t + n / rate)
                t += n / rate
        except BaseException as e:  # surfaced by the caller
            self.error = e
        finally:
            self.done.set()


def _progress_commit(p: dict) -> tuple[float, float]:
    """(batch start, commit) epoch seconds of one progress record."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _live(ctx: Context, res: Result) -> dict:
    """Open-loop live phase through ``run_until``: file_stream ->
    windowed_counts (update mode) at a processing-time trigger."""
    from gostream_spark.streaming import file_stream, windowed_counts
    from gostream_spark.streaming.runner import run_until

    live_dir = os.path.join(ctx.run_dir, "live")
    os.makedirs(os.path.join(live_dir, "events.parquet"), exist_ok=True)
    go = threading.Event()
    gen = LoadGenerator(live_dir, ctx.seed, go)
    gen.write_shard(0, "prime", time.time())  # the source infers its schema from it
    listener = ProgressListener()
    ctx.spark.streams.addListener(listener.listener)
    gen.start()

    def caught_up(_sink) -> bool:
        # Reads the listener's counters only: launches no Spark job.
        if listener.progress and not go.is_set():
            go.set()
        with listener._lock:
            rows = listener.rows
        return gen.done.is_set() and rows >= sum(s["rows"] for s in gen.shards)

    t0 = time.time()
    try:
        with ctx.tracer.span("queries.live", query="live_windowed_counts"):
            sdf = windowed_counts(file_stream(ctx.spark, live_dir, "events"))
            sink = run_until(
                sdf, caught_up, output_mode="update", timeout_sec=60,
                poll_sec=0.05, trigger_ms=LIVE_TRIGGER_MS, state_partitions=8,
            )
        with ctx.tracer.span("exec.action", query="live_windowed_counts"):
            final = sink.groupBy("w", "event_type").max("event_cnt").toPandas()
    finally:
        go.set()
        gen.join(timeout=30)
        ctx.spark.streams.removeListener(listener.listener)
    if gen.error is not None:
        raise gen.error
    wall = time.time() - t0

    with listener._lock:
        progress = list(listener.progress)
    batches = [(p["numInputRows"], _progress_commit(p)[1]) for p in progress]
    shards = gen.shards
    lats = metrics.shard_latencies(
        [s["created"] for s in shards], [s["rows"] for s in shards], batches
    )
    idx = metrics.shard_commits([s["rows"] for s in shards], batches)
    late = max(s["created"] - s["due"] for s in shards[1:])
    if late > LOADGEN_LATE_LIMIT_S:
        raise RuntimeError(
            f"invalid run: load generator ran {late * 1000:.0f} ms behind schedule"
        )
    by_phase: dict[str, dict[str, list[float]]] = {
        ph: {"lat": [], "queue_ms": [], "process_ms": []} for ph, _, _ in LIVE_PHASES
    }
    for s, lat, j in zip(shards, lats, idx):
        if s["phase"] == "prime":
            continue
        if lat is None or lat > LIVE_LATENCY_LIMIT_S:
            res.outcomes.append(f"late:{s['phase']}")
            continue
        res.outcomes.append("ok")
        b_start, b_commit = _progress_commit(progress[j])
        ph = by_phase[s["phase"]]
        ph["lat"].append(lat)
        ph["queue_ms"].append((b_start - s["created"]) * 1000)
        ph["process_ms"].append((b_commit - b_start) * 1000)
    # Rows offered but not yet committed, at each commit.
    backlog: list[tuple[float, int]] = []
    cum_in = 0
    for p in progress:
        cum_in += p["numInputRows"]
        _, commit = _progress_commit(p)
        offered = sum(s["rows"] for s in shards if s["created"] <= commit)
        backlog.append((commit, offered - cum_in))
    intervals = [_progress_commit(p) for p in progress]
    phases = {}
    for name, rate, n in LIVE_PHASES:
        w0, w1 = gen.phases[name]
        ph = by_phase[name]
        in_phase = [b for t, b in backlog if w0 <= t <= w1] or [0]
        phases[name] = {
            "rate_shards_per_s": rate,
            "shards": n,
            "window_s": w1 - w0,
            "busy_frac": metrics.busy_frac(intervals, w0, w1),
            "latency_s": metrics.summary(ph["lat"]),
            "queue_ms_p50": statistics.median(ph["queue_ms"]) if ph["queue_ms"] else None,
            "process_ms_p50": statistics.median(ph["process_ms"]) if ph["process_ms"] else None,
            "backlog_rows_max": max(in_phase),
            "backlog_rows_end": in_phase[-1],
        }

    # Final counts per window and type against the oracle over the shards.
    final["win_start"] = final["w"].map(lambda w: w["start"].strftime("%Y-%m-%d %H:%M:%S"))
    final = final.rename(columns={"max(event_cnt)": "event_cnt"})[
        ["win_start", "event_type", "event_cnt"]
    ]
    diff = oracle.check(final, _LIVE_ORACLE, live_dir)
    res.outcomes.append("ok" if diff is None else "mismatch:live_windowed_counts")
    if diff is not None:
        res.record.setdefault("mismatches", {})["live_windowed_counts"] = diff
    start_s = None
    if progress:
        start_s = _progress_commit(progress[0])[1] - t0
    return {
        "progress": progress,
        "record": {
            "wall_s": wall,
            "start_to_first_commit_s": start_s,
            "shards": len(shards),
            "batches": len(progress),
            "rows_per_shard": LIVE_ROWS,
            "phases": phases,
            "backlog_rows_max": max((b for _, b in backlog), default=0),
            "loadgen_late_ms_max": late * 1000,
            "progress": [_slim_progress(p) for p in progress],
        },
    }


def _slim_progress(p: dict) -> dict:
    return {
        "id": p.get("id"),
        "batchId": p.get("batchId"),
        "timestamp": p.get("timestamp"),
        "numInputRows": p.get("numInputRows"),
        "durationMs": p.get("durationMs"),
        "stateOperators": [
            {k: op.get(k) for k in ("numRowsTotal", "numRowsUpdated", "commitTimeMs",
                                    "memoryUsedBytes")}
            for op in p.get("stateOperators") or []
        ],
    }


def stream(ctx: Context) -> Result:
    """Replay the three registered replayable streams over seeded
    shards (state grows across micro-batches), then an open-loop live
    phase at two fixed rates through ``run_until``."""
    from gostream_spark.streaming import runner

    replay = os.path.join(ctx.run_dir, "replay")
    datagen.write_event_shards(replay, ctx.seed, REPLAY_SHARDS, REPLAY_ROWS)
    res = Result(metrics={}, outcomes=[], record={
        "replay": {"shards": REPLAY_SHARDS, "rows_per_shard": REPLAY_ROWS},
    })
    t_window = time.time()

    # A cold replay drain, then warm drains (at least MIN_WARM_DRAINS) until
    # the run length counted from the end of the cold drain, less the
    # fixed-length live phase, is spent; then the live phase.
    drains: list[float] = []
    got: dict = {}
    progress: dict[str, list] = {}
    per_stream: dict[str, list[float]] = {n: [] for n in REPLAY_STREAMS}
    deadline = None
    while len(drains) < 1 + MIN_WARM_DRAINS or time.perf_counter() < deadline:
        first = not drains
        if len(drains) == 1:
            deadline = time.perf_counter() + ctx.seconds - LIVE_RESERVE_S
        d0 = time.perf_counter()
        # A fixed order: the session's first stream pays a start-up
        # cost the others do not, and a shuffled order would move it
        # between streams of very different cost from run to run.
        for n in REPLAY_STREAMS:
            runner.RECENT_PROGRESS.clear()
            try:
                dt, out = _run_query(ctx, res, n, f"d{len(drains)}", (replay,),
                                     {"max_files_per_trigger": 1}, first)
                per_stream[n].append(dt)
                res.outcomes.append("ok")
                if first:
                    got[n] = out
                progress.setdefault(n, []).extend(
                    b for s in runner.RECENT_PROGRESS for b in s["batches"]
                )
            except Exception as e:
                res.outcomes.append(f"error:{n}:{type(e).__name__}")
        drains.append(time.perf_counter() - d0)

    live = _live(ctx, res)
    res.window = (t_window, time.time())

    for n, out in got.items():
        diff = oracle.check(out, ctx.registry[n].oracle, replay)
        res.outcomes.append("ok" if diff is None else f"mismatch:{n}")
        if diff is not None:
            res.record.setdefault("mismatches", {})[n] = diff

    rows = REPLAY_SHARDS * REPLAY_ROWS * (len(REPLAY_STREAMS) + 1)  # dedup reads twice
    batch_ms = [p["durationMs"].get("triggerExecution", 0) for v in progress.values() for p in v]
    res.metrics.update(
        cold_s=drains[0],
        warm_s=statistics.median(drains[1:]),
        # Both arrival regimes weigh alike: the mean of the lo and hi
        # phase medians.
        lat_s=statistics.fmean(
            ph["latency_s"]["median"] for ph in live["record"]["phases"].values()
        ),
    )
    res.record["replay"].update(
        drains_s=drains,
        stream_s=per_stream,
        rows_per_drain=rows,
        stream_rows_per_s=rows / statistics.median(drains[1:]),
        batch_ms=metrics.summary(batch_ms),
        progress={n: [_slim_progress(p) for p in v] for n, v in progress.items()},
    )
    res.record["live"] = live["record"]
    res.record["streaming"] = {
        "replay": progress_stats([p for v in progress.values() for p in v]),
        "live": progress_stats(live["progress"]),
    }
    return res


def progress_stats(progress: list[dict]) -> dict:
    """Micro-batch and state-store totals from progress records."""
    dur = [p.get("durationMs") or {} for p in progress]
    ops = [op for p in progress for op in p.get("stateOperators") or []]
    last_ops: dict[str, dict] = {}
    for p in progress:  # latest state-operator reading per query
        for i, op in enumerate(p.get("stateOperators") or []):
            last_ops[f"{p.get('id')}:{i}"] = op
    out = {
        "batches": len(progress),
        "batch_ms": metrics.summary([d.get("triggerExecution", 0) for d in dur]),
        "batch_ms_p90": (metrics.percentile([d.get("triggerExecution", 0) for d in dur], 90)
                         if dur else None),
        "input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
        "state.rows_updated": sum(op.get("numRowsUpdated", 0) for op in ops),
        "state.rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops.values()),
        "state.memory_mb": sum(op.get("memoryUsedBytes", 0) for op in last_ops.values()) / 1e6,
    }
    for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
              "latestOffset", "getBatch"):
        out[f"{k}_ms"] = sum(d.get(k, 0) for d in dur)
    return out


WORKLOADS = {"batch": batch, "stream": stream}


# --- traced-run reduction -------------------------------------------------


def collect_trace(ctx: Context, res: Result) -> dict:
    """Per-layer numbers available while the session is alive: spans,
    job groups and planning phases."""
    # The planning listener is fed asynchronously; let it drain.
    n = -1
    for _ in range(50):
        if len(ctx.planning.events) == n:
            break
        n = len(ctx.planning.events)
        time.sleep(0.2)
    spans = [s for s in ctx.tracer.spans if s["end"] is not None]
    groups = trace.group_jobs(ctx.spark, res.groups)
    plan_s = 0.0
    for e in ctx.planning.events:
        ph = e["phases"]
        if "planning" not in ph:
            continue
        t = ph["planning"][0] / 1000.0
        if any(a <= t <= b for a, b in res.actions):
            plan_s += sum((ph[k][1] - ph[k][0]) for k in ("optimization", "planning") if k in ph) / 1000.0
    return {"spans": spans, "groups": groups, "plan_s": plan_s}


def collect_event_log(ctx: Context, res: Result, log_dir: str) -> dict:
    """Reduce spans, job groups and the event log to the per-layer
    metrics (called after the session has stopped and the log is
    complete)."""
    tr = res.record["trace"]
    spans = tr.pop("spans")
    log = trace.parse_event_log(log_dir)
    lo, hi = res.window[0] * 1000, res.window[1] * 1000
    window_jobs = {j: v for j, v in log["jobs"].items() if lo <= v["submitted_ms"] <= hi}
    build_jobs = [j for j, v in window_jobs.items() if (v["group"] or "").endswith(":build")]
    exec_jobs = [j for j in window_jobs if j not in build_jobs]
    ex = trace.exec_stats(log, exec_jobs)
    layer = trace.layer_self_times([s for s in spans if s["name"] != "bench.setup"])
    setup_span = next(s for s in spans if s["name"] == "bench.setup")
    get_spark = sum(s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"
                    and s["start"] >= setup_span["start"] and s["end"] <= setup_span["end"])
    action_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "exec.action")
    tracker_build = sum(v["jobs"] for g, v in tr["groups"].items() if g.endswith(":build"))
    tracker_exec = sum(v["jobs"] for g, v in tr["groups"].items() if g.endswith(":exec"))
    log_exec_group = sum(1 for j in exec_jobs if (window_jobs[j]["group"] or "").endswith(":exec"))
    query_spans = [s for s in spans if s["name"] == "queries.fn"]
    lazy = 0
    for s in query_spans:
        fired = any(s["start"] * 1000 <= v["submitted_ms"] <= s["end"] * 1000
                    for v in window_jobs.values())
        lazy += not fired
    # Jobs per layer: each job goes to the innermost main-thread span
    # open at its submission.
    main = threading.main_thread().ident
    jobs_by_span: dict[str, int] = {}
    for v in window_jobs.values():
        s = trace.innermost_span(spans, v["submitted_ms"] / 1000.0, main)
        key = s["name"] if s else "none"
        jobs_by_span[key] = jobs_by_span.get(key, 0) + 1
    per_layer = {
        "session.get_spark_s": get_spark,
        "queries.build_s": layer.get("queries", 0.0),
        "queries.build_jobs": tracker_build,
        "io.input_s": layer.get("io", 0.0) + layer.get("streaming.source", 0.0),
        "operators.self_s": layer.get("operators", 0.0) + layer.get("streaming.ops", 0.0),
        # Batch actions: the executed query's planning tracker; micro-
        # batches: queryPlanning from their progress records.
        "catalyst.plan_s": tr.pop("plan_s") + sum(
            v["queryPlanning_ms"] for v in res.record.get("streaming", {}).values()
        ) / 1000.0,
        "exec.action_s": action_s,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.task_s": ex["task_s"],
        "exec.parallelism": ex["task_s"] / ex["jobs_wall_s"] if ex["jobs_wall_s"] else 0.0,
        "exec.shuffle_write_mb": ex["shuffle_write_mb"],
        "exec.gc_s": ex["gc_s"],
    }
    return {
        "per_layer": per_layer,
        "layer_self_s": layer,
        "spans": trace.span_totals(spans),
        "jobs_by_span": jobs_by_span,
        "exec": ex,
        "build_exec": trace.exec_stats(log, build_jobs),
        "queries.lazy_frac": lazy / len(query_spans) if query_spans else None,
        "reconcile": {
            "event_log_jobs": len(window_jobs),
            "event_log_build_jobs": len(build_jobs),
            "event_log_exec_group_jobs": log_exec_group,
            "event_log_stream_jobs": len(exec_jobs) - log_exec_group,
            "tracker_build_jobs": tracker_build,
            "tracker_exec_jobs": tracker_exec,
            "ok": tracker_build == len(build_jobs) and tracker_exec == log_exec_group,
        },
    }
