#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` under ``.perfbench/``,
builds the engine's SparkSession at ``local[<cpus>]``, runs the
workload, checks every result against its DuckDB oracle, and prints a
metric table followed by one JSON line (the last line of stdout):
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same workload
with spans, job groups, the event log and listeners on, and reports
the per-layer metrics. Each run also writes its full record to
``.perfbench/records/``. See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    """CPU steal share since boot and load averages, from /proc."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"time": time.time(), "cpu_jiffies": cpu, "steal_jiffies": cpu[7], "loadavg": load}


def host_fingerprint(start: dict, end: dict, cpus: int, master: str) -> dict:
    total = sum(end["cpu_jiffies"]) - sum(start["cpu_jiffies"])
    steal = end["steal_jiffies"] - start["steal_jiffies"]
    return {
        "nproc": cpus,
        "master": master,
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "steal_frac": steal / total if total > 0 else 0.0,
    }


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled from /proc on a thread."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.peak_mb = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> float:
        parents: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parents[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * self._page
        me = os.getpid()
        total = 0
        for pid in rss:
            p = parents.get(pid)
            while p and p != me:
                p = parents.get(p)
            if p == me:
                total += rss[pid]
        return total / 1e6

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._sample())


def configure_env(run_dir: str, cpus: int, event_log_dir: str | None) -> None:
    """Keep Spark, Python workers and temp files inside the checkout,
    and turn on the event log from outside the engine when tracing."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # A 2 GB driver heap instead of the engine's 8 GB default: on the
    # reference host, warm pass times spread about half as much from run
    # to run with it (see perfbench/README.md), and the inputs are small.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Every JVM (the spark-submit launcher too): temp files in the run
    # directory, and no /tmp/hsperfdata_* from -XX:+UsePerfData.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = []
    if event_log_dir:
        from perfbench.trace import event_log_conf

        os.makedirs(event_log_dir, exist_ok=True)
        args += event_log_conf(event_log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (the
    JVM leaves when its stdin pipe closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import gostream_spark  # noqa: F401
        import tools.canon  # noqa: F401
    except ImportError as e:
        print(f"engine package not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    from perfbench import metrics, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    event_log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    configure_env(run_dir, cpus, event_log_dir)

    from perfbench.trace import NullTracer, Tracer, install

    tracer = Tracer() if args.trace else NullTracer()
    if args.trace:
        install(tracer)
    host0 = host_sample()
    spark = None
    try:
        with RssSampler() as rss:
            # Set-up: process start -> session ready, registry loaded,
            # first trivial job done.
            from gostream_spark.session import get_spark

            with tracer.span("bench.setup"):
                spark = get_spark(app_name=f"perfbench_{args.workload}")
                from gostream_spark.registry import all_queries

                registry = all_queries()
                spark.range(1).count()
            setup_s = time.time() - t_proc
            ctx = workloads.Context(
                spark=spark, registry=registry, tracer=tracer, seed=args.seed,
                seconds=args.seconds, run_dir=run_dir,
            )
            result = workloads.WORKLOADS[args.workload](ctx)
            master = spark.sparkContext.master
            if args.trace:
                result.record["trace"] = workloads.collect_trace(ctx, result)
            stop_session(spark)
            spark = None
        if args.trace:
            result.record["trace"].update(
                workloads.collect_event_log(ctx, result, event_log_dir)
            )
        host1 = host_sample()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    result.metrics["setup_s"] = setup_s
    result.metrics["peak_rss_mb"] = rss.peak_mb
    attempted, failed = metrics.count_failures(result.outcomes)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_fingerprint(host0, host1, cpus, master),
        "attempted": attempted,
        "failed": failed,
        "failed_frac": metrics.failed_frac(attempted, failed),
        "metrics": result.metrics,
        **result.record,
    }
    units = workloads.UNITS
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    if args.trace:
        reported = result.record["trace"]["per_layer"]
        # Tracing overhead: traced minus untraced end-to-end metrics,
        # against the untraced record of the same workload and seed.
        untraced = rec_path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            record["trace"]["overhead"] = {
                k: result.metrics[k] - base[k] for k in workloads.END_TO_END if k in base
            }
    else:
        reported = {k: result.metrics[k] for k in workloads.END_TO_END}
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)

    for o in sorted({o for o in result.outcomes if o != "ok"}):
        print(f"FAILED {o}")
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
          f"record={os.path.relpath(rec_path, ROOT)}")
    for k, v in reported.items():
        print(f"  {k:34s} {v:14.4f} {units.get(k, '')}")
    print(f"  (record) peak_rss_mb {rss.peak_mb:.1f} MB, failed_frac {failed / attempted:.4f}")
    if args.trace:
        tr = record["trace"]
        for k, v in sorted(tr["layer_self_s"].items()):
            print(f"  self_s[{k}]{'':{max(0, 26 - len(k))}s} {v:14.4f} s")
        for k, v in sorted(tr.get("overhead", {}).items()):
            print(f"  overhead[{k}]{'':{max(0, 24 - len(k))}s} {v:14.4f} {units.get(k, '')}")
        print(f"  queries.lazy_frac {tr['queries.lazy_frac']}  reconcile {tr['reconcile']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in reported.items()},
    }))
    return 0 if failed == 0 else 3


if __name__ == "__main__":
    sys.exit(main())
