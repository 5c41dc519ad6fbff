#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload crawl_shard --seed 1 --seconds 20 --trace 0

Run from the repository root.  Set-up (Spark session, seeded input,
one warm-up round) is followed by whole timed rounds until
``--seconds`` have passed; the outputs are then checked.  With
``--trace 1`` the run instead times one round with Spark's event log
on, isolates each layer in a span, and prints the per-layer metrics.
The last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(workdir: str, trace: bool):
    from pandas_dq_spark.session import get_spark

    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a heap committed up front keeps the JVM's share of peak RSS
        # from depending on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    n = cores()
    return get_spark(app_name="perfbench", master=f"local[{n}]",
                     shuffle_partitions=2 * n, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait until it exits
    (its Python workers are stopped with the context)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pandas_dq_spark", "__init__.py")):
        print(f"perfbench: no pandas_dq_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    import workloads
    from tracing import RssSampler, Tracer, parse_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        with RssSampler() as rss:
            spark = start_session(workdir, bool(args.trace))
            session_s = process_age_s()
            wl = workloads.WORKLOADS[args.workload](spark, workdir, args.seed)
            wl.setup()
            setup_s = process_age_s()
            tracer = Tracer(spark, f"{args.workload}-{args.seed}", bool(args.trace))
            if args.trace:
                wl.row_counter = spark.sparkContext.accumulator(0)

            rounds, attempted, failed = [], 0, 0
            t_end = time.perf_counter() + args.seconds
            while not rounds or (not args.trace and time.perf_counter() < t_end):
                wl.prepare()
                with tracer.span("round") as s:
                    wl.timed()
                rounds.append(s.seconds)
                attempted += 1
                for op in wl.failing_ops():
                    attempted += 1
                    failed += bool(op())
            layer = {}
            if args.trace:
                more, more_failed = wl.layers(tracer, layer)
                attempted += more
                failed += more_failed
            problems = wl.check()
            out_mb = wl.out_mb()
        stop_session(spark)
        spark = None
        if args.trace:
            costs = parse_event_log(os.path.join(workdir, "eventlog"))
    finally:
        if spark is not None:
            stop_session(spark)

    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    run_s = statistics.median(rounds)
    if args.trace:
        metrics = trace_metrics(workloads, tracer, costs, layer, run_s, session_s)
        tracer.dump(os.path.join(ROOT, ".perfbench_run", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "run_s": (run_s, "s"),
            "rows_per_s": (wl.rows / run_s, "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MiB"),
            "out_mb": (out_mb, "MiB"),
        }
    print(f"perfbench: {args.workload} seed={args.seed} rounds={len(rounds)} "
          f"round_s={[round(r, 3) for r in rounds]}", file=sys.stderr)
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def trace_metrics(workloads, tracer, costs, layer, run_s, session_s) -> dict:
    """Every per-layer metric: span times, the counts the layers
    returned, and the event-log cost of each span's jobs."""
    span_s: dict[str, float] = {}
    cost: dict[str, object] = {}
    for s in tracer.spans:
        span_s[s.name] = span_s.get(s.name, 0.0) + s.seconds
        if s.id in costs:
            cost[s.name] = costs[s.id]
    values = dict(layer)
    values["traced.run_s"] = run_s
    values["session.start_s"] = session_s
    for name in workloads.SPANS:
        key = {"pipeline.plan": "pipeline.plan_s", "udfs.scores": "udfs.scores_s",
               "dedup.verdict": "dedup.verdict_s", "urls.normalize": "urls.normalize_s",
               "fix_dq.fit": "fix_dq.fit_s", "fix_dq.transform": "fix_dq.transform_s"
               }.get(name, f"{name}.s")
        values[key] = span_s.get(name, 0.0)
        c = cost.get(name)
        for k in ("jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s"):
            values[f"{name}.{k}"] = getattr(c, k) if c is not None else 0
    return {name: (values.get(name, 0), unit) for name, unit in workloads.LAYER_METRICS}


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
