"""One measured benchmark process (started by ``run.py``).

The set-up clock starts when ``run.py`` spawns this process, before
``pyspark`` is imported, and stops once the session is up, the inputs are
materialized and one warm pass has run. The timed region then repeats the
workload's op sequence while it fits in ``--seconds`` (at least once) and
reports medians over those rounds. Outputs are checked afterwards.

With ``--trace 1`` every round is traced and the per-layer figures are
printed instead. ``trace.overhead_pct`` is the time the accounting itself
took (draining the listener bus, reading the status store) over the rest of
the round's wall time: what tracing adds to an untraced round.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import workloads as W  # noqa: E402
from spans import Tracer, proc_cpu_s, proc_peak_rss_mb  # noqa: E402

ITER_METRICS = ("wall_s", "build_s", "action_s", "jobs", "stages", "tasks",
                "task_busy_s", "driver_gap_s", "shuffle_write_mb", "failed_tasks")
API_OPS = ("write", "lookup", "traverse_read_only", "traverse_after_write")
API_METRICS = ("calls", "p50_ms", "p90_ms", "jobs_per_call", "driver_gap_s")
RUN_METRICS = ("session.start_s", "setup.inputs_s", "setup.warm_s", "trace.overhead_pct")
YOUNG_GEN = "1g"
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def _unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_pct"):
        return "%"
    if metric.endswith("_share"):
        return "ratio"
    return "count"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    names = []
    for layer, entry in W.ITERATIVE:
        names += [f"{layer}.{entry}.{m}" for m in ITER_METRICS]
    for op in API_OPS:
        names += [f"graph.api.{op}.{m}" for m in API_METRICS]
    names.append("graph.traversal.distributed_share")
    names += list(RUN_METRICS)
    return [(n, _unit(n.rsplit(".", 1)[1])) for n in names]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _pct(xs, q):
    """Nearest-rank percentile of ``xs`` (q in 0..100)."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)] if xs else 0.0


def layer_metrics(rounds: list[list[dict]]) -> dict:
    """Per-layer figures from the spans of traced rounds: per-entry
    medians over rounds, API latency percentiles over every call. A call
    the workload never makes reports 0."""
    out = {name: 0.0 for name, _ in per_layer_names()}
    for layer, entry in W.ITERATIVE:
        calls = [s for spans in rounds for s in spans if s["name"] == f"{layer}.{entry}"]
        for m in ITER_METRICS:
            out[f"{layer}.{entry}.{m}"] = _median([s[m] for s in calls])
    traversals = []
    for op in API_OPS:
        name = f"graph.api.{op}"
        calls = [s for spans in rounds for s in spans if s["name"] == name]
        lat = [s["wall_s"] * 1000 for s in calls]
        out[f"{name}.calls"] = len(lat)
        out[f"{name}.p50_ms"] = _median(lat)
        out[f"{name}.p90_ms"] = _pct(lat, 90)
        if calls:
            out[f"{name}.jobs_per_call"] = sum(s["jobs"] for s in calls) / len(calls)
            out[f"{name}.driver_gap_s"] = _median([s["driver_gap_s"] for s in calls])
        if op.startswith("traverse"):
            traversals += calls
    if traversals:
        out["graph.traversal.distributed_share"] = (
            sum(s["jobs"] > 4 for s in traversals) / len(traversals)
        )
    return out


def _start_spark(cache: str):
    from graphdatabases_spark import get_spark

    k = len(os.sched_getaffinity(0))
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{k}]",
        shuffle_partitions=k,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(cache, "spark-local"),
            # A fixed heap and young generation: G1 otherwise resizes
            # both adaptively, and peak RSS swings by 20% between runs.
            "spark.driver.extraJavaOptions": f"-Xms{mem} -Xmn{YOUNG_GEN}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()

    t_session = time.time()
    spark = _start_spark(args.cache)
    spark.range(1000).selectExpr("sum(id)").collect()  # first action
    session_s = time.time() - t_session
    from pyspark import SparkContext

    pids = [os.getpid(), SparkContext._gateway.proc.pid]
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(spark.sparkContext, run_id, enabled=False)
    ctx = W.Ctx(spark, tracer, args.seed, os.path.join(args.cache, "data"),
                os.path.join(args.cache, "oracle"))
    wl = W.WORKLOADS[args.workload]()
    t = time.time()
    wl.prepare(ctx)
    inputs_s = time.time() - t
    t = time.time()
    wl.warm(ctx)
    warm_s = time.time() - t
    setup_s = time.time() - args.t0

    rounds = []  # (spans, wall_s, cpu_s, outputs)
    errors: list[str] = []
    t_begin = time.perf_counter()
    while True:
        tracer.enabled = bool(args.trace)
        first = len(tracer.spans)
        tracer.round = len(rounds)
        c0, w0 = proc_cpu_s(pids), time.perf_counter()
        try:
            outputs = wl.run_round(ctx)
        except Exception as e:  # an op failed: count it, stop timing
            traceback.print_exc()
            errors.append(f"round {len(rounds)}: {e!r}"[:500])
            break
        wall = time.perf_counter() - w0
        cpu = proc_cpu_s(pids) - c0
        rounds.append((tracer.spans[first:], wall, cpu, outputs))
        if time.perf_counter() - t_begin + wall > args.seconds:
            break
    peak_rss = proc_peak_rss_mb(pids)
    tracer.enabled = False

    attempted = sum(len(r[0]) for r in rounds) + len(errors)
    failed = len(errors)
    for i, r in enumerate(rounds):
        bad = wl.check(ctx, r[3])
        failed += len(bad)
        errors += [f"round {i}: {b}" for b in bad]
    for e in errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    tracer.dump(os.path.join(args.cache, "spans", f"{run_id}.jsonl"))

    if args.trace:
        values = layer_metrics([r[0] for r in rounds])
        values["session.start_s"] = session_s
        values["setup.inputs_s"] = inputs_s
        values["setup.warm_s"] = warm_s
        values["trace.overhead_pct"] = _median([
            100 * acct / (wall - acct)
            for acct, wall in ((sum(s["trace_s"] for s in r[0]), r[1]) for r in rounds)
        ])
        metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer_names()}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": _median([r[1] for r in rounds]),
            "cpu_s": _median([r[2] for r in rounds]),
            "peak_rss_mb": peak_rss,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    _stop_spark(spark)
    print(json.dumps({
        "correct": failed == 0 and bool(rounds),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
