"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. This launcher builds the seeded inputs
(cached under ``.perfbench_cache/``, outside set-up timing), then starts
one fresh measured process (``worker.py``) whose start is the set-up
clock's origin, waits for it, and relays its result: one JSON line,
``{"correct", "attempted", "failed", "metrics"}``, printed last.

Memory and parallelism are pinned so runs compare: ``local[k]`` with k
the usable cores, driver heap ``SPARK_GRAFT_DRIVER_MEM=3g`` and off-heap
``SPARK_GRAFT_OFFHEAP=2g``. Everything the run writes (inputs, oracle
frames, Spark scratch, span logs) stays under ``.perfbench_cache/``.

Exits non-zero without a result when the library is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
TIMEOUT_S = 170


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(50):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "graphdatabases_spark", "__init__.py")):
        print("perfbench: graphdatabases_spark not found; run from the repo root",
              file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    for scale in workloads.WORKLOADS[args.workload].SCALES:
        gen.ensure(os.path.join(CACHE, "data"), scale, args.seed)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_OFFHEAP": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "TMPDIR": os.path.join(CACHE, "tmp"),
        # Every JVM, the spark-submit launcher's included, keeps its
        # scratch files in the checkout.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(CACHE, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cache", CACHE]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        # The worker stops its JVM; this also ends anything it left behind
        # and waits (briefly) until the process group is gone.
        _kill_group(proc)
    if out is None:
        print(f"perfbench: worker exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"perfbench: worker exited {proc.returncode}", file=sys.stderr)
        return 1
    json.loads(lines[-1])  # the result line must parse
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
