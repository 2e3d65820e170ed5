"""Round-14 measurement harness (guide §1): isolate catalog queries.

For each requested entry: warm the plan shape at sf0.001, then time
min-of-N at the target sf through the noop sink (computes every column,
no sink cost, full plan visible in the SQL tab), and optionally dump
``.explain('formatted')`` to ``plans/<round>/<name>_<tag>.txt``.

The bench's own timing methodology (count-of-3) is untouched — this
tool exists so optimization work is guided by isolated computation
timings and plan shapes rather than the mixed bench run.

Usage:
    python tools/profile_queries.py [--sf DIR] [--repeats N]
        [--plans TAG] [--round RNN] [--no-noop] name1 name2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphdatabases_spark import get_spark
from graphdatabases_spark.relational import queries


def explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dump plans with this tag")
    ap.add_argument("--round", default="r14",
                    help="plan dumps go to plans/<round>/ (default r14)")
    ap.add_argument("--no-noop", action="store_true",
                    help="time df.count() instead (bench methodology)")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="graphdatabases-spark-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    plans_dir = Path(__file__).resolve().parents[1] / "plans" / args.round
    if args.plans:
        plans_dir.mkdir(parents=True, exist_ok=True)

    out: dict[str, float] = {}
    for name in args.names:
        fn = qs[name]
        # warm codegen/plan shape at the smallest sf
        fn(spark, "/root/testdata/sf0.001").count()
        if args.plans:
            df = fn(spark, args.sf)
            (plans_dir / f"{name}_{args.plans}.txt").write_text(
                explain_formatted(df)
            )
        samples = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            # Construction INSIDE the timed region — the loop-driven
            # kernels execute eagerly while building their result frame
            # (same timed region as bench.py).
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            if args.no_noop:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(min(samples), 4)
        print(f"{name}: min={min(samples):.3f} all="
              f"{[round(s, 3) for s in samples]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
