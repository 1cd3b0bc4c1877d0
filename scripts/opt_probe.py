"""Optimization-round probe: per-query build/exec split + plan capture.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8 \
        python scripts/opt_probe.py [--plans plans/r13 --tag before] \
        [--runs N] name [name ...]

For each named registered query: construct the frame (timed = build),
run the noop-sink write (timed = exec) ``--runs`` times, and report
min/all. With ``--plans DIR --tag T`` also write the FRESH frame's
``explain("formatted")`` to ``DIR/<name>_<T>.txt`` (captured before any
action so AQE doesn't list final+initial trees, per CLAUDE.md).

This is a measurement harness only — it never writes BENCH_LOCAL.json
and is not part of any gate.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from bench import calibrate
from mapreduce_framework_in_go_spark.registry import all_queries
from mapreduce_framework_in_go_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--no-warm", action="store_true",
        help="skip the untimed warm execution",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="opt_probe")
    specs = all_queries()

    # generic warmup (mirrors bench.py): JVM + parquet footers + workers
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(100).mapInPandas(lambda it: it, schema="id long").count()

    calibrate(spark)
    print(f"calib: {calibrate(spark)} (committed clean ref 0.38)")

    for name in args.names:
        if name not in specs:
            print(f"SKIP {name}: not registered")
            continue
        spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            fresh = specs[name].fn(spark, sf_dir)
            plan = fresh._sc._jvm.PythonSQLUtils.explainString(
                fresh._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.plans, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"  plan -> {path} ({plan.count('Exchange')} Exchange refs)")
        if not args.no_warm:
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        builds, execs = [], []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        tot = [b + e for b, e in zip(builds, execs)]
        print(
            f"{name}: min_total={min(tot):.3f} "
            f"build={min(builds):.3f} exec={min(execs):.3f}  "
            f"totals={[round(t, 3) for t in tot]} "
            f"builds={[round(b, 3) for b in builds]}"
        )
        spark.sparkContext.setJobDescription(None)
    print(f"calib end: {calibrate(spark)}")
    spark.stop()


if __name__ == "__main__":
    main()
