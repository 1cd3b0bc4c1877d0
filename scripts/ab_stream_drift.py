"""Interleaved, calibration-certified A/B for headline drift rows
(VERDICT r12 ask #1: the stream_transition_matrix 2.65x bench drift).

Runs N rounds; each round times one fixed-codegen calibration probe
(bench.calibrate) followed by one noop-write execution
of every target query — so every query sample is bracketed by
environment measurements and a session-tier / contention story is
measured, not guessed. Prints one JSON line with the full series.

Usage:
    SPARK_GRAFT_CPUS=8 python scripts/ab_stream_drift.py [rounds] [names...]

Defaults: 6 rounds of stream_transition_matrix (the drift row),
stream_hourly_agg (the co-drifting streaming row the judge observed),
and events_hourly_agg (batch control over the same table).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import calibrate
from mapreduce_framework_in_go_spark.registry import all_queries
from mapreduce_framework_in_go_spark.session import get_spark

DEFAULT_NAMES = [
    "stream_transition_matrix",
    "stream_hourly_agg",
    "events_hourly_agg",
]


def main() -> None:
    args = sys.argv[1:]
    rounds = int(args[0]) if args and args[0].isdigit() else 6
    names = [a for a in args if not a.isdigit()] or DEFAULT_NAMES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load0 = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="ab-drift")

    specs = all_queries()
    # same warmup as bench.py
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(100).mapInPandas(lambda it: it, schema="id long").count()
    calibrate(spark)  # codegen compile, untimed

    calib: list[float] = []
    series: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(rounds):
        calib.append(calibrate(spark))
        for name in names:
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            series[name].append(round(time.perf_counter() - t0, 3))
    calib.append(calibrate(spark))

    print(json.dumps({
        "sf_dir": sf_dir,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "load_avg_start": load0,
        "rounds": rounds,
        "calib": calib,
        "series": series,
        "mins": {n: min(v) for n, v in series.items()},
        "medians": {n: sorted(v)[len(v) // 2] for n, v in series.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
