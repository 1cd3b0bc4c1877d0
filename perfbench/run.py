"""Benchmark entry point.

    python3 perfbench/run.py --workload mr_plugin --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run gets a fresh measured process
(``perfbench/workload.py``) with its own ``TMPDIR``, Spark local dirs,
JVM temp dir, output dirs and working directory, all under
``.perfbench_work/`` in the checkout and deleted when the run ends.
Untraced runs then start ``SETUP_SAMPLES - 1`` more processes that only
set up a session, and report the median set-up time.

The last stdout line is the result JSON: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
ones. The lines before it name every metric with its unit, the ops
attempted and failed, every failure with its cause, and the run's host
record (codegen probe series, load average, CPU steal).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_SAMPLES = 2
RUN_DEADLINE_S = 170  # a run must end within 180 s
DRIVER_MEMORY = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def child_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": ROOT,
        # the same seed then also repeats Python's set and dict orders
        "PYTHONHASHSEED": "0",
    })
    return env


def run_child(args, run_dir: str, tag: str, extra: list[str], deadline: float) -> dict:
    """Start one measured process and return the record it wrote."""
    cwd = os.path.join(run_dir, tag)
    os.makedirs(cwd, exist_ok=True)
    result = os.path.join(cwd, "result.json")
    log = os.path.join(run_dir, f"{tag}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", cwd, "--result", result, *extra,
    ]
    with open(log, "w") as logf:
        t0 = time.monotonic()
        # its own process group, so a timeout also stops the JVM it launched
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=cwd, env=child_env(run_dir),
                                stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"{tag} process exited with code {code}")
    with open(result) as f:
        return json.load(f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_framework_in_go_spark")):
        raise SystemExit("run from the root of a checkout that holds the engine package")
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")

    run_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    trace_out = os.path.join(ROOT, ".perfbench_work", "traces")
    try:
        extra = ["--trace-out", trace_out] if args.trace else []
        if args.trace:
            os.makedirs(trace_out, exist_ok=True)
        deadline = time.monotonic() + RUN_DEADLINE_S
        record = run_child(args, run_dir, "main", extra, deadline)
        setups = [record["metrics"]["setup_s"]]
        if not args.trace:
            for i in range(1, SETUP_SAMPLES):
                setups.append(run_child(args, run_dir, f"setup{i}", ["--setup-only"], deadline)["setup_s"])
        record["metrics"]["setup_s"] = statistics.median(setups)
        record["setup_samples_s"] = setups
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = record["layers"] if args.trace else record["metrics"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} ops attempted={record['attempted']} failed={record['failed']}")
    for f in record["failures"]:
        print(f"FAILED {f['op']}: {f['error']}")
    print("env " + json.dumps({"setup_samples_s": record["setup_samples_s"], **record["env"]}))
    print("samples " + json.dumps({"pass_s": record["pass_samples_s"], **record["op_samples_s"]}))
    if args.trace:
        print("self_time_s " + json.dumps(record["self_time_s"]))
        print("op_profile " + json.dumps(record["op_profile"]))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
