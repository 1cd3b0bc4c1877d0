"""One measured benchmark process: set up a session, run one workload in
a closed loop (one client, next op after the previous one ends), check
every output, and write the run's record as JSON.

``run.py`` starts this file in a fresh process per run; it is not meant
to be called directly. With ``--setup-only`` the process stops as soon
as its session is ready, to give ``run.py`` another set-up sample.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("mr_plugin", "query_mix")
MR_PLUGIN_MB = 2.0
MR_PLUGIN_VOCAB = 600
QUERY_MIX_SF = 0.01
# The rows, one per traffic class, each picked by name before any timing:
# the reference's three mr_* rows; the first row of each class the
# ROADMAP's sf0.1 profile names (most jobs, executor-bound, build-bound
# stream); the first HEADLINE relational row; the first HEADLINE row
# that builds a per-app artifact memo.
QUERY_MIX_ROWS = (
    "mr_wordcount",
    "mr_inverted_index",
    "mr_crash_shape",
    "dedup_clusters_lsh",
    "gopher_repetition_flags",
    "stream_ingest_release",
    "q1_pricing_summary",
    "ann_ivf_trained",
)
WC_OP = {"mr_plugin": "wc", "query_mix": "mr_wordcount"}
INDEXER_OP = {"mr_plugin": "indexer", "query_mix": "mr_inverted_index"}
# Warm passes per 10 s of --seconds. The count is fixed for a given
# --seconds, so every run takes the same number of samples: stopping on a
# clock let a run end after two or after three passes, depending on its
# speed, and that widened the spread. The first warm pass is still
# slower than the next (the JIT is settling), so a median needs three.
WARM_PASSES_PER_10S = 3
MIN_WARM_PASSES = 2
PROBE_EVERY = 8  # ops between two codegen probes
PROBE_ROWS = 2_000_000


def setup(workload: str, trace_dir: str | None):
    """Imports, session and (for query_mix) the registry: what a caller
    pays before its first op. Returns (spark, specs, layer timings)."""
    from mapreduce_framework_in_go_spark.session import get_spark

    extra = None
    if trace_dir:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
        }
    cpus = os.cpu_count() or 1
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", cpus=cpus, extra_conf=extra)
    layers = {"session.get_spark_s": time.perf_counter() - t, "registry.load_s": 0.0}
    specs = None
    if workload == "query_mix":
        from mapreduce_framework_in_go_spark.registry import all_queries

        t = time.perf_counter()
        specs = all_queries()
        layers["registry.load_s"] = time.perf_counter() - t
    return spark, specs, layers


class Env:
    """Host diagnostics recorded beside a run's metrics: the codegen probe
    series, 1-min load average and CPU steal. Never used to rescale."""

    def __init__(self, spark):
        self.spark = spark
        self.probe_s: list[float] = []
        self.load_start = os.getloadavg()[0]
        self.stat0 = self._cpu_stat()

    @staticmethod
    def _cpu_stat() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def probe(self) -> None:
        t = time.perf_counter()
        self.spark.range(PROBE_ROWS).selectExpr("sum(id)").collect()
        self.probe_s.append(time.perf_counter() - t)

    def record(self) -> dict:
        d = [b - a for a, b in zip(self.stat0, self._cpu_stat())]
        steal = d[7] if len(d) > 7 else 0
        return {
            "codegen_probe_s": [round(x, 4) for x in self.probe_s],
            "load_1m_start": self.load_start,
            "load_1m_end": os.getloadavg()[0],
            "cpu_steal_share": steal / max(sum(d[:8]), 1),
            "cpus": os.cpu_count(),
        }


class Op:
    """One named operation: ``build`` makes the frame, ``execute`` runs
    it (the cold flag selects the checked form), ``check`` compares a
    result with the oracle and returns an error string or None."""

    def __init__(self, name, build, execute, check):
        self.name, self.build, self.execute, self.check = name, build, execute, check


def mr_ops(spark, work: str, seed: int) -> list[Op]:
    """wc and indexer as user plugin files through ``run_mr_plugin``,
    each written as one sorted file like the reference's ``mr-out-0``."""
    from mapreduce_framework_in_go_spark.__main__ import run_mr_plugin
    from mapreduce_framework_in_go_spark.sources.sinks import write_kv_text
    from perfbench import corpus

    data = os.path.join(work, "corpus")
    paths = corpus.write_corpus(data, seed, MR_PLUGIN_MB, MR_PLUGIN_VOCAB)
    expect = dict(zip(("wc", "indexer"), corpus.oracle_lines(paths)))
    glob = os.path.join(data, "pg-*.txt")
    ops = []
    for name, source in (("wc", corpus.WC_PLUGIN), ("indexer", corpus.INDEXER_PLUGIN)):
        out = os.path.join(work, "out", name)
        plugin = os.path.join(work, f"{name}_plugin.py")
        with open(plugin, "w") as f:
            f.write(source)

        def build(plugin=plugin):
            return run_mr_plugin(spark, plugin, glob)

        def execute(df, cold, out=out):
            write_kv_text(df, out, key="key", value="value", canonical=True)
            return out

        def check(out, name=name):
            got = corpus.read_output(out)
            if got == expect[name]:
                return None
            return f"{len(got)} lines vs {len(expect[name])} expected"

        ops.append(Op(name, build, execute, check))
    return ops


def query_ops(spark, specs, work: str, seed: int) -> list[Op]:
    import duckdb

    from mapreduce_framework_in_go_spark.sources.tables import TABLE_NAMES
    from perfbench import tables
    from tests.oracle import rows_canonical

    sf_dir = os.path.join(work, "sf")
    tables.write_tables(sf_dir, seed, QUERY_MIX_SF)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ops = []
    for name in QUERY_MIX_ROWS:
        spec = specs[name]

        def execute(df, cold):
            if cold:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
            return None

        def check(result, spec=spec):
            if result is None or spec.oracle is None:
                return None
            res = con.execute(spec.oracle)
            want = rows_canonical([d[0] for d in res.description], res.fetchall())
            got = rows_canonical(*result)
            if got == want:
                return None
            return f"{len(got[1])} rows vs {len(want[1])} from the oracle"

        ops.append(Op(name, lambda spec=spec: spec.fn(spark, sf_dir), execute, check))
    return ops


def driver_rss_mb(spark) -> float:
    """Peak resident memory of the driver: this Python process plus the
    JVM it launched (VmHWM from /proc)."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm = next(line for line in f if line.startswith("VmHWM:"))
    return py + int(hwm.split()[1]) / 1024


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit, so no process of
    this run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    t_proc = args.t0
    tracer = None
    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(args.workdir, "eventlog")
        os.makedirs(trace_dir, exist_ok=True)
    spark, specs, layers = setup(args.workload, trace_dir)
    setup_s = time.monotonic() - t_proc
    if args.setup_only:
        stop_session(spark)
        return {"setup_s": setup_s}
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.setup_spans(t_proc, layers)

    work = os.path.join(args.workdir, "work")
    if args.workload == "query_mix":
        ops = query_ops(spark, specs, work, args.seed)
    else:
        ops = mr_ops(spark, work, args.seed)

    rng = random.Random(args.seed)
    env = Env(spark)
    env.probe()
    attempted, failures = 0, []
    samples: dict[str, list[float]] = {op.name: [] for op in ops}
    pass_walls: list[float] = []
    n_ops = 0

    def do_pass(pass_no: int) -> float:
        nonlocal attempted, n_ops
        cold = pass_no == 0
        order = list(ops)
        if args.workload == "query_mix":
            rng.shuffle(order)
        total = 0.0
        for op in order:
            attempted += 1
            n_ops += 1
            op_id = f"p{pass_no}-{op.name}"
            try:
                if tracer:
                    wall, result = tracer.timed_op(op_id, op, cold, pass_no)
                else:
                    t = time.perf_counter()
                    result = op.execute(op.build(), cold)
                    wall = time.perf_counter() - t
            except Exception as e:  # a failing op is counted, listed and the loop goes on
                failures.append({"op": op_id, "error": f"{type(e).__name__}: {e}"[:400]})
                continue
            total += wall
            if not cold:
                samples[op.name].append(wall)
            try:
                err = op.check(result)
                if err:
                    err = "output mismatch: " + err
            except Exception as e:
                err = f"check error: {type(e).__name__}: {e}"[:400]
            if err:
                failures.append({"op": op_id, "error": err})
            if n_ops % PROBE_EVERY == 0:
                env.probe()
        return total

    warmup_s = do_pass(0)
    if tracer:
        tracer.snapshot_cache("cold")
    n_warm = max(MIN_WARM_PASSES, round(args.seconds * WARM_PASSES_PER_10S / 10))
    for pass_no in range(1, n_warm + 1):
        pass_walls.append(do_pass(pass_no))
        if tracer:
            tracer.snapshot_cache(f"warm{pass_no}")
    env.probe()

    per_op = {name: median(xs) for name, xs in samples.items() if xs}
    metrics = {
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "pass_s": median(pass_walls),
        "wc_s": per_op.get(WC_OP[args.workload], 0.0),
        "indexer_s": per_op.get(INDEXER_OP[args.workload], 0.0),
        "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_op.values())) if per_op else 0.0,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "metrics": metrics,
        "op_samples_s": samples,
        "pass_samples_s": pass_walls,
        "env": env.record(),
    }
    if tracer:
        layers["session.codegen_probe_s"] = median(env.probe_s)
        layers["trace.pass_s"] = metrics["pass_s"]
        rss_mb = driver_rss_mb(spark)
        tracer.wait_listener()
        stop_session(spark)
        record["layers"], record["self_time_s"], record["op_profile"] = tracer.finish(
            args.workload, trace_dir, layers, rss_mb, len(pass_walls),
            os.path.join(args.trace_out, f"{args.workload}-seed{args.seed}.spans.json"),
        )
    else:
        stop_session(spark)
    return record


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t0", type=float, required=True, help="monotonic time the process was started")
    p.add_argument("--workdir", required=True)
    p.add_argument("--trace-out", default="")
    p.add_argument("--result", required=True)
    p.add_argument("--setup-only", action="store_true")
    args = p.parse_args()
    record = run(args)
    with open(args.result, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
