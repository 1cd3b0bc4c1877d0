"""Simulate the grading driver: load __spark_entry__ from an arbitrary
cwd, run every queries() entry at sf0.01 (or $SIM_SF_DIR), compare with
oracle_sql() via DuckDB.

Usage: python scripts/driver_sim.py [names...] [--families FAMILY]

`--families threshold` expands to the threshold-sensitive query
families (SCALE.md "sf0.1 parity spot-run") so the per-round sf0.1
receipt is ONE command and the set tracks the registry instead of a
hand-maintained list:

    SIM_SF_DIR=/root/testdata/sf0.1 python scripts/driver_sim.py --families threshold

Full (unfiltered) runs also write REGISTRY_TIMES.json — engine-side
seconds for EVERY registered query — so the two-thirds of the registry
outside bench.HEADLINE has per-round timing visibility
(tests/test_registry_times.py gates the artifact against
tests/registry_times_ref.json; VERDICT r9 ask #4).
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import calibrate  # noqa: E402
from tests.oracle import rows_canonical  # noqa: E402

# A full run on a contended host must not clobber the committed
# clean-host REGISTRY_TIMES.json (it happened in r11: a concurrent run
# overwrote the record and tripped the 4x gate in
# tests/test_registry_times.py with times that said nothing about the
# code). Above this 1-min load at START, the timings go to a side file.
LOADED_HOST_MAX = 4.0
TIMES_NAME = "REGISTRY_TIMES.json"
TIMES_SIDE_NAME = "REGISTRY_TIMES.loaded.json"

# Name-pattern families for scripted spot-runs (VERDICT r12 ask #5).
# "threshold" = the families whose constants (LSH bands, cosine taus,
# nprobe budgets, split fractions) interact with data-scale-dependent
# structure: the sf0.01 gate can't see a constant that only breaks at
# bench scale, so these re-run at sf0.1 each round. Pattern-based so
# new dedup_*/ann_* registrations can't silently fall out of the set.
FAMILY_PATTERNS: dict[str, list[str]] = {
    "threshold": [
        r"^dedup_",
        r"^semdedup_",
        r"^ann_.*(recall|tuning)",
        r"^split_",
    ],
}


def family_members(family: str, names) -> list[str]:
    pats = [re.compile(p) for p in FAMILY_PATTERNS[family]]
    return sorted(n for n in names if any(p.search(n) for p in pats))


def times_artifact_name(load_avg_start: float) -> str:
    """Which artifact a full run may write given its start load."""
    return TIMES_NAME if load_avg_start <= LOADED_HOST_MAX else TIMES_SIDE_NAME


# --- registry timing-gate contract (shared with tests/test_registry_times)
# driver_sim runs on 8 cpus at sf0.01 where fixed per-action overhead
# (job scheduling, Python<->JVM chatter on collect) dominates small
# queries; the ratio gate only means something above the floor.
SLACK = 4.0
FLOOR_SEC = 3.0
# Per-query widenings (the bench gate's slack_overrides pattern, each
# with a SCALE.md-documented mechanism): the registry gate times ONE
# shot per query in a shared session, so rows that pay a one-time
# memoized build (whoever runs first in the family absorbs the trained
# centroids / IVFADC index / model build) or sit early in a long JIT
# warm-up trajectory sample a coin flip — r12 measured the same code
# drawing ann_ivfpq 2.9 s then 12.9 s across two healthy-calibration
# full runs (build attribution + vector-fold JIT tier; see SCALE.md
# 'Bench slack mechanisms'). Refs stay elementwise-min; the override
# widens only the named rows.
REGISTRY_SLACK = {
    "ann_ivfpq": 8.0,
    "ann_ivfpq_recall": 8.0,
    "ann_ivfpq_nprobe_tuning": 8.0,
    "ann_pq": 8.0,
    "ann_pq_recall": 8.0,
    "bm25_topk": 8.0,  # measured 7.9 -> 1.0 s warm-up trajectory
}
# Environment-calibration contract (r12): this box is a VM whose
# host-level contention is invisible to guest loadavg (a quiet-start
# full run measured kv_get at 13x its reference with ps showing
# nothing). The artifact records the wall of a FIXED codegen workload
# at run start/end and every CALIB_EVERY queries; a query whose
# surrounding probes read slower than CALIB_SLACK x the committed
# clean-environment calibration ran inside a measured contention wave
# and is excusable — but only ONCE: the artifact carries the excused
# list forward (prev_excused) and the gate fails a repeat offender
# (ADVICE r12: an excusal that renews itself forever would let a real
# regression hide behind every wave).
CALIB_SLACK = 2.0


def compute_over_and_excused(
    latest: dict, ref_engine: dict, ref_calib: float | None
) -> tuple[dict, list]:
    """Over-cap rows and wave-excused rows for a full-run artifact.

    Run position comes from the artifact's own ``run_order`` (ADVICE
    r12 — never re-derived by sorting keys), falling back to key order
    for artifacts that predate the field. A row is excused only if
    BOTH calibration probes bracketing its run position exceeded
    CALIB_SLACK x the clean reference.

    Second-chance RE-TIME (r13): this box's hypervisor waves inflate
    real queries 4-19x while reading HEALTHY on the codegen probe
    (measured: text_fingerprint at 19x with a 0.423 s probe mid-wave),
    so probe brackets cannot localize every wave. driver_sim re-runs
    each first-pass over-cap row once at END of run and records the
    second timing in ``retimed``; grading uses min(first, retimed) — a
    wave re-times clean, a real plan regression stays slow twice.
    """
    series = latest.get("calib_series") or []
    order = latest.get("run_order") or list(latest["engine_secs"])
    retimed = latest.get("retimed") or {}

    def _wave(name: str) -> bool:
        if not (ref_calib and series) or name not in order:
            return False
        i = order.index(name)
        before = [c["sec"] for c in series if c["after_n"] <= i]
        after = [c["sec"] for c in series if c["after_n"] > i]
        lo = before[-1] if before else series[0]["sec"]
        hi = after[0] if after else series[-1]["sec"]
        # BOTH bracketing probes must read degraded (r13, tightened
        # from either-side: a query at the edge of a wave gets graded —
        # at worst a false failure prompting a clean rerun, which is
        # the safe direction for an excusal mechanism)
        return min(lo, hi) > CALIB_SLACK * ref_calib

    over: dict = {}
    excused: list = []
    for name, sec in latest["engine_secs"].items():
        if name not in ref_engine or sec is None:
            continue
        if name in retimed and retimed[name] is not None:
            sec = min(sec, retimed[name])
        slack = max(REGISTRY_SLACK.get(name, SLACK), SLACK)
        cap = max(slack * ref_engine[name], FLOOR_SEC)
        if sec > cap:
            if _wave(name):
                excused.append(name)
            else:
                over[name] = (sec, round(cap, 3))
    return over, sorted(excused)


def main() -> int:
    sf = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
    argv = sys.argv[1:]
    families: list[str] = []
    names_cli: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--families":
            families.append(argv[i + 1])
            i += 2
        else:
            names_cli.append(argv[i])
            i += 1
    only = set(names_cli)

    spec = importlib.util.spec_from_file_location(
        "se", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    import duckdb

    from mapreduce_framework_in_go_spark.session import get_spark
    from mapreduce_framework_in_go_spark.sources.tables import TABLE_NAMES

    # quiet-host marker read BEFORE any Spark work (r10 advice: reading
    # it at write time recorded the post-run load, misrepresenting the
    # conditions the timings were taken under)
    load_avg_start = float(open("/proc/loadavg").read().split()[0])
    spark = get_spark(app_name="driver-sim", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))

    # Environment calibration (r12): bench.calibrate, timed at run
    # start, end, and every CALIB_EVERY queries (see CALIB_SLACK above).
    # Two untimed warm runs (codegen compile + JIT settle): with one,
    # the first probe of an unsettled JVM read 0.78-0.96 s vs ~0.4
    # steady across four r13 runs (bench.py got the same fix), which
    # both misclassifies the session AND poisons the first wave bracket.
    spark.range(10_000_000).selectExpr("sum(id % 7)").collect()
    calibrate(spark)
    calibrate(spark)
    # Interleaved series, not just endpoints: r12 observed mid-run
    # contention WAVES (positions 56-139 of a full run at median
    # 3.5-4.6x reference, recovering to 1.75x after — with healthy
    # endpoint calibrations and guest load < 1). One probe every
    # CALIB_EVERY queries costs ~8 s per full run and lets the gate
    # excuse exactly the queries that ran inside a measured wave.
    # 25 -> 12 (r13): today's waves span ~30-100 queries with sharp
    # edges; 25-query brackets left wave-interior rows ungradeable-but-
    # graded. ~0.6 s per probe, so the finer series costs ~6 s per
    # full run.
    CALIB_EVERY = 12
    calib_series = [{"after_n": 0, "sec": calibrate(spark)}]
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    e = m.entry(spark)
    print(f"entry: rows={e.count()} schema={e.schema.simpleString()}")

    qs, osql = m.queries(), m.oracle_sql()
    for fam in families:
        members = family_members(fam, qs)
        print(f"family {fam}: {len(members)} queries at {sf}")
        only.update(members)
    failures = 0
    engine_secs: dict[str, float] = {}
    run_order: list[str] = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        if len(engine_secs) - calib_series[-1]["after_n"] >= CALIB_EVERY:
            calib_series.append(
                {"after_n": len(engine_secs), "sec": calibrate(spark)}
            )
        run_order.append(name)
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf)
            ec, er = rows_canonical(df.columns, [tuple(r) for r in df.collect()])
        except Exception as ex:
            print(f"FAIL  {name}: engine error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            # record the failure explicitly (null, not absence): the
            # timing artifact must not silently shrink its coverage
            # when a query errors (r10 advice)
            engine_secs[name] = None
            continue
        engine_secs[name] = round(time.perf_counter() - t0, 3)
        if name not in osql:
            print(f"ok?   {name}: rows-only, {len(er)} rows ({time.perf_counter()-t0:.1f}s)")
            continue
        try:
            res = con.execute(osql[name])
            oc, orr = rows_canonical([d[0] for d in res.description], res.fetchall())
        except Exception as ex:
            print(f"FAIL  {name}: oracle error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if ec != oc:
            print(f"FAIL  {name}: cols engine={ec} oracle={oc}")
            failures += 1
        elif er != orr:
            diffs = [(a, b) for a, b in zip(er, orr) if a != b][:2]
            print(
                f"FAIL  {name}: rows engine={len(er)} oracle={len(orr)} first_diffs={diffs}"
            )
            failures += 1
        else:
            print(f"MATCH {name}: {len(er)} rows ({time.perf_counter()-t0:.1f}s)")
    if families:
        total = len(run_order)
        print(
            f"families receipt: {'+'.join(families)} = {total} queries "
            f"at {sf}: {'ALL MATCH' if failures == 0 else f'{failures} FAILURES'}"
        )
    if not only and engine_secs:
        artifact = times_artifact_name(load_avg_start)
        if artifact != TIMES_NAME:
            print(
                f"WARNING: start load {load_avg_start} > {LOADED_HOST_MAX} "
                f"— contended-host timings written to {artifact}; the "
                f"committed clean-host {TIMES_NAME} is left untouched"
            )
        calib_series.append(
            {"after_n": len(engine_secs), "sec": calibrate(spark)}
        )
        record = {
            "sf_dir": sf,
            "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
            "load_avg_start": load_avg_start,
            "calib_series": calib_series,
            "engine_secs": engine_secs,
            "run_order": run_order,
        }
        # Persist the wave-excusal outcome (ADVICE r12): compute the
        # excused rows NOW against the committed reference and carry the
        # previous artifact's excused list forward, so the gate can fail
        # a query that hides behind a wave in consecutive full runs.
        # Second-chance RE-TIME first (see compute_over_and_excused):
        # each first-pass over-cap row runs once more at end of run —
        # by now the wave that inflated it has usually passed, and a
        # real regression stays slow on the retime too.
        try:
            with open(os.path.join(REPO, "tests", "registry_times_ref.json")) as f:
                ref = json.load(f)
            over0, _ = compute_over_and_excused(
                record, ref["engine_secs"], ref.get("calib_sec")
            )
            retimed: dict[str, float] = {}
            for name in sorted(over0):
                t0 = time.perf_counter()
                try:
                    qs[name](spark, sf).collect()
                    retimed[name] = round(time.perf_counter() - t0, 3)
                except Exception:
                    retimed[name] = None
            if retimed:
                record["retimed"] = retimed
                print(f"retimed first-pass over-cap rows: {retimed}")
            _, excused = compute_over_and_excused(
                record, ref["engine_secs"], ref.get("calib_sec")
            )
        except OSError:
            excused = []
        prev_excused: list = []
        try:
            with open(os.path.join(REPO, artifact)) as f:
                prev_excused = json.load(f).get("excused") or []
        except (OSError, ValueError):
            pass
        record["excused"] = excused
        record["prev_excused"] = sorted(prev_excused)
        with open(os.path.join(REPO, artifact), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {artifact} ({len(engine_secs)} queries)")
    print(f"\n{'ALL MATCH' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
