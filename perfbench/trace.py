"""The traced run: spans around the benchmark's own calls into each
layer, Spark's event log for jobs, stages and tasks, and a streaming
listener for micro-batches. Everything is measured from outside the
engine; nothing here changes what the engine does.

Span tree (trace id = op id)::

    session.get_spark, registry.load
    op <id>
      build        QuerySpec.fn / the app function: frame build, plus any
                   driver-side actions and streams the build runs
      plan         forcing the executed plan before the action
      exec         the action (sink write, collect or noop write)
        spark.job    from the event log, through the op's job group
          spark.stage
      streaming.batch  from the listener, through the stream's runId
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

MB = 1e6


class Span(dict):
    def __init__(self, name, start, end, parent=None, trace=None, **attrs):
        super().__init__(name=name, start=start, end=end, parent=parent, trace=trace, **attrs)
        self["id"] = id(self)


class Tracer:
    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.cache: list[dict] = []
        self.stream_started: dict[str, float] = {}
        self.progress: list[dict] = []
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_started[str(event.runId)] = time.time()

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append({
                    "runId": str(p.runId),
                    "batchId": p.batchId,
                    "timestamp": p.timestamp,
                    "durationMs": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())
        self.sc.setJobGroup("perfbench-idle", "between ops")

    def setup_spans(self, t0_monotonic: float, layers: dict) -> None:
        now = time.time()
        start = now - (time.monotonic() - t0_monotonic)
        reg = layers["registry.load_s"]
        self.spans.append(Span("process.setup", start, now))
        self.spans.append(Span("registry.load", now - reg, now))
        self.spans.append(Span("session.get_spark", now - reg - layers["session.get_spark_s"], now - reg))

    def timed_op(self, op_id: str, op, cold: bool, pass_no: int):
        self.sc.setJobGroup(op_id, op.name)
        try:
            t0 = time.time()
            df = op.build()
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            result = op.execute(df, cold)
            t3 = time.time()
        finally:
            self.sc.setJobGroup("perfbench-idle", "between ops")
        root = Span("op", t0, t3, trace=op_id, op=op.name, pass_no=pass_no)
        self.spans.append(root)
        for name, a, b in (("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)):
            self.spans.append(Span(name, a, b, parent=root["id"], trace=op_id))
        self.ops.append({"id": op_id, "name": op.name, "pass": pass_no, "root": root,
                         "build": (t0, t1), "plan": (t1, t2), "exec": (t2, t3)})
        return t3 - t0, result

    def snapshot_cache(self, label: str) -> None:
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        self.cache.append({
            "after": label,
            "persisted_rdds": jsc.getPersistentRDDs().size(),
            "storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
        })

    def wait_listener(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def finish(self, workload, trace_dir, layers, rss_mb, n_warm, spans_path):
        """Join the event log and listener records to the spans; return
        (per-layer metrics, self time per span name)."""
        jobs, stages = read_event_log(trace_dir)
        op_of_group = {o["id"]: o for o in self.ops}
        # Stream jobs carry the stream's runId as job group: attach them to
        # the op whose span holds the moment the stream started.
        for run_id, t in self.stream_started.items():
            for o in self.ops:
                if o["root"]["start"] <= t <= o["root"]["end"]:
                    op_of_group[run_id] = o
        for j in jobs.values():
            o = op_of_group.get(j["group"])
            j["op"] = o["id"] if o else None
            if o:
                inside_build = o["build"][0] <= j["start"] <= o["build"][1]
                child = next(s for s in self.spans if s["trace"] == o["id"]
                             and s["name"] == ("build" if inside_build else "exec"))
                j["in_build"] = inside_build
                span = Span("spark.job", j["start"], j["end"], parent=child["id"], trace=o["id"],
                            job_id=j["id"])
                self.spans.append(span)
                for sid in j["stages"]:
                    st = stages.get(sid)
                    if st and st["job"] == j["id"]:
                        self.spans.append(Span("spark.stage", st["start"], st["end"], parent=span["id"],
                                               trace=o["id"], stage_id=sid, tasks=st["tasks"]))
        for p in self.progress:
            o = op_of_group.get(p["runId"])
            p["op"] = o["id"] if o else None
            if o:
                start = _iso_epoch(p["timestamp"])
                dur = p["durationMs"].get("triggerExecution", 0) / 1000
                build = next(s for s in self.spans if s["trace"] == o["id"] and s["name"] == "build")
                self.spans.append(Span("streaming.batch", start, start + dur, parent=build["id"],
                                       trace=o["id"], batch=p["batchId"]))
        metrics = layer_metrics(self, workload, jobs, stages, layers, n_warm)
        metrics["session.driver_rss_mb"] = rss_mb
        self_time = self_times(self.spans)
        profile = op_profile(self, jobs)
        with open(spans_path, "w") as f:
            json.dump({"spans": self.spans, "cache": self.cache, "self_time_s": self_time,
                       "layers": metrics, "op_profile": profile}, f)
        return metrics, self_time, profile


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _event_files(trace_dir: str) -> list[str]:
    """Every event-log file of the application, in order: a rolling
    ``eventlog_v2_*`` directory holds ``events_<n>_*`` parts."""
    files = []
    for entry in sorted(os.listdir(trace_dir)):
        path = os.path.join(trace_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
        else:
            files.append(path)
    return files


def read_event_log(trace_dir: str):
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in _event_files(trace_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1000, "end": None,
                                 "group": props.get("spark.jobGroup.id"), "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stages[sid] = {"id": sid, "job": None, "tasks": info["Number of Tasks"],
                                   "start": None, "end": None, "run": 0.0, "cpu": 0.0, "gc": 0.0,
                                   "in_b": 0, "sw_b": 0, "sw_rec": 0, "sr_b": 0, "sr_rec": 0,
                                   "spill_b": 0, "out_rec": 0, "failed": 0, "sub_job": max(jobs)}
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if st is None:
                        continue
                    if ev["Task Info"].get("Failed"):
                        st["failed"] += 1
                    if not m:
                        continue
                    st["run"] += m["Executor Run Time"] / 1000
                    st["cpu"] += m["Executor CPU Time"] / 1e9
                    st["gc"] += m["JVM GC Time"] / 1000
                    st["in_b"] += m["Input Metrics"]["Bytes Read"]
                    sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                    st["sw_b"] += sw["Shuffle Bytes Written"]
                    st["sw_rec"] += sw["Shuffle Records Written"]
                    st["sr_b"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    st["sr_rec"] += sr["Total Records Read"]
                    st["spill_b"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    st["out_rec"] += m["Output Metrics"]["Records Written"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.get(info["Stage ID"])
                    if st:
                        st["start"] = info.get("Submission Time", 0) / 1000
                        st["end"] = info.get("Completion Time", 0) / 1000
    for st in stages.values():
        # a stage runs in the job that was current when it was submitted
        st["job"] = st.pop("sub_job")
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs, {k: v for k, v in stages.items() if v["end"] is not None}


def _union(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children[s["id"]]]
        covered = _union([(a, b) for a, b in kids if b > a])
        out[s["name"]] += max(s["end"] - s["start"] - covered, 0.0)
    return {k: round(v, 4) for k, v in sorted(out.items())}


def op_profile(tr: Tracer, jobs) -> dict:
    """Per op type: jobs and build jobs in the first warm pass, and over
    all warm passes the median wall time and the build share of wall."""
    out = {}
    for name in dict.fromkeys(o["name"] for o in tr.ops):
        warm = [o for o in tr.ops if o["name"] == name and o["pass"] >= 1]
        first = next((o["id"] for o in warm if o["pass"] == 1), None)
        own = [j for j in jobs.values() if j.get("op") == first]
        wall = [o["root"]["end"] - o["root"]["start"] for o in warm]
        build = sum(o["build"][1] - o["build"][0] for o in warm)
        out[name] = {
            "jobs": len(own),
            "build_jobs": sum(1 for j in own if j.get("in_build")),
            "wall_s": round(statistics.median(wall), 4) if wall else 0.0,
            "build_share": round(build / sum(wall), 3) if wall else 0.0,
        }
    return out


def layer_metrics(tr: Tracer, workload, jobs, stages, layers, n_warm) -> dict:
    warm = [o for o in tr.ops if o["pass"] >= 1]
    cold = [o for o in tr.ops if o["pass"] == 0]
    first = {o["id"] for o in tr.ops if o["pass"] == 1}
    warm_ids = {o["id"] for o in warm}
    per = 1.0 / max(n_warm, 1)
    wjobs = [j for j in jobs.values() if j.get("op") in warm_ids]
    wstages = [s for s in stages.values() if jobs.get(s["job"], {}).get("op") in warm_ids]
    fjobs = [j for j in wjobs if j["op"] in first]
    fstages = [s for s in wstages if jobs[s["job"]]["op"] in first]
    build = sum(o["build"][1] - o["build"][0] for o in warm)
    op_wall = sum(o["root"]["end"] - o["root"]["start"] for o in warm)
    exec_wall = _union([(j["start"], j["end"]) for j in wjobs])
    task_run = sum(s["run"] for s in wstages)
    gap = 0.0
    for o in warm:
        ex = _union([(j["start"], j["end"]) for j in wjobs if j["op"] == o["id"] and not j.get("in_build")])
        gap += (o["root"]["end"] - o["root"]["start"]) - (o["build"][1] - o["build"][0]) - ex
    # The sink's final stage: the single-task stage that writes the rows.
    sink_stages = [s for s in wstages if s["out_rec"] > 0 and s["tasks"] == 1]
    is_mr = workload == "mr_plugin"
    # mr_run: the map stage reads the files and shuffles the pairs; the
    # reduce stage reads those pairs back.
    map_st = [s for s in wstages if s["in_b"] > 0 and s["sw_rec"] > 0]
    pairs = sum(s["sw_rec"] for s in map_st)
    red_st = [s for s in wstages if s["sr_rec"] > 0 and s not in sink_stages and s["out_rec"] == 0]
    keys = sum(s["out_rec"] for s in sink_stages)
    progress = [p for p in tr.progress if p["op"] in warm_ids]
    cores = os.cpu_count() or 1
    cache_cold = next((c for c in tr.cache if c["after"] == "cold"), {"persisted_rdds": 0, "storage_mb": 0.0})
    cache_last = tr.cache[-1] if tr.cache else cache_cold
    return {
        **layers,
        "operators.build_s": build * per,
        "operators.build_share": build / op_wall if op_wall else 0.0,
        "operators.build_jobs": sum(1 for j in fjobs if j.get("in_build")),
        "operators.warmup_build_s": sum(o["build"][1] - o["build"][0] for o in cold),
        "plan.plan_s": sum(o["plan"][1] - o["plan"][0] for o in warm) * per,
        "spark.jobs": len(fjobs),
        "spark.stages": len(fstages),
        "spark.tasks": sum(s["tasks"] for s in fstages),
        "exec.wall_s": exec_wall * per,
        "exec.task_run_s": task_run * per,
        "exec.task_cpu_s": sum(s["cpu"] for s in wstages) * per,
        "exec.gc_s": sum(s["gc"] for s in wstages) * per,
        "exec.busy_share": task_run / (cores * exec_wall) if exec_wall else 0.0,
        "exec.shuffle_write_mb": sum(s["sw_b"] for s in wstages) / MB * per,
        "exec.shuffle_read_mb": sum(s["sr_b"] for s in wstages) / MB * per,
        "exec.spill_mb": sum(s["spill_b"] for s in wstages) / MB * per,
        "exec.failed_tasks": sum(s["failed"] for s in stages.values()),
        "driver.gap_s": gap * per,
        "sources.input_mb": sum(s["in_b"] for s in wstages) / MB * per,
        "sinks.write_s": sum(o["exec"][1] - o["exec"][0] for o in warm) * per if is_mr else 0.0,
        "sinks.final_stage_s": sum(s["end"] - s["start"] for s in sink_stages) * per if is_mr else 0.0,
        "mapreduce.map_stage_s": sum(s["end"] - s["start"] for s in map_st) * per if is_mr else 0.0,
        "mapreduce.reduce_stage_s": sum(s["end"] - s["start"] for s in red_st) * per if is_mr else 0.0,
        "mapreduce.pairs": pairs * per if is_mr else 0.0,
        "mapreduce.keys": keys * per if is_mr else 0.0,
        "mapreduce.keys_per_pair": keys / pairs if is_mr and pairs else 0.0,
        "streaming.batches": len(progress) * per,
        "streaming.trigger_s": sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000 * per,
        "streaming.planning_s": sum(p["durationMs"].get("queryPlanning", 0) for p in progress) / 1000 * per,
        "streaming.add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000 * per,
        "cache.persisted_rdds_cold": cache_cold["persisted_rdds"],
        "cache.storage_mb_cold": cache_cold["storage_mb"],
        "cache.persisted_rdds": cache_last["persisted_rdds"],
        "cache.storage_mb": cache_last["storage_mb"],
    }

