"""The per-layer record of a traced run (``--trace 1``).

Spark work is attributed from outside the engine: every call the
benchmark makes into it runs under a job group named ``op<i>.<phase>``,
and the event log's jobs, stages and SQL-metric updates are joined on
that group (see ``read_event_log``). Per-op values are medians
over the measured ops; counts are per op. A metric whose layer the
workload never enters (dedup.* and the live tail's metrics on
warehouse_rebuild) reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

import harness as H

# the live tail of corpus_dedup's traced run (live_tail.py)
LIVE_METRICS = (
    "ml.train_s", "streaming.batch_s", "streaming.query_planning_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.get_batch_ms",
    "streaming.jobs_per_batch", "streaming.tasks_per_batch",
    *(f"state.{op}.{m}" for op in ("join_volume", "dedup")
      for m in ("rows_total", "memory_bytes", "commit_ms", "update_ms", "dropped_by_watermark")),
    "hooks.indicators_s", "hooks.predict_s", "sink.warehouse_files",
)
DEDUP_METRICS = (
    "dedup.jobs", "dedup.task_s", "dedup.shuffle_bytes", "dedup.driver_gap_s",
    "dedup.cc_jobs", "dedup.cc_driver_gap_s", "dedup.candidate_pairs",
    "dedup.verified_pairs", "dedup.verify_yield",
)


# ---------------------------------------------------------------------------
# Event log: each stage's work is booked to the engine modules whose
# physical operators ran in it. An operator "ran in" a stage when the
# stage's tasks updated one of its SQL metrics (operators fused by
# whole-stage codegen still update their own row counters), or when it
# created one of the stage's RDDs.

# operator name prefix → layer (the module that emits the operator)
LAYER_OPS = {
    "windows": ("Window",),
    "joins": ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"),
    "sources": ("Scan parquet", "FileScan parquet"),
}


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    props: dict = field(default_factory=dict)


@dataclass
class Stage:
    ops: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    sort_ms: float = 0.0

    def runs(self, layer: str) -> bool:
        return any(o.startswith(LAYER_OPS[layer]) for o in self.ops)


def read_event_log(log_dir: str) -> tuple[list[Job], dict]:
    """Parse the uncompressed event log of a stopped context into jobs
    and per-stage task totals (all attempts of a stage summed)."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f))
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    acc_op: dict[int, str] = {}  # SQL metric accumulator id → operator name
    sort_acc: set = set()  # accumulator ids of Sort operators' "sort time"

    def walk(node):
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            acc_op[m["accumulatorId"]] = name
            if name == "Sort" and m.get("name") == "sort time":
                sort_acc.add(m["accumulatorId"])
        for ch in node.get("children", []):
            walk(ch)

    for fn in files:
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        stages=[si["Stage ID"] for si in ev.get("Stage Infos", [])],
                        props=props,
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], Stage())
                    for rdd in si.get("RDD Info", []):
                        if rdd.get("Scope"):
                            st.ops.add(json.loads(rdd["Scope"]).get("name", ""))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        op = acc_op.get(acc.get("ID"))
                        if op is None:
                            continue
                        st.ops.add(op)
                        if acc["ID"] in sort_acc:
                            st.sort_ms += float(acc.get("Update") or 0)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    walk(ev.get("sparkPlanInfo") or {})
    return list(jobs.values()), stages


def interval_union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(jobs: list[Job], stages: dict) -> dict:
    """Totals over ``jobs``' stages, overall and per layer. A stage that
    ran no tasks (its shuffle output was reused) costs nothing."""
    t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
         "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "input_bytes": 0}
    for lay in LAYER_OPS:
        t.update({f"{lay}.task_s": 0.0, f"{lay}.shuffle_write": 0, f"{lay}.spill": 0,
                  f"{lay}.sort_ms": 0.0, f"{lay}.input_bytes": 0})
    for sid in {s for j in jobs for s in j.stages}:
        st = stages.get(sid)
        if st is None or st.tasks == 0:
            continue
        t["stages"] += 1
        for k, v in (("tasks", st.tasks), ("task_s", st.run_s), ("gc_s", st.gc_s),
                     ("shuffle_read", st.shuffle_read), ("shuffle_write", st.shuffle_write),
                     ("spill", st.spill), ("input_bytes", st.input_bytes)):
            t[k] += v
        for lay in LAYER_OPS:
            if st.runs(lay):
                t[f"{lay}.task_s"] += st.run_s
                t[f"{lay}.shuffle_write"] += st.shuffle_write
                t[f"{lay}.spill"] += st.spill
                t[f"{lay}.sort_ms"] += st.sort_ms
                t[f"{lay}.input_bytes"] += st.input_bytes
    return t


def _phase_record(jobs, stages, marks) -> dict:
    """Totals, driver gap and plan-to-first-job time for the jobs and
    wall-clock marks of one op (or one phase of it)."""
    t = job_totals(jobs, stages)
    wall = sum(e - s for _l, s, e in marks)
    busy = interval_union(
        (max(j.start, s), min(j.end, e)) for j in jobs for _l, s, e in marks
        if j.end > s and j.start < e
    )
    t["wall_s"] = wall
    t["gap_s"] = wall - busy
    first = min((j.start for j in jobs), default=None)
    t["plan_to_first_job_s"] = first - min(s for _l, s, _e in marks) if first else wall
    return t


def per_op(events, marks: list, op_ids: list[int], phase: str = "") -> list[dict]:
    """One record per op from the job groups ``op<i>.<phase>...``."""
    jobs, stages = events
    return [
        _phase_record(
            [j for j in jobs if (j.group or "").startswith(f"op{i}.{phase}")],
            stages,
            [m for m in marks if m[0].startswith(f"op{i}.{phase}")],
        )
        for i in op_ids
    ]


def per_batch(events, batches: list) -> list[dict]:
    """One record per micro-batch: its jobs carry the stream's batch id."""
    jobs, stages = events
    return [
        _phase_record(
            [j for j in jobs if j.props.get("streaming.sql.batchId") == str(b)],
            stages, [(f"batch{b}", s, e)],
        )
        for b, s, e in batches
    ]


def per_layer(ctx: H.Ctx, traced: dict) -> dict:
    """Every per-layer metric of one traced run. The tracing overhead is
    the CPU time of the thread that writes the event log during the
    measured phase over the rest of the measured ops' CPU time."""
    events = read_event_log(ctx.event_log_dir)
    warm = traced["warm_n"]
    ops = list(range(warm, warm + traced["attempted"]))
    recs = per_op(events, ctx.marks, ops)

    def med(key, rs=recs):
        return statistics.median(r[key] for r in rs)

    L = ctx.layers
    v = {
        "session.get_spark_s": L["session.get_spark_s"],
        "setup_wall_s": L["setup_wall_s"],
        "warmup.ops": L["warmup.ops"],
        "warmup.first_op_s": L["warmup.op_s"][0],
        "plans.build_s": L["plans.build_s"],
        "plans.plan_to_first_job_s": med("plan_to_first_job_s"),
        "driver.gap_s": med("gap_s"),
        "trace.overhead_share": (
            L["trace.event_log_cpu_s"] / (sum(traced["op_cpu_s"]) - L["trace.event_log_cpu_s"])
        ),
        "op_wall_p50_s": statistics.median(traced["op_s"]),
        "jvm.jit_cpu_s": statistics.median(traced["jit_cpu_s"]),
        "jvm.classes_loaded": statistics.median(traced["classes_loaded"]),
        "rows_per_s": traced["rows_per_s"],
        "jvm_peak_rss_mb": traced["jvm_peak_rss_mb"],
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.task_s": med("task_s"),
        "spark.gc_s": med("gc_s"),
        "spark.shuffle_read_bytes": med("shuffle_read"),
        "spark.shuffle_write_bytes": med("shuffle_write"),
        "spark.spill_bytes": med("spill"),
        "windows.task_s": med("windows.task_s"),
        "windows.sort_ms": med("windows.sort_ms"),
        "windows.spill_bytes": med("windows.spill"),
        "joins.task_s": med("joins.task_s"),
        "joins.shuffle_write_bytes": med("joins.shuffle_write"),
        "sources.scan_bytes": med("sources.input_bytes"),
        "sources.scan_task_s": med("sources.task_s"),
        "sink.files": L["sink.files"],
    }
    v.update(dict.fromkeys(DEDUP_METRICS, 0))
    if "dedup.candidate_pairs" in L:  # corpus_dedup: minhash phase, then CC phase
        mh = per_op(events, ctx.marks, ops, "minhash")
        cc = per_op(events, ctx.marks, ops, "cc")
        v.update({
            "dedup.jobs": med("jobs", mh),
            "dedup.task_s": med("task_s", mh),
            "dedup.shuffle_bytes": med("shuffle_write", mh),
            "dedup.driver_gap_s": med("gap_s", mh),
            "dedup.cc_jobs": med("jobs", cc),
            "dedup.cc_driver_gap_s": med("gap_s", cc),
            "dedup.candidate_pairs": L["dedup.candidate_pairs"],
            "dedup.verified_pairs": L["dedup.verified_pairs"],
            "dedup.verify_yield": L["dedup.verified_pairs"] / max(L["dedup.candidate_pairs"], 1),
        })
    v.update(dict.fromkeys(LIVE_METRICS, 0))
    if "live" in traced:  # corpus_dedup: the live tail's second micro-batch
        v.update({k: L[k] for k in LIVE_METRICS if k in L})
        last = per_batch(events, traced["live"]["batches"][-1:])[0]
        v["streaming.jobs_per_batch"] = last["jobs"]
        v["streaming.tasks_per_batch"] = last["tasks"]
    return v
