"""Per-layer metrics from a traced run: Spark's event log plus the
worker's own spans and counters.

Spark work is attributed by interval: a job belongs to the operation
whose ``[t0, t1]`` call interval contains the job's submission time,
a task to the one containing its launch time, and an SQL execution's
driver-side metrics to the one containing the execution's start. This
also catches streaming micro-batches, which run under the streaming
query's own job group rather than the caller's. Work inside the set-up
interval or an operation's untimed output check is set aside; any other
job is counted in ``spark.unattributed_jobs``.

Run ``python3 -m pytest perfbench/tests`` for the parser's own tests.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 2**20

LAYER_UNITS = {
    "session.get_session_s": "s",
    "queries.load_all_s": "s",
    "plans.dispatch_s": "s",
    "plans.dispatch_jobs": "count",
    "messages.drain_s": "s",
    "messages.py_s": "s",
    "messages.rows": "count",
    "messages.msgs": "count",
    "catalog.input_mb": "MB",
    "catalog.cached_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.unattributed_jobs": "count",
    "spark.driver_gap_s": "s",
    "spark.sched_delay_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "operators.py_worker_s": "s",
    "operators.py_sent_mb": "MB",
    "incremental.create_partial_s": "s",
    "incremental.delta_s": "s",
    "incremental.advance_s": "s",
    "incremental.retract_s": "s",
    "incremental.state_mb": "MB",
    "sources.sink_write_s": "s",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "streaming.query_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.py_worker_s": "s",
    "trace.wall_s": "s",
}


def event_files(path: str) -> list[str]:
    """The log file itself, or every event file under a log directory
    (rolling logs write ``events_<n>_<app>`` parts)."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.startswith("appstatus"):
                found.append(os.path.join(root, n))

    def part(p: str) -> tuple:
        b = os.path.basename(p)
        return (int(b.split("_")[1]) if b.startswith("events_") else 0, b)

    return sorted(found, key=part)


def parse(path: str) -> dict:
    """Reduce an event log to jobs, stages, tasks, SQL executions and
    streaming progress. Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, float] = {}
    tasks: list[dict] = []
    execs: dict[int, dict] = {}
    progress: list[dict] = []
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3, "end": None}
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages.setdefault(info["Stage ID"], info.get("Submission Time", 0) / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(e))
                elif kind.endswith("SQLExecutionStart"):
                    execs[e["executionId"]] = {"time": e["time"] / 1e3, "files_bytes": 0}
                    _metric_names(e["sparkPlanInfo"], execs[e["executionId"]])
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    if e["executionId"] in execs:
                        _metric_names(e["sparkPlanInfo"], execs[e["executionId"]])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = execs.get(e["executionId"])
                    if ex is not None:
                        for acc_id, value in e["accumUpdates"]:
                            if acc_id in ex.get("files_ids", ()):
                                ex["files_bytes"] += value
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    progress.append({
                        "run": p["runId"],
                        "time": _iso_seconds(p["timestamp"]),
                        "state_rows": sum(
                            o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])
                        ),
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "execs": execs, "progress": progress}


def _metric_names(plan: dict, ex: dict) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == "size of files read":
            ex.setdefault("files_ids", set()).add(m["accumulatorId"])
    for child in plan.get("children", []):
        _metric_names(child, ex)


def _iso_seconds(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _task(e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sql = defaultdict(float)
    for a in info.get("Accumulables", []):
        if a.get("Name") in ("time to run Python workers", "data sent to Python workers"):
            sql[a["Name"]] += float(a.get("Update") or 0)
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
    run = m.get("Executor Run Time", 0) / 1e3
    overhead = (
        m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    ) / 1e3
    return {
        "stage": e["Stage ID"],
        "launch": launch,
        "run_s": run,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "sched_delay_s": max(0.0, (finish - launch) - run - overhead),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "py_s": sql["time to run Python workers"] / 1e3,
        "py_sent": sql["data sent to Python workers"],
    }


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Attributor:
    """Maps a timestamp to the operation whose interval contains it."""

    def __init__(self, res: dict) -> None:
        ops = res["ops"]
        self.spans = sorted(
            [(o["t0"], o["t1"], i) for i, o in enumerate(ops)]
            + [(o["c0"], o["c1"], "check") for o in ops if "c0" in o]
            + [(res["started"], res["ready"], "setup")]
        )

    def __call__(self, t: float):
        for lo, hi, who in self.spans:
            if lo <= t <= hi:
                return who
        return None


def layer_metrics(res: dict, log_path: str) -> dict[str, float]:
    log = parse(log_path)
    where = Attributor(res)
    ops = res["ops"]
    jobs_of: dict[int, list[dict]] = defaultdict(list)
    unattributed = 0
    for job in log["jobs"].values():
        if job["end"] is None:
            job["end"] = job["start"]
        who = where(job["start"])
        if isinstance(who, int):
            jobs_of[who].append(job)
        elif who is None:
            unattributed += 1
    tasks = [(where(t["launch"]), t) for t in log["tasks"]]
    op_tasks = [t for who, t in tasks if isinstance(who, int)]
    stream_ops = {i for i, o in enumerate(ops) if o.get("kind") == "stream"}
    requests = [(i, o) for i, o in enumerate(ops) if o.get("kind") == "request" and "t_disp" in o]

    def job_spans(i: int) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in jobs_of[i]]

    layer_s, counters = res["layer_s"], res["counters"]
    in_pass = [p for p in log["progress"] if isinstance(where(p["time"]), int)]
    state_rows: dict[str, int] = defaultdict(int)
    for p in in_pass:
        state_rows[p["run"]] = max(state_rows[p["run"]], p["state_rows"])
    written = counters.get("sources.bytes_written", 0.0)
    return {
        "session.get_session_s": layer_s.get("session.get_session", 0.0),
        "queries.load_all_s": layer_s.get("queries.load_all", 0.0),
        "plans.dispatch_s": sum(o["t_disp"] - o["t0"] for o in ops if "t_disp" in o),
        "plans.dispatch_jobs": sum(
            1 for i, o in enumerate(ops) if "t_disp" in o
            for j in jobs_of[i] if j["start"] <= o["t_disp"]
        ),
        "messages.drain_s": sum(o["t1"] - o["t_disp"] for _i, o in requests),
        "messages.py_s": sum(
            (o["t1"] - o["t_disp"]) - union_s(job_spans(i), o["t_disp"], o["t1"])
            for i, o in requests
        ),
        "messages.rows": sum(o.get("rows", 0) for o in ops if o.get("msgs") is not None),
        "messages.msgs": sum(o.get("msgs", 0) for o in ops),
        "catalog.input_mb": sum(
            ex["files_bytes"] for ex in log["execs"].values() if isinstance(where(ex["time"]), int)
        ) / MB,
        "catalog.cached_mb": res["cached_mb"],
        "spark.jobs": sum(len(v) for v in jobs_of.values()),
        "spark.stages": sum(1 for t in log["stages"].values() if isinstance(where(t), int)),
        "spark.tasks": len(op_tasks),
        "spark.unattributed_jobs": unattributed,
        "spark.driver_gap_s": sum(
            (o["t1"] - o["t0"]) - union_s(job_spans(i), o["t0"], o["t1"])
            for i, o in enumerate(ops)
        ),
        "spark.sched_delay_s": sum(t["sched_delay_s"] for t in op_tasks),
        "spark.exec_run_s": sum(t["run_s"] for t in op_tasks),
        "spark.exec_cpu_s": sum(t["cpu_s"] for t in op_tasks),
        "spark.gc_s": sum(t["gc_s"] for t in op_tasks),
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in op_tasks) / MB,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in op_tasks) / MB,
        "spark.spill_mb": sum(t["spill"] for t in op_tasks) / MB,
        "operators.py_worker_s": sum(t["py_s"] for t in op_tasks),
        "operators.py_sent_mb": sum(t["py_sent"] for t in op_tasks) / MB,
        "incremental.create_partial_s": layer_s.get("incremental.create_partial", 0.0),
        "incremental.delta_s": layer_s.get("incremental.delta", 0.0),
        "incremental.advance_s": layer_s.get("incremental.advance", 0.0),
        "incremental.retract_s": layer_s.get("incremental.retract", 0.0),
        "incremental.state_mb": counters.get("incremental.state_bytes", 0.0) / MB,
        "sources.sink_write_s": layer_s.get("sources.sink_write", 0.0),
        "sources.bytes_written_mb": written / MB,
        "sources.files_written": counters.get("sources.files_written", 0.0),
        "sources.write_amp": written / counters["sources.input_bytes"]
        if counters.get("sources.input_bytes") else 0.0,
        "streaming.query_s": layer_s.get("streaming.query", 0.0),
        "streaming.batches": len(in_pass),
        "streaming.state_rows": sum(state_rows.values()),
        "streaming.py_worker_s": sum(t["py_s"] for who, t in tasks if who in stream_ops),
        "trace.wall_s": sum(o["t1"] - o["t0"] for o in ops),
    }
