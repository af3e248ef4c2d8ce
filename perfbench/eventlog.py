"""Spark engine and Python-worker layers, read from Spark's event log.

The traced run writes one uncompressed event-log file (Spark 4 rolls and
zstd-compresses it by default, and no zstd reader is assumed to be
installed).
``engine_metrics`` summarises the jobs submitted in one time window;
``jobs_by_tag`` gives each job's duration under the span tag it was
submitted with (see tracing.py).
"""

from __future__ import annotations

import json
import os

from tracing import TAG_PREFIX, union_length

# Spark 4.1 PythonSQLMetrics accumulable names: timings are milliseconds,
# sizes are bytes.
PYTHON_ACCUMULABLES = {
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_received", 1.0),
}

ENGINE_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.sql_executions", "count"),
    ("spark.planning_s", "s"),
    ("spark.driver_idle_s", "s"),
    ("spark.job_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.slot_use", "ratio"),
    ("spark.peak_concurrent_tasks", "count"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.task_retries", "count"),
) + tuple((name, "s" if name.endswith("_s") else "B") for name, _ in PYTHON_ACCUMULABLES.values())


def find_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    path = os.path.join(log_dir, logs[0])
    with open(path, "rb") as f:
        if f.read(1) != b"{":
            raise RuntimeError(f"{path} is not an uncompressed event log")
    return path


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _jobs(events: list[dict], lo_ms: float, hi_ms: float) -> dict[int, dict]:
    jobs: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and lo_ms <= e["Submission Time"] <= hi_ms:
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "end": None,
                "stages": set(e.get("Stage IDs", [])),
                "tag": props.get("spark.job.description"),
                "sql": props.get("spark.sql.execution.id"),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    for j in jobs.values():
        if j["end"] is None:
            raise RuntimeError("a job in the traced window never ended")
    return jobs


def engine_metrics(events: list[dict], lo_ms: float, hi_ms: float, cpus: int) -> dict[str, float]:
    """Engine and Python-worker totals over the jobs submitted in
    ``[lo_ms, hi_ms]`` (epoch milliseconds, the event log's clock)."""
    jobs = _jobs(events, lo_ms, hi_ms)
    stage_ids = set().union(*(j["stages"] for j in jobs.values())) if jobs else set()
    sql_start = {
        e["executionId"]: e["time"]
        for e in events
        if e["Event"].endswith("SparkListenerSQLExecutionStart")
    }
    first_job: dict[int, float] = {}
    for j in jobs.values():
        if j["sql"] is not None:
            sid = int(j["sql"])
            first_job[sid] = min(first_job.get(sid, j["start"]), j["start"])
    planning = sum(max(0.0, t - sql_start[s]) for s, t in first_job.items() if s in sql_start)

    busy = union_length([(j["start"], j["end"]) for j in jobs.values()], lo_ms, hi_ms)
    m = {
        "spark.jobs": len(jobs),
        "spark.stages": 0,
        "spark.tasks": 0,
        "spark.sql_executions": len(first_job),
        "spark.planning_s": planning / 1e3,
        "spark.driver_idle_s": (hi_ms - lo_ms - busy) / 1e3,
        "spark.job_s": busy / 1e3,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.shuffle_read_bytes": 0,
        "spark.shuffle_write_bytes": 0,
        "spark.spill_bytes": 0,
        "spark.task_retries": 0,
    }
    for name, _ in PYTHON_ACCUMULABLES.values():
        m[name] = 0.0
    edges: list[tuple[float, int]] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted" and e["Stage Info"]["Stage ID"] in stage_ids:
            m["spark.stages"] += 1
        if kind != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_ids:
            continue
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        m["spark.tasks"] += 1
        m["spark.task_retries"] += int(info.get("Attempt", 0) > 0)
        # a slot is free once the task's result is serialized; "Finish
        # Time" is stamped later, after the driver has fetched the result
        held = sum(tm.get(k, 0) for k in ("Executor Deserialize Time", "Executor Run Time", "Result Serialization Time"))
        edges += [(info["Launch Time"], 1), (info["Launch Time"] + held, -1)]
        m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["spark.shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            hit = PYTHON_ACCUMULABLES.get(acc.get("Name"))
            if hit is not None and acc.get("Update") is not None:
                m[hit[0]] += float(acc["Update"]) * hit[1]
    running = peak = 0
    for _, d in sorted(edges, key=lambda x: (x[0], x[1])):
        running += d
        peak = max(peak, running)
    m["spark.peak_concurrent_tasks"] = peak
    m["spark.slot_use"] = m["spark.executor_run_s"] / (m["spark.job_s"] * cpus) if busy else 0.0
    return m


def jobs_by_tag(events: list[dict], lo_ms: float, hi_ms: float) -> dict[int | None, float]:
    """Summed job duration (s) per span id; untagged jobs under None."""
    out: dict[int | None, float] = {}
    for j in _jobs(events, lo_ms, hi_ms).values():
        tag = j["tag"]
        sid = int(tag[len(TAG_PREFIX):]) if tag and tag.startswith(TAG_PREFIX) else None
        out[sid] = out.get(sid, 0.0) + (j["end"] - j["start"]) / 1e3
    return out
