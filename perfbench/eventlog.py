"""Reduce a Spark event log (uncompressed, non-rolling JSON lines) to
per-job counters, and sum them per span or per time window.

Jobs are tied to spans by ``spark.jobGroup.id``, which the tracer sets to
the span id while the span is open; stages belong to the job that listed
them first and tasks to their stage. Python stages are the stages that
ran a Python exec node (``ArrowEvalPython``, ``MapInPandas``, ...), found
by the RDD scope names Spark records for each stage; their SQL metrics
give the rows out of Python exec nodes and the time spent running the
Python workers.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "FlatMapGroupsInArrow", "PythonUDTF", "PythonMapInArrow")
# SQL metrics of the Python exec nodes -> counter; timings are converted
# to seconds from the metric's own unit.
PYTHON_METRICS = {"number of output rows": "rows_to_python",
                  "time to run Python workers": "python_udf_s"}
_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}

COUNTERS = ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "scheduler_delay_s", "failed_tasks", "input_bytes", "input_cpu_s",
            "python_stages", "rows_to_python", "python_udf_s")


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def _python_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Accumulator id -> (counter, scale) for the metrics of every Python
    exec node in a plan."""
    if any(n in plan.get("nodeName", "") for n in PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") in PYTHON_METRICS:
                out[m["accumulatorId"]] = (PYTHON_METRICS[m["name"]],
                                           _SECONDS.get(m.get("metricType"), 1))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def reduce_event_log(path: str) -> list[Job]:
    """Every job in the log with its counters summed over its stages and
    tasks. Times are epoch seconds on the host clock."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    py_accs: dict[int, tuple[str, float]] = {}
    with open(path, encoding="utf-8") as f:
        lines = [json.loads(line) for line in f if line.strip()]
    for ev in lines:  # first pass: plans, so task accumulables can be matched
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_accs)
    for ev in lines:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            job.counters["stages"] += 1
            scopes = " ".join(str(r.get("Scope", "")) + " " + str(r.get("Name", ""))
                              for r in info.get("RDD Info", []))
            if any(n in scopes for n in PYTHON_NODES):
                job.counters["python_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            _add_task(job.counters, ev, py_accs)
    for job in jobs.values():
        if not job.end:
            job.end = job.start
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _add_task(c: dict, ev: dict, py_accs: dict[int, tuple[str, float]]) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["failed_tasks"] += bool(info.get("Failed"))
    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
    c["task_s"] += dur
    cpu = m.get("Executor CPU Time", 0) / 1e9
    c["task_cpu_s"] += cpu
    c["gc_s"] += m.get("JVM GC Time", 0) / 1000
    rd = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    busy = (m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)) / 1000
    c["scheduler_delay_s"] += max(dur - busy, 0.0)
    read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["input_bytes"] += read
    if read:
        c["input_cpu_s"] += cpu
    for acc in info.get("Accumulables", []):
        if acc.get("ID") in py_accs:
            counter, scale = py_accs[acc["ID"]]
            c[counter] += int(acc.get("Update", 0) or 0) * scale


def sum_jobs(jobs: list[Job]) -> dict:
    total = dict.fromkeys(COUNTERS, 0)
    for j in jobs:
        total["jobs"] += 1
        for k, v in j.counters.items():
            total[k] += v
    return total


def busy_seconds(jobs: list[Job], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by at least one running job."""
    spans = sorted((max(j.start, t0), min(j.end, t1)) for j in jobs if j.end > t0 and j.start < t1)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
