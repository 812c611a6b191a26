"""Read Spark's JSON-lines event log and attribute its jobs to spans.

Standard library only. The log must be written uncompressed and
non-rolling (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``), which gives one file with one
JSON object per line.

A span is a named interval recorded by the benchmark around one call
into the library. The span sets its id as the Spark job group
(``SparkContext.setJobGroup``), so every job submitted while it is open
carries ``spark.jobGroup.id`` = span id in its ``SparkListenerJobStart``
properties. That includes jobs submitted from worker threads started
through ``pyspark.util.inheritable_thread_target``, which copies the
caller's local properties.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# stage accumulables summed per span: event-log name -> metric name
STAGE_SUMS = {
    "internal.metrics.executorRunTime": "exec_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "records_read",
    "internal.metrics.output.recordsWritten": "records_written",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "data sent to Python workers": "python_bytes_sent",
}


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # seconds since the epoch
    end: float | None
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    tasks: int
    sums: dict[str, float]


@dataclass
class Span:
    id: str
    name: str
    start: float  # seconds since the epoch
    end: float
    parent: str | None = None
    counts: dict[str, float] = field(default_factory=dict)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and completed stages of one event-log file. A stage that
    ran in several attempts keeps the sums of all of them."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            # cheap prefilter: most lines are task and SQL events
            if '"SparkListenerJob' not in line and '"SparkListenerStageCompleted' not in line:
                continue
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    e["Job ID"],
                    props.get("spark.jobGroup.id"),
                    e["Submission Time"] / 1000.0,
                    None,
                    list(e.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], 0, {}))
                st.tasks += int(info.get("Number of Tasks", 0))
                for acc in info.get("Accumulables", []):
                    name = STAGE_SUMS.get(acc.get("Name"))
                    if name:
                        st.sums[name] = st.sums.get(name, 0.0) + _num(acc.get("Value"))
    return jobs, stages


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def attribute(
    spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage]
) -> dict[str, dict[str, float]]:
    """Per span id: wall, self and driver time, and the job, stage,
    task and task-metric sums of every job submitted under the span or
    any span nested in it.

    - ``self_s``: wall time minus the part its child spans cover;
    - ``driver_s``: wall time minus the union of its jobs' intervals,
      so overlapping jobs (from a thread pool) count once.
    """
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list[Job]] = {}
    for j in jobs.values():
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)

    def inclusive_jobs(s: Span) -> list[Job]:
        out = list(by_group.get(s.id, []))
        for c in children.get(s.id, []):
            out.extend(inclusive_jobs(c))
        return out

    result: dict[str, dict[str, float]] = {}
    for s in spans:
        wall = s.end - s.start
        js = inclusive_jobs(s)
        kids = children.get(s.id, [])
        rec = {
            "wall_s": wall,
            "self_s": wall - covered([(c.start, c.end) for c in kids], s.start, s.end),
            "driver_s": wall
            - covered([(j.start, j.end if j.end is not None else s.end) for j in js], s.start, s.end),
            "jobs": float(len(js)),
            "stages": 0.0,
            "tasks": 0.0,
        }
        for name in set(STAGE_SUMS.values()):
            rec[name] = 0.0
        # a stage reused by a later job is listed by both; count it once
        for sid in {sid for j in js for sid in j.stage_ids}:
            st = stages.get(sid)
            if st is None:  # skipped: its output was reused
                continue
            rec["stages"] += 1
            rec["tasks"] += st.tasks
            for k, v in st.sums.items():
                rec[k] += v
        result[s.id] = rec
    return result
