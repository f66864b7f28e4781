"""Spark event-log parser (stdlib only).

Reads the JSON-lines event log Spark writes when ``spark.eventLog.enabled``
is on and turns it into spans — job group → job → stage — with the task
metrics of each stage, then sums them per job group.

Time attribution: the window under study (one pipeline iteration) is cut at
every job boundary into elementary segments. A segment covered by jobs of
several groups is split evenly between them, so the groups' ``wall_s`` plus
``outside_s`` (segments with no job at all: driver planning, Python) add up
to the window exactly. ``idle_s`` is the part of a group's ``wall_s`` during
which none of its tasks was running — the per-job driver/scheduler floor.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

UNGROUPED = "ungrouped"
MB = 1024.0 * 1024.0


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    task_spans: list = field(default_factory=list)  # (launch_ms, finish_ms)


@dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    complete_ms: int | None = None
    succeeded: bool = False
    stage_ids: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict  # job_id -> Job
    stages: dict  # (stage_id, attempt) -> Stage
    stage_job: dict  # stage_id -> job_id that ran it


def parse(path: str) -> EventLog:
    """Read one uncompressed event-log file."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    stage_job: dict[int, int] = {}
    running: list[int] = []  # job ids started but not ended, in start order
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id") or UNGROUPED,
                    submit_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
                jobs[job.job_id] = job
                running.append(job.job_id)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.complete_ms = ev["Completion Time"]
                    job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
                    running.remove(job.job_id)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = Stage(
                    stage_id=key[0], attempt=key[1], name=info["Stage Name"],
                    submit_ms=info.get("Submission Time"),
                )
                # a stage id can be listed by several jobs (a later job skips
                # a shuffle stage an earlier one ran); it belongs to the
                # newest running job that lists it when it is submitted
                for jid in reversed(running):
                    if key[0] in jobs[jid].stage_ids:
                        stage_job[key[0]] = jid
                        break
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st.complete_ms = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                info = ev.get("Task Info") or {}
                if st is None or "Launch Time" not in info:
                    continue
                m = ev.get("Task Metrics") or {}
                launch, finish = info["Launch Time"], info["Finish Time"]
                st.tasks += 1
                st.task_ms += finish - launch
                st.task_spans.append((launch, finish))
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_b += m.get("Disk Bytes Spilled", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                wr = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_b += wr.get("Shuffle Bytes Written", 0)
    return EventLog(jobs=jobs, stages=stages, stage_job=stage_job)


def _sweep(intervals: dict, lo: float, hi: float) -> tuple[dict, float]:
    """Split [lo, hi] among labelled intervals. ``intervals`` maps a label to
    a list of (start, end); returns ({label: seconds}, uncovered seconds),
    sharing each covered segment evenly among the labels that cover it."""
    points = {lo, hi}
    for spans in intervals.values():
        for a, b in spans:
            points.update(p for p in (a, b) if lo < p < hi)
    cuts = sorted(points)
    share = {label: 0.0 for label in intervals}
    outside = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        cover = [
            label for label, spans in intervals.items()
            if any(s <= mid < e for s, e in spans)
        ]
        if cover:
            for label in cover:
                share[label] += (b - a) / len(cover)
        else:
            outside += b - a
    return share, outside


def group_metrics(log: EventLog, start_s: float, end_s: float) -> dict:
    """Per-group metrics for the jobs submitted inside [start_s, end_s]
    (epoch seconds, the same clock as the event log's milliseconds).
    Returns {group: {jobs, wall_s, task_s, idle_s, shuffle_write_mb,
    shuffle_read_mb, spill_mb, gc_s}} plus the key ``"_outside_s"``."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    job_spans: dict[str, list] = {}
    task_spans: dict[str, list] = {}
    out: dict[str, dict] = {}
    for job in log.jobs.values():
        if not lo <= job.submit_ms <= hi:
            continue
        end = min(job.complete_ms if job.complete_ms is not None else hi, hi)
        job_spans.setdefault(job.group, []).append((job.submit_ms, end))
        g = out.setdefault(job.group, {
            "jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
        })
        g["jobs"] += 1
    for st in log.stages.values():
        job = log.jobs.get(log.stage_job.get(st.stage_id, -1))
        if job is None or job.group not in out or not lo <= job.submit_ms <= hi:
            continue
        g = out[job.group]
        g["task_s"] += st.task_ms / 1000.0
        g["shuffle_write_mb"] += st.shuffle_write_b / MB
        g["shuffle_read_mb"] += st.shuffle_read_b / MB
        g["spill_mb"] += st.spill_b / MB
        g["gc_s"] += st.gc_ms / 1000.0
        task_spans.setdefault(job.group, []).extend(st.task_spans)
    wall, outside = _sweep(job_spans, lo, hi)
    for group, g in out.items():
        g["wall_s"] = wall[group] / 1000.0
        g["idle_s"] = max(0.0, (
            _measure(job_spans[group], lo, hi)
            - _measure(task_spans.get(group, []), lo, hi)
        ) / 1000.0)
    out["_outside_s"] = outside / 1000.0
    return out


def _measure(spans: list, lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def spans(log: EventLog, parent_id: str) -> list[dict]:
    """Job-group → job → stage spans (epoch seconds) under ``parent_id``."""
    result: list[dict] = []
    groups: dict[str, dict] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        end = job.complete_ms if job.complete_ms is not None else job.submit_ms
        g = groups.get(job.group)
        if g is None:
            g = groups[job.group] = {
                "id": f"{parent_id}/group:{job.group}", "parent": parent_id,
                "name": job.group, "kind": "job_group",
                "start": job.submit_ms / 1000.0, "end": end / 1000.0,
                "attrs": {},
            }
            result.append(g)
        g["start"] = min(g["start"], job.submit_ms / 1000.0)
        g["end"] = max(g["end"], end / 1000.0)
        result.append({
            "id": f"{parent_id}/job:{job.job_id}", "parent": g["id"],
            "name": f"job {job.job_id}", "kind": "job",
            "start": job.submit_ms / 1000.0, "end": end / 1000.0,
            "attrs": {"succeeded": job.succeeded},
        })
    for st in sorted(log.stages.values(), key=lambda s: (s.stage_id, s.attempt)):
        jid = log.stage_job.get(st.stage_id)
        if jid is None or st.submit_ms is None:
            continue
        result.append({
            "id": f"{parent_id}/stage:{st.stage_id}.{st.attempt}",
            "parent": f"{parent_id}/job:{jid}", "name": st.name,
            "kind": "stage", "start": st.submit_ms / 1000.0,
            "end": (st.complete_ms or st.submit_ms) / 1000.0,
            "attrs": {
                "tasks": st.tasks, "task_s": st.task_ms / 1000.0,
                "gc_s": st.gc_ms / 1000.0,
                "shuffle_read_mb": st.shuffle_read_b / MB,
                "shuffle_write_mb": st.shuffle_write_b / MB,
                "spill_mb": st.spill_b / MB,
            },
        })
    return result
