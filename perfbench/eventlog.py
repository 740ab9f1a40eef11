"""Stdlib parser for a Spark event log, and attribution of its jobs to spans.

A Spark event log is one JSON object per line. Only four events matter:
``SparkListenerJobStart`` (job id, submission time, stage ids, job-group
property), ``SparkListenerJobEnd`` (completion time), and
``SparkListenerTaskEnd`` (stage id, run time, shuffle and spill bytes).

Attribution of jobs to spans follows two rules:

- a job submitted while an *interval* span was open belongs to the
  innermost such span. Interval spans wrap calls whose jobs run on threads
  the benchmark does not control: a streaming query runs on its own thread
  and sets its own job group, so only time can tie its jobs to the drain;
- any other job belongs to the span its job group names (jobs launched on
  the benchmark's own thread, where the span set the group).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse(path: str) -> list[Job]:
    """Jobs of one application, in submission order, with task totals."""
    jobs: dict[int, Job] = {}
    stage_owner: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev.get("Submission Time", 0),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                # a stage re-listed by a later job is skipped there:
                # its tasks ran for the first job that listed it
                stage_owner.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    for ev in tasks:
        owner = stage_owner.get(ev.get("Stage ID"))
        if owner is None:
            continue
        job = jobs[owner]
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        job.tasks += 1
        job.task_s += m.get("Executor Run Time", 0) / 1000.0
        job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: list[dict]) -> dict[int, list[Job]]:
    """Map span id -> its jobs. ``spans`` carry ``id``, ``group``, ``start_ms``,
    ``end_ms`` and ``interval`` (True for spans whose work runs on threads
    the benchmark does not control)."""
    by_group = {s["group"]: s["id"] for s in spans}
    interval_spans = sorted(
        (s for s in spans if s.get("interval")), key=lambda s: s["end_ms"] - s["start_ms"]
    )
    out: dict[int, list[Job]] = {s["id"]: [] for s in spans}
    for job in jobs:
        sid = next(
            (s["id"] for s in interval_spans if s["start_ms"] <= job.submit_ms <= s["end_ms"]),
            by_group.get(job.group),
        )
        if sid is not None:
            out[sid].append(job)
    return out


def uncovered_s(start_ms: int, end_ms: int, jobs: list[Job]) -> float:
    """Seconds of [start, end] during which none of ``jobs`` was running:
    the driver-side gap (planning, commits, listing, Python)."""
    ivs = sorted((max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms)) for j in jobs)
    covered, cur_s, cur_e = 0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(end_ms - start_ms - covered, 0) / 1000.0


def totals(jobs: list[Job]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "task_s": sum(j.task_s for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }
