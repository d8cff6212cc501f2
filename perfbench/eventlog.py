"""Spark event-log reader and span roll-up for the traced benchmark run.

The benchmark wraps every public call into the package in a span and tags
the Spark jobs that call submits with ``setJobDescription("<layer>:<call>")``.
Spark's own event log (uncompressed JSON lines, rolling
``eventlog_v2_*/events_*`` directory) then says, per job, when it ran and
what its tasks cost.  This module joins the two:

- a job belongs to the span whose tag it carries; a job without a known tag
  (Structured Streaming sets its own micro-batch description) belongs to the
  innermost span open when it was submitted;
- ``in_job_s`` is the union of the span's job intervals clipped to the span,
  and ``driver_s = wall_s - in_job_s``, so the two always add up to wall time;
- task CPU, GC, shuffle-write, spill and output bytes are summed from
  TaskEnd events through the stage -> job map of JobStart events.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import asdict, dataclass, field

COMMON = (
    "wall_s",
    "in_job_s",
    "driver_s",
    "jobs",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)

_MB = 1024.0 * 1024.0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    description: str | None = None
    stage_ids: list = field(default_factory=list)
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Span:
    """One benchmark-side call: ``name`` is the layer span, ``tag`` the job
    description set while it ran.  Times are epoch seconds."""

    name: str
    tag: str
    start: float
    end: float
    parent: int | None = None  # index of the enclosing span, if any
    run_id: str = ""


def event_files(log_dir: str) -> list[str]:
    """Event files of every rolling log (``eventlog_v2_*/events_<n>_*``)
    under ``log_dir``, in write order."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        out.extend(parts)
    return out


def read_jobs(log_dir: str) -> list[Job]:
    """Jobs with their task metrics rolled up, from every event file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        submit_ms=ev["Submission Time"],
                        description=props.get("spark.job.description"),
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        # a stage listed again by a later job was skipped there:
                        # its tasks ran under the first job that listed it
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.task_cpu_ns += m.get("Executor CPU Time", 0)
                    job.gc_ms += m.get("JVM GC Time", 0)
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Span index -> the jobs it submitted."""
    by_tag: dict[str, list[int]] = {}
    for i, sp in enumerate(spans):
        by_tag.setdefault(sp.tag, []).append(i)
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for job in jobs:
        t = job.submit_ms / 1000.0
        cands = by_tag.get(job.description or "", range(len(spans)))
        # Spark logs whole milliseconds: allow one before the span's start
        inside = [i for i in cands if spans[i].start - 0.001 <= t <= spans[i].end]
        if inside:
            # innermost = latest-starting span that contains the submission
            out[max(inside, key=lambda i: spans[i].start)].append(job)
    return out


def span_metrics(span: Span, jobs: list[Job]) -> dict[str, float]:
    wall = span.end - span.start
    ivs = []
    for j in jobs:
        s = max(span.start, j.submit_ms / 1000.0)
        e = min(span.end, (j.end_ms if j.end_ms is not None else j.submit_ms) / 1000.0)
        if e > s:
            ivs.append((s, e))
    in_job = min(wall, _union_length(ivs))
    return {
        "wall_s": wall,
        "in_job_s": in_job,
        "driver_s": wall - in_job,
        "jobs": float(len(jobs)),
        "task_cpu_s": sum(j.task_cpu_ns for j in jobs) / 1e9,
        "gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
        "shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / _MB,
        "spill_mb": sum(j.spill_bytes for j in jobs) / _MB,
        "output_mb": sum(j.output_bytes for j in jobs) / _MB,
    }


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [
        (sp.end - sp.start) - _union_length(kids.get(i, [])) for i, sp in enumerate(spans)
    ]


def rollup(spans: list[Span], jobs: list[Job], names: list[str]) -> dict[str, float]:
    """``<name>.<metric>`` summed over every span of that name; a layer that
    did not run in this workload reports zeros."""
    assigned = assign_jobs(spans, jobs)
    out = {f"{n}.{m}": 0.0 for n in names for m in COMMON}
    for i, sp in enumerate(spans):
        if sp.name not in names:
            continue
        for k, v in span_metrics(sp, assigned[i]).items():
            out[f"{sp.name}.{k}"] += v
    return out


def write_spans(path: str, spans: list[Span]) -> None:
    """Spans (name, tag, start, end, parent, run id) plus self time, as JSON."""
    rows = [{**asdict(sp), "self_s": st} for sp, st in zip(spans, self_times(spans))]
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(rows, fh, indent=1)
