"""Spans around public calls, Spark event-log parsing, and the arithmetic
that joins them: job-to-span attribution and self time.

Times are wall-clock seconds since the epoch (``time.time()``), the clock
Spark's event log uses (in milliseconds), so a job's submission time can
be placed inside a span recorded by the Python driver process.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    detail: str
    start: float
    end: float = 0.0
    run_id: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory; written out once, at the end."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, detail: str = ""):
        s = Span(
            id=len(self.spans),
            parent=self._stack[-1] if self._stack else None,
            name=name,
            detail=detail,
            start=time.time(),
            run_id=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self) -> list[dict]:
        return [dict(vars(s)) for s in self.spans]


@dataclass
class Job:
    id: int
    submit: float
    end: float
    metrics: dict[str, float] = field(default_factory=dict)


# Spark-engine counters summed per job from the event log's TaskEnd
# records. Times are converted to seconds.
SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "task_wait_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
    "result_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "failed_tasks",
    "input_bytes",
    "output_bytes",
)

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` in write order (plain logs
    and the numbered parts of a rolling ``eventlog_v2_*`` directory)."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith((".", "appstatus")):
                continue
            part = f.split("_")[1] if f.startswith("events_") else "0"
            found.append((root, int(part) if part.isdigit() else 0, f))
    return [os.path.join(r, f) for r, _p, f in sorted(found)]


def parse_event_log(lines) -> list[Job]:
    """Jobs with their per-task metrics summed, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            j = Job(id=e["Job ID"], submit=t, end=t, metrics=dict.fromkeys(SPARK_METRICS, 0.0))
            j.metrics["jobs"] = 1.0
            jobs[j.id] = j
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, j.id)
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if "Submission Time" in info:
                stage_submit[sid] = info["Submission Time"] / 1000.0
            j = jobs.get(stage_job.get(sid, -1))
            if j is not None:
                j.metrics["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"], -1))
            if j is not None:
                _add_task(j.metrics, e, stage_submit.get(e["Stage ID"]))
    return sorted(jobs.values(), key=lambda j: j.id)


def _add_task(m: dict[str, float], e: dict, stage_submit: float | None) -> None:
    info = e.get("Task Info", {})
    tm = e.get("Task Metrics") or {}
    m["tasks"] += 1
    if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
        m["failed_tasks"] += 1
    if stage_submit is not None and "Launch Time" in info:
        m["task_wait_s"] += max(0.0, info["Launch Time"] / 1000.0 - stage_submit)
    m["task_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    m["result_bytes"] += tm.get("Result Size", 0)
    m["peak_exec_mem_bytes"] = max(
        m["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
    )
    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
        "Disk Bytes Spilled", 0
    )
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == _PY_SENT:
            m["python_bytes_sent"] += int(acc.get("Update", 0))
        elif acc.get("Name") == _PY_RECV:
            m["python_bytes_received"] += int(acc.get("Update", 0))


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span id -> jobs whose submission time falls inside it, choosing
    the innermost (latest-starting) enclosing span. Jobs submitted outside
    every span map to no span. Time containment, not job groups, because
    sink jobs are submitted from worker threads."""
    out: dict[int, list[Job]] = {s.id: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (
                best is None or s.start >= best.start
            ):
                best = s
        if best is not None:
            out[best.id].append(j)
    return out


def covered(lo: float, hi: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(lo, a), min(hi, b)) for a, b in intervals if min(hi, b) > max(lo, a)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span], by_span: dict[int, list[Job]]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its child spans and
    the jobs attributed to it."""
    children: dict[int, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        ivs = [(c.start, c.end) for c in children[s.id]]
        ivs += [(j.submit, j.end) for j in by_span.get(s.id, [])]
        out[s.id] = s.dur - covered(s.start, s.end, ivs)
    return out


def descendants(spans: list[Span], root: int) -> list[Span]:
    """Every span beneath ``root``, in recording order."""
    below, out = {root}, []
    for s in spans:  # parents are always recorded before their children
        if s.parent in below:
            below.add(s.id)
            out.append(s)
    return out


def subtree_jobs(spans: list[Span], by_span: dict[int, list[Job]], root: int) -> list[Job]:
    """Jobs attributed to ``root`` or any span beneath it."""
    ids = [root] + [s.id for s in descendants(spans, root)]
    return [j for sid in ids for j in by_span.get(sid, [])]


def sum_metrics(jobs: list[Job]) -> dict[str, float]:
    total = {k: 0.0 for k in SPARK_METRICS}
    for j in jobs:
        for k, v in j.metrics.items():
            if k == "peak_exec_mem_bytes":
                total[k] = max(total[k], v)
            else:
                total[k] += v
    return total
