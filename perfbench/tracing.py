"""Spans around the benchmark's calls into the program, and a reader for
Spark's event log that attributes jobs, stages and tasks to those spans.

A span is (name, id, parent, start, end, run).  While a span is open its id
is the Spark job group of the calling thread, so every job that thread
submits is tagged with it in the event log.  Jobs from threads that do not
carry the group (the crawl engine's table-write pool) are attributed by
time to the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    id: str
    parent: str | None
    start: float
    end: float = 0.0
    run: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. Disabled tracers cost one attribute check."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            f"{self.run_id}.{len(self.spans)}",
            parent.id if parent else None,
            time.time(),
            run=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(GROUP_PROP, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, parent.id if parent else None)

    def dump(self) -> list[dict]:
        return [s.__dict__ | {"dur": s.dur} for s in self.spans]


# -- event log ----------------------------------------------------------------
@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    in_rows: int
    out_bytes: int
    shuffle_bytes: int
    spill_bytes: int
    py_sent: int
    py_recv: int
    py_ms: int

    @property
    def dur_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Execution:
    """A SQL execution and the file bytes its scans read (a driver-side
    metric, posted outside the task metrics)."""

    id: int
    group: str | None
    submit_ms: int
    files_bytes: int = 0


_PY_ACC = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to run Python workers": "py_ms",
}


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir`` (plain or
    rolling v2 layout), in file order."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    events = []
    for f in files:
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def parse_events(events: list[dict]) -> list[Job | Execution]:
    """Jobs with their tasks, and SQL executions with their scanned file
    bytes, from the events of one application."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, Execution] = {}
    acc_names: dict[int, str] = {}
    for e in events:
        kind = e.get("Event", "").rsplit(".", 1)[-1]
        if "sparkPlanInfo" in e:  # execution start and adaptive re-plans
            _plan_metric_names(e["sparkPlanInfo"], acc_names)
        if kind == "SparkListenerSQLExecutionStart":
            x = Execution(e["executionId"], e.get("jobGroupId"), e["time"])
            execs[x.id] = x
        elif kind == "SparkListenerDriverAccumUpdates" and e["executionId"] in execs:
            execs[e["executionId"]].files_bytes += sum(
                int(v) for a, v in e["accumUpdates"] if acc_names.get(a) == "size of files read"
            )
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(e["Job ID"], props.get(GROUP_PROP), e["Submission Time"])
            j.stages = list(e.get("Stage IDs", []))
            jobs[j.id] = j
            for s in j.stages:
                stage_job[s] = j.id
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            acc = {
                _PY_ACC[a["Name"]]: int(a.get("Update", 0))
                for a in info.get("Accumulables", [])
                if a.get("Name") in _PY_ACC
            }
            inp = m.get("Input Metrics", {})
            jobs[jid].tasks.append(
                Task(
                    stage=e["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    in_rows=inp.get("Records Read", 0),
                    out_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                    shuffle_bytes=m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                    py_sent=acc.get("py_sent", 0),
                    py_recv=acc.get("py_recv", 0),
                    py_ms=acc.get("py_ms", 0),
                )
            )
    return [*jobs.values(), *execs.values()]


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metric_names(c, out)


def attribute(items: list[Job | Execution], spans: list[Span]) -> dict[str, list]:
    """span id -> the jobs and executions it submitted: by job group when
    the item carries one of our span ids, else by time to the innermost
    open span."""
    by_id = {s.id: s for s in spans}
    out: dict[str, list] = {s.id: [] for s in spans}
    for j in items:
        if j.group in by_id:
            out[j.group].append(j)
            continue
        t = j.submit_ms / 1000.0
        open_ = [s for s in spans if s.start <= t <= s.end]
        if open_:
            out[max(open_, key=lambda s: s.start).id].append(j)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[str | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s.id, [])
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span name → summed self time: duration minus the part of it that
    child spans cover."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_len([(c.start, c.end) for c in kids.get(s.id, [])])
        out[s.name] = out.get(s.name, 0.0) + s.dur - covered
    return out


def _union_len(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(iv):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Usage:
    """Spark work done inside a set of spans."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    job_cover_s: float = 0.0  # wall time during which at least one job ran
    scan_rows: int = 0
    scan_bytes: int = 0  # file bytes the scans read
    scan_tasks: int = 0
    scan_skew: float = 0.0  # median over scan stages of max/median task time
    out_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_sent: int = 0
    py_recv: int = 0
    py_rows: int = 0  # scanned rows of tasks that crossed into Python
    py_s: float = 0.0


def usage(items: list[Job | Execution], spans: list[Span]) -> Usage:
    jobs = [j for j in items if isinstance(j, Job)]
    u = Usage(jobs=len(jobs), scan_bytes=sum(x.files_bytes for x in items if isinstance(x, Execution)))
    stages: dict[int, list[Task]] = {}
    for j in jobs:
        for t in j.tasks:
            stages.setdefault(t.stage, []).append(t)
    u.stages = len(stages)
    tasks = [t for ts in stages.values() for t in ts]
    u.tasks = len(tasks)
    u.task_s = sum(t.run_ms for t in tasks) / 1000.0
    u.gc_s = sum(t.gc_ms for t in tasks) / 1000.0
    # clip job intervals to the spans so a job outliving its span is not
    # counted past the span's end
    iv = []
    for j in jobs:
        a, b = j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0
        for s in spans:
            lo, hi = max(a, s.start), min(b, s.end)
            if hi > lo:
                iv.append((lo, hi))
    u.job_cover_s = _union_len(iv)
    skews = []
    for ts in stages.values():
        scan = [t for t in ts if t.in_rows > 0]
        if scan:
            u.scan_tasks += len(scan)
            med = statistics.median(t.dur_ms for t in scan)
            skews.append(max(t.dur_ms for t in scan) / max(med, 1))
    u.scan_skew = statistics.median(skews) if skews else 0.0
    for t in tasks:
        u.scan_rows += t.in_rows
        u.out_bytes += t.out_bytes
        u.shuffle_bytes += t.shuffle_bytes
        u.spill_bytes += t.spill_bytes
        u.py_sent += t.py_sent
        u.py_recv += t.py_recv
        if t.py_sent:
            u.py_rows += t.in_rows
        u.py_s += t.py_ms / 1000.0
    return u
