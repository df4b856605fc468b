"""Traced-run recorder: span tree, py4j round-trip counter and Spark
event-log harvester.

Spans are recorded around calls into the engine's public functions,
from the benchmark's side only. Times are wall-clock epoch seconds so
they line up with the job and task times Spark writes to its event
log. A span's self time is its duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    py4j_start: int = 0
    py4j_end: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
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


class Recorder:
    """Spans kept in memory. One stack serves every thread: the engine
    calls back into Python (``foreachBatch``) only while the main
    thread is blocked inside an open span, so the callback's spans nest
    under it."""

    def __init__(self, clock=time.time) -> None:
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._clock = clock
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(
                Span(name, self._clock(), parent=parent, attrs=attrs,
                     py4j_start=self.py4j_calls)
            )
            self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            with self._lock:
                s = self.spans[idx]
                s.end = self._clock()
                s.py4j_end = self.py4j_calls
                self._stack.remove(idx)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx)]
        return s.duration - covered(kids, s.start, s.end)

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            cur = todo.pop()
            kids = [i for i, s in enumerate(self.spans) if s.parent == cur]
            out.extend(kids)
            todo.extend(kids)
        return out

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a version that records a span per
        call; returns a function that restores the original."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)


def count_py4j(recorder: Recorder):
    """Count the Python->JVM round trips py4j makes while installed.
    Messages that release JVM references are left out: py4j's finalizer
    thread sends them whenever Python's garbage collector runs, so their
    number differs from run to run. Returns a function that uninstalls
    the counter."""
    from py4j import clientserver, java_gateway, protocol

    undo = []
    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        orig = cls.send_command

        def counted(self, command, *args, _orig=orig, **kwargs):
            if not command.startswith(protocol.MEMORY_COMMAND_NAME):
                with recorder._lock:  # callback threads call in too
                    recorder.py4j_calls += 1
            return _orig(self, command, *args, **kwargs)

        cls.send_command = counted
        undo.append((cls, orig))

    def restore():
        for cls, orig in undo:
            cls.send_command = orig

    return restore


# --- event log ------------------------------------------------------------

PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    batch_id: int | None
    start: float
    end: float = 0.0


@dataclass
class Task:
    stage_id: int
    run_s: float
    cpu_s: float
    gc_s: float
    python_s: float
    fetch_wait_s: float
    read_bytes: int
    read_rows: int
    shuffle_write: int
    shuffle_read: int
    spill_disk: int
    output_bytes: int
    failed: bool


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        files = [
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))
        ]
        for path in sorted(files):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            job = Job(
                e["Job ID"],
                props.get("spark.jobGroup.id"),
                int(batch) if batch is not None else None,
                e["Submission Time"] / 1000.0,
            )
            self.jobs[job.job_id] = job
            for sid in e.get("Stage IDs", []):
                self.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            sr = m.get("Shuffle Read Metrics", {})
            python_ms = sum(
                float(a.get("Update") or 0)
                for a in info.get("Accumulables", [])
                if a.get("Name") == PYTHON_RUN_METRIC
            )
            self.tasks.append(Task(
                stage_id=e["Stage ID"],
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                python_s=python_ms / 1000.0,
                fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1000.0,
                read_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                read_rows=m.get("Input Metrics", {}).get("Records Read", 0),
                shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                spill_disk=m.get("Disk Bytes Spilled", 0),
                output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                failed=bool(info.get("Failed")) or e.get("Task End Reason", {}).get("Reason") != "Success",
            ))
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            self.progress.append(e["progress"])

    def select(self, pred) -> tuple[list[Job], list[Task]]:
        """Jobs for which ``pred(job)`` holds, and the tasks they ran."""
        jobs = [j for j in self.jobs.values() if pred(j)]
        ids = {j.job_id for j in jobs}
        tasks = [t for t in self.tasks if self.stage_job.get(t.stage_id) in ids]
        return jobs, tasks


def exec_metrics(jobs: list[Job], tasks: list[Task], cores: int) -> dict:
    """Executor-side layer metrics over one set of jobs and their tasks.
    ``exec.core_util`` is task run time over the core-seconds available
    while any of the jobs ran; ``exec.task_skew`` is max over mean task
    run time per stage, weighted by the stage's run time."""
    job_time = covered([(j.start, j.end) for j in jobs], float("-inf"), float("inf"))
    run = sum(t.run_s for t in tasks)
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(t.run_s)
    skew_num = skew_den = 0.0
    for runs in by_stage.values():
        if len(runs) > 1 and sum(runs) > 0:
            skew_num += max(runs) / statistics.fmean(runs) * sum(runs)
            skew_den += sum(runs)
    return {
        "exec.run_s": run,
        "exec.cpu_s": sum(t.cpu_s for t in tasks),
        "exec.gc_s": sum(t.gc_s for t in tasks),
        "exec.python_s": sum(t.python_s for t in tasks),
        "exec.core_util": run / (cores * job_time) if job_time else 0.0,
        "exec.task_skew": skew_num / skew_den if skew_den else 0.0,
        "exec.failed_tasks": sum(t.failed for t in tasks),
        "io.read_bytes": sum(t.read_bytes for t in tasks),
        "io.read_rows": sum(t.read_rows for t in tasks),
        "shuffle.write_bytes": sum(t.shuffle_write for t in tasks),
        "shuffle.read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle.fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
        "spill.disk_bytes": sum(t.spill_disk for t in tasks),
    }
