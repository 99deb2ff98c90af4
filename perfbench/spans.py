"""Spans and counts recorded from outside the program.

A span is (name, start, end, parent, request id), kept in memory and
written out when the run ends. Spark-side counts come from Spark's
public status tracker (jobs, stages and tasks of a job group) and from
a StreamingQueryListener (micro-batches, input rows, trigger and
state-store commit time). Used only in traced runs.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside
    another records it as its parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str):
        rec = {
            "name": name,
            "request": request,
            "parent": self._open[-1]["name"] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def dump(self, path: str, counts: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": counts}, fh)


class JobGroup:
    """Tags the jobs the calling thread submits with a job group and
    counts them, with their stages and completed tasks, through
    ``statusTracker``."""

    def __init__(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def tagged(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str, wait_s: float = 2.0) -> dict:
        """Jobs, stages that ran tasks, and completed tasks of a group.
        Waits (bounded) for the status store to see every job finish,
        since listener events arrive asynchronously."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + wait_s
        while True:
            jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
            done = all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs)
            if done or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        stages = tasks = 0
        for job in jobs:
            for sid in job.stageIds if job is not None else ():
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    stages += 1
                    tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class StreamCounter(StreamingQueryListener):
    """Collects every micro-batch progress of the session's streaming
    queries. Stream drains run under the stream's own job group, so this
    is where their work is counted."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def mark(self) -> int:
        """Drop the progress seen so far; return the count of
        terminated queries, to pass to ``take``."""
        with self._lock:
            self.progress = []
            return self.terminated

    def take(self, mark: int, wait_s: float = 5.0) -> list[dict]:
        """Progress records since ``mark``, after waiting (bounded) for
        a query started after it to terminate."""
        deadline = time.perf_counter() + wait_s
        while self.terminated <= mark and time.perf_counter() < deadline:
            time.sleep(0.01)
        with self._lock:
            out, self.progress = self.progress, []
        return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
