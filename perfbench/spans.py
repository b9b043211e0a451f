"""Span recorder and Spark event-log reader for the layered benchmark.

Both measure the engine from outside: the recorder wraps public entry
points of the package's modules at run time (the package itself is not
edited), and the event-log reader attributes Spark jobs and tasks to the
benchmark's ops by time window. Job groups are not used for attribution
because the library's ``lineage.run_tasks`` pool threads do not inherit
the caller's job group; the client is single-threaded, so op windows
never overlap and a window identifies its jobs exactly.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds, comparable with Spark's epoch ms
    end: float
    parent: int | None  # index into Recorder.spans
    trace_id: int  # the op this span belongs to (-1: outside any op)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


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


class Recorder:
    """In-memory span recorder.

    A span's parent is the innermost open span on the same thread; a
    span opened on a library pool thread (no open span there) is
    parented to the op span in progress, since only the op's own calls
    run while it is open. Spans stay in memory until the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the recorder's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._trace_id = -1
        self._patched: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        sp = Span(name, time.time(), 0.0, parent, self._trace_id)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; yields the span's counts dict
        (or a throwaway dict when tracing is off)."""
        if not self.enabled:
            yield {}
            return
        idx = self._open(name)
        try:
            yield self.spans[idx].counts
        finally:
            self._close(idx)

    @contextlib.contextmanager
    def op(self, kind: str):
        """A top-level benchmark op: a new trace id, and the parent of
        every span opened while it runs."""
        if not self.enabled:
            yield {}
            return
        self._trace_id += 1
        idx = self._open(kind)
        self._op = idx
        try:
            yield self.spans[idx].counts
        finally:
            self._op = None
            self._close(idx)

    # --------------------------------------------------------- wrapping

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_call: Callable[[dict, tuple, dict, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``on_call``
        receives (counts, args, kwargs, result) to add counts to the
        span. No-op when tracing is off."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        rec = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            idx = rec._open(name)
            t1 = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                rec._close(idx)
            if on_call is not None:
                on_call(rec.spans[idx].counts, args, kwargs, result)
            with rec._lock:
                rec.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            return result

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # --------------------------------------------------------- analysis

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it covered by child spans."""
        sp = self.spans[idx]
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == idx and c.end > c.start
        ]
        return sp.duration - _union_length([k for k in kids if k[1] > k[0]])

    def in_window(self, t0: float, t1: float) -> list[int]:
        """Indices of the closed spans inside [t0, t1]."""
        return [i for i, s in enumerate(self.spans) if t0 <= s.start and 0 < s.end <= t1]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (name, start, end, parent,
        trace id, counts)."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "trace_id": s.trace_id,
                            "counts": s.counts,
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------------ event log


@dataclass
class TaskRec:
    launch: float  # seconds since epoch
    finish: float
    run_s: float
    sched_delay_s: float
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: list[tuple[float, float]]  # (submit, complete) seconds
    tasks: list[TaskRec]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (single, uncompressed) Spark event log in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    job_start: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    tasks: list[TaskRec] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd":
                s = job_start.pop(ev["Job ID"], None)
                if s is not None:
                    jobs.append((s, ev["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                launch, finish = info["Launch Time"] / 1000, info["Finish Time"] / 1000
                run_ms = m.get("Executor Run Time", 0)
                # the Spark UI's scheduler delay: wall minus everything
                # the executor accounts for
                other_ms = (
                    run_ms
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0)
                )
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    TaskRec(
                        launch=launch,
                        finish=finish,
                        run_s=run_ms / 1000,
                        sched_delay_s=max(0.0, (finish - launch) - other_ms / 1000),
                        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                        spill_bytes=int(
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        ),
                    )
                )
    return EventLog(jobs, tasks)


SPARK_METRICS = (
    "jobs",
    "tasks",
    "task_s",
    "scheduler_delay_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "occupancy",
    "driver_gap_s",
)


def spark_phase(log: EventLog, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Spark work inside one op window [t0, t1]: jobs submitted in it,
    tasks launched in it, task-seconds over (wall x cores), and the
    window time during which no task was running (driver-only time)."""
    tasks = [t for t in log.tasks if t0 <= t.launch <= t1]
    busy = [(max(t.launch, t0), min(t.finish, t1)) for t in tasks]
    wall = max(t1 - t0, 1e-9)
    task_s = sum(t.finish - t.launch for t in tasks)
    return {
        "jobs": float(sum(1 for s, _ in log.jobs if t0 <= s <= t1)),
        "tasks": float(len(tasks)),
        "task_s": task_s,
        "scheduler_delay_s": sum(t.sched_delay_s for t in tasks),
        "shuffle_write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "occupancy": task_s / (wall * cores),
        "driver_gap_s": wall - _union_length([b for b in busy if b[1] > b[0]]),
    }


def spark_phases_by_op(
    log: EventLog, windows: dict[str, list[tuple[float, float]]], cores: int
) -> dict[str, float]:
    """``spark.<op>.<metric>``: the median over the op's instances."""
    out: dict[str, float] = {}
    for op, wins in windows.items():
        per = [spark_phase(log, a, b, cores) for a, b in wins]
        for m in SPARK_METRICS:
            out[f"spark.{op}.{m}"] = (
                statistics.median(p[m] for p in per) if per else 0.0
            )
    return out
