"""Closed loop, span tracer and Spark event-log counters shared by every
workload."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

MASTER = "local[4]"


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# host load
# ---------------------------------------------------------------------------


class LoadSampler:
    """1-minute loadavg before the run and the maximum seen during it,
    sampled every half second from a daemon thread. Recorded only."""

    def __init__(self) -> None:
        self.before = os.getloadavg()[0]
        self.max = self.before
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            self.max = max(self.max, os.getloadavg()[0])

    def close(self) -> dict:
        self._stop.set()
        self._t.join(timeout=5)
        return {"loadavg_1m_before": self.before, "loadavg_1m_max": self.max}


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so the
    Python daemon and workers the Spark JVM forks become its children
    when the JVM exits, and ``reap_children`` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_session(spark) -> None:
    """Stop the Spark session, then the JVM PySpark launched for it, and
    wait until the JVM has exited. ``spark.stop()`` alone leaves the JVM
    running until some time after this process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of file on its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            kids.append(int(d))
    return kids


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every child process, adopted ones included, has ended.
    Children still running after ``grace_s`` get SIGTERM, and SIGKILL
    five seconds later."""
    start = time.monotonic()
    while kids := _children():
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM if waited > grace_s else None
        for pid in kids:
            try:
                if sig is not None:
                    os.kill(pid, sig)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program's layers. Disabled
    tracers record nothing; ``dump`` writes the spans when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield attrs
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append(Span(name, t0, t1, parent, self.run_id, attrs))
            self.bookkeeping_s += time.time() - t1

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by its child spans."""
        kids = sorted(
            (max(s.start, span.start), min(s.end, span.end))
            for s in self.spans
            if s.parent == span.name and s.start >= span.start and s.end <= span.end
        )
        return span.dur - _union_len(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union_len(intervals) -> float:
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


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_conf(path: str) -> dict[str, str]:
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(path),
        "spark.eventLog.compress": "false",
    }


@dataclass
class Task:
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int


class EventLog:
    """Jobs and tasks from a finished session's event log, attributable
    to spans by wall-clock window."""

    def __init__(self, path: str) -> None:
        self.jobs: list[float] = []
        self.tasks: list[Task] = []
        for d, _, files in os.walk(path):
            for fn in sorted(files):
                if not fn.startswith("events_"):
                    continue
                with open(os.path.join(d, fn)) as f:
                    for line in f:
                        self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs.append(ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                Task(
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    failed=bool(info.get("Failed")) or info.get("Killed", False),
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                )
            )

    def counters(self, spans: list[Span]) -> dict[str, float]:
        """Session counters summed over the spans' windows."""
        out = dict.fromkeys(
            ["jobs", "tasks", "tasks_failed", "executor_run_s", "executor_cpu_s",
             "gc_s", "shuffle_write_bytes", "spill_bytes", "no_task_s"], 0.0,
        )
        for sp in spans:
            out["jobs"] += sum(sp.start <= j <= sp.end for j in self.jobs)
            mine = [t for t in self.tasks if sp.start <= t.launch and t.finish <= sp.end + 0.05]
            out["tasks"] += len(mine)
            out["tasks_failed"] += sum(t.failed for t in mine)
            out["executor_run_s"] += sum(t.run_s for t in mine)
            out["executor_cpu_s"] += sum(t.cpu_s for t in mine)
            out["gc_s"] += sum(t.gc_s for t in mine)
            out["shuffle_write_bytes"] += sum(t.shuffle_write for t in mine)
            out["spill_bytes"] += sum(t.spill for t in mine)
            busy = _union_len(
                (max(t.launch, sp.start), min(t.finish, sp.end)) for t in mine
            )
            out["no_task_s"] += sp.dur - busy
        return out


# ---------------------------------------------------------------------------
# closed loop
# ---------------------------------------------------------------------------


@dataclass
class CallResult:
    """One closed-loop call: ``items`` units of work done in ``wall_s``,
    its latency samples (one per call, or one per micro-batch), and the
    output check's ``attempted``/``failed`` operation counts."""

    items: int
    wall_s: float
    latencies: list[float]
    attempted: int
    failed: int


@dataclass
class LoopResult:
    calls: list[CallResult]

    @property
    def attempted(self) -> int:
        return sum(c.attempted for c in self.calls)

    @property
    def failed(self) -> int:
        return sum(c.failed for c in self.calls)

    def latencies(self) -> list[float]:
        return [x for c in self.calls for x in c.latencies]

    def ops_per_s(self) -> float:
        return sum(c.items for c in self.calls) / sum(c.wall_s for c in self.calls)


def closed_loop(call, seconds: float) -> LoopResult:
    """One client: the next call starts when the previous one returned,
    until ``seconds`` have passed (at least one call)."""
    calls: list[CallResult] = []
    deadline = time.perf_counter() + seconds
    while not calls or time.perf_counter() < deadline:
        calls.append(call())
    return LoopResult(calls)
