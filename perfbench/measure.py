"""In-memory tracing for the traced run, and the /proc sampler that
every run uses for memory and CPU.

Spans are kept in memory and written once, when the run ends. A span
has a name, a start, an end and the id of its parent span; self time is
the span's duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Result:
    """What a workload hands back to run.py."""

    work_s: float = 0.0  # wall time of the workload's unit of work (median)
    work_cpu_s: float = 0.0  # cpu seconds the unit of work took (median)
    setup_s: float = 0.0  # set-up time, session start added by run.py
    attempted: int = 0
    failed: int = 0
    check_failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    trace_extra_s: float = 0.0  # tracing work done inside the timed window

    @property
    def correct(self) -> bool:
        return not self.check_failures and self.failed == 0 and self.attempted > 0


class Tracer:
    """Nested spans, recorded only when enabled; a disabled tracer still
    hands out span contexts so call sites need no branches.

    Spans opened on a thread with no open span of its own (foreachBatch
    callbacks arrive on Py4J callback threads) take the innermost span
    of the main thread as their parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (
                self._main_stack[-1] if self._main_stack else None
            )
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t0
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span, child of the main thread's open span."""
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "id": len(self.spans), "name": name,
                    "parent": self._main_stack[-1] if self._main_stack else None,
                    "start": start, "end": end,
                })

    def _self_by_id(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
            for s in self.spans
            if s["end"] is not None
        }

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over its spans."""
        out: dict[str, float] = {}
        for sid, own in self._self_by_id().items():
            name = self.spans[sid]["name"]
            out[name] = out.get(name, 0.0) + own
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        own = self._self_by_id()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s["id"],
                    "name": s["name"],
                    "parent": s["parent"],
                    "start": round(s["start"] - t0, 6),
                    "end": None if s["end"] is None else round(s["end"] - t0, 6),
                    "self_s": round(own.get(s["id"], 0.0), 6),
                }) + "\n")


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


def tree_pids(root: int) -> list[int]:
    """root and all of its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _proc_sample(pid: int | str) -> tuple[str, int, float] | None:
    """(command, rss bytes, cpu seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, rest = f.read().rsplit(")", 1)
        fields = rest.split()
        comm = head.split("(", 1)[1]
        cpu = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        rss = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        return comm, rss, cpu
    except (OSError, IndexError, ValueError):
        return None


# JVM thread names (as /proc truncates them) of the JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class ProcSampler:
    """Samples RSS and CPU time of this process's tree — this Python
    process, the JVM it launched and the JVM's Python workers — every
    `interval` s, and the cpu of the JVM's JIT compiler threads."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        # pid -> (command, latest cpu seconds); exited pids keep their
        # last sample, so short-lived Python workers still count
        self.cpu: dict[int, tuple[str, float]] = {}
        # "pid/task/tid" -> latest cpu seconds of a JIT compiler thread;
        # the JVM starts and stops these threads as compile load changes
        self.jit: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = 0
        for pid in tree_pids(os.getpid()):
            s = _proc_sample(pid)
            if s is None:
                continue
            comm, rss, cpu = s
            total += rss
            self.cpu[pid] = (comm, cpu)
            if comm == "java":
                self._sample_jit(pid)
        self.peak_rss = max(self.peak_rss, total)

    def _sample_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            key = f"{pid}/task/{tid}"
            t = _proc_sample(key)
            if t is not None and t[0].startswith(JIT_THREADS):
                self.jit[key] = t[2]

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def cpu_now(self) -> float:
        """Cpu seconds of the JVM and the Python workers, sampled now.
        Left out are this Python process, whose polling and sampling
        cost cpu in proportion to wall time, and the JIT compiler
        threads, whose cpu follows the JVM's warm-up: in a run it falls
        by half from one pass of the same queries to the next."""
        self.sample()
        jvm, _jit, py, _total = self.cpu_split()
        return jvm + py

    def cpu_split(self) -> tuple[float, float, float, float]:
        """(JVM without JIT, JIT compiler, Python worker, total) cpu
        seconds so far; this Python process is in the total only."""
        me = os.getpid()
        jit = sum(self.jit.values())
        jvm = sum(c for comm, c in self.cpu.values() if comm == "java") - jit
        py = sum(
            c for pid, (comm, c) in self.cpu.items()
            if pid != me and comm.startswith("python")
        )
        return jvm, jit, py, sum(c for _, c in self.cpu.values())


def proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0
