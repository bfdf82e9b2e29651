"""Spans kept in memory, self time, and CPU / memory of the process tree.

A span is ``(name, start, end, parent, op)``: times are ``time.time()``
seconds so they line up with the Spark REST timestamps, ``parent`` is the
index of the enclosing span (-1 for a root) and ``op`` the id of the
operation the span belongs to. Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    op: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int, op: str) -> int:
        """Record a span measured elsewhere (a Spark job from the REST API)."""
        self.spans.append(Span(name, start, end, parent, op))
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(i, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append(s.end - s.start - covered)
        return out

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, t in zip(self.spans, self.self_times()):
            out[s.name] = out.get(s.name, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        """Write one JSON object per span, with its self time, then a summary."""
        with open(path, "w") as f:
            for s, t in zip(self.spans, self.self_times()):
                f.write(json.dumps({**asdict(s), "self": t}) + "\n")
            f.write(json.dumps({"self_time_by_name": self.self_time_by_name()}) + "\n")


# -- process tree ------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree: the JVM, the Python
    workers, and (through cutime/cstime) every child that already exited."""
    total = 0.0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total


def tree_hwm_mib() -> float:
    """Sum of the peak resident set (VmHWM) over the live process tree."""
    kib = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024.0
