"""Spark-free measurement helpers: order statistics, spans with self time,
and a peak-RSS sampler for the process tree."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it:
    the sample at ascending rank ``n - beyond - 1``, with its percentile.
    With ``beyond`` samples or fewer no percentile qualifies, so the
    largest sample stands in and the percentile reads 100."""
    s = sorted(xs)
    if not s:
        raise ValueError("tail of no samples")
    k = len(s) - beyond - 1
    if k < 0:
        return s[-1], 100.0
    return s[k], 100.0 * (k + 1) / len(s)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    id: int = 0


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals, so overlapping children count once."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Tracer:
    """In-memory spans around calls into each layer; written out when the
    run ends. A span's parent is the innermost open span of the same
    thread."""

    spans: list[Span] = field(default_factory=list)
    _stack: threading.local = field(default_factory=threading.local)

    def span(self, name: str, op: str = ""):
        return _SpanCtx(self, name, op)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover, each child
        clipped to the parent's interval."""
        kids = [
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.id and c.end > span.start and c.start < span.end
        ]
        return (span.end - span.start) - covered(kids)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self) -> Span:
        stack = getattr(self.tracer._stack, "ids", None)
        if stack is None:
            stack = self.tracer._stack.ids = []
        sp = Span(
            self.name,
            time.perf_counter(),
            0.0,
            stack[-1] if stack else None,
            self.op,
            id=len(self.tracer.spans) + 1,
        )
        self.tracer.spans.append(sp)
        stack.append(sp.id)
        self.sp = sp
        return sp

    def __exit__(self, *exc) -> None:
        self.sp.end = time.perf_counter()
        self.tracer._stack.ids.pop()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (JVM, Python
    workers), from /proc."""
    kids = _children()
    todo, total = [root], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak`` holds
    the largest sample seen between start() and stop()."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
