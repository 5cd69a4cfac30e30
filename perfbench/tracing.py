"""Spans, self times, the tail-percentile rule and a process-tree RSS sampler.

Spans are kept in memory by a ``Tracer`` and analysed when the run ends.
A span's self time is its duration minus the part of its interval that
its child spans cover.  Layers are traced from outside: ``wrap_attr``
replaces a module attribute with a timing wrapper, so every caller that
looks the function up through that module is traced.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: int


@dataclass
class Tracer:
    """In-memory span recorder for one thread of control."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next: int = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        trace = self.spans[parent].trace if parent is not None else sid
        span = Span(sid, name, time.perf_counter(), math.nan, parent, trace)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.perf_counter()


@dataclass
class Recorder:
    """Times each op: its wall, the CPU seconds of this process tree, its
    span, and its wall-clock window (to match Spark's SQL executions)."""

    tracer: Tracer
    samples: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)
    windows: list[tuple[str, int, int]] = field(default_factory=list)
    attempted: int = 0

    def op(self, name: str, fn):
        c0 = tree_cpu_s(os.getpid())
        t_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        with self.tracer.span(name):
            result = fn()
        wall = time.perf_counter() - t0
        t_end = int(time.time() * 1000) + 1
        self.attempted += 1
        self.samples.setdefault(name, []).append(wall)
        self.cpu.setdefault(name, []).append(tree_cpu_s(os.getpid()) - c0)
        self.windows.append((name, t_ms, t_end))
        return result

    def pass_cpu_s(self, passes: int, ops=None) -> float:
        """Mean CPU seconds of one pass's ops (all, or those in ``ops``)."""
        return sum(sum(v) for k, v in self.cpu.items() if ops is None or k in ops) / passes


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error (standard output is the report),
    stamped with the seconds since the benchmark started."""
    print(f"perfbench: [{time.perf_counter() - _T0:5.1f}s] {msg}", file=sys.stderr, flush=True)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def self_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.sid]
    return out


def count_by_name(spans: list[Span], parent_name: str | None = None) -> dict[str, int]:
    """Span counts per name; with ``parent_name``, only spans whose
    direct parent has that name."""
    names = {s.sid: s.name for s in spans}
    out: dict[str, int] = {}
    for s in spans:
        if parent_name is None or (s.parent is not None and names[s.parent] == parent_name):
            out[s.name] = out.get(s.name, 0) + 1
    return out


def inclusive_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed durations per name, counting nested same-name spans once."""
    names = {s.sid: s.name for s in spans}
    parents = {s.sid: s.parent for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        p = s.parent
        nested = False
        while p is not None:
            if names[p] == s.name:
                nested = True
                break
            p = parents[p]
        if not nested:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


@contextlib.contextmanager
def wrap_attr(tracer: Tracer, module, attr: str, name: str, calls: dict | None = None):
    """Trace every call made through ``module.attr`` for the duration;
    with ``calls``, also count them under ``"<module>.<attr>"``."""
    orig = getattr(module, attr)
    key = f"{module.__name__}.{attr}"
    if calls is not None:
        calls.setdefault(key, 0)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        if calls is not None:
            calls[key] += 1
        with tracer.span(name):
            return orig(*args, **kwargs)

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def tail_percentile(samples: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n) for the highest percentile that still has
    at least ten samples beyond it, by nearest rank; None below 11
    samples, where no such percentile exists."""
    n = len(samples)
    k = n - 10
    if k < 1:
        return None
    ordered = sorted(samples)
    return 100.0 * k / n, ordered[k - 1], n


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), read from /proc on a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def _sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def _stat_fields(path: str) -> list[bytes] | None:
    """The fields of a /proc stat file that follow the command name."""
    try:
        with open(path, "rb") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after ')'
    return stat[stat.rfind(b")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, counting descendants that already exited through the
    parent that reaped them."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of proc(5)
            total += sum(int(f) for f in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> set[int]:
    """``root`` and every live descendant process, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        fields = _stat_fields(f"/proc/{entry}/stat") if entry.isdigit() else None
        if fields is not None:
            parent[int(entry)] = int(fields[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree
