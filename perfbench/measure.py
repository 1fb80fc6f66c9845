"""Pure measurement helpers: order statistics, spans with self time, and an
RSS sampler. Nothing here imports Spark, so the tests run
without a JVM."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    statistics.quantiles(values, n=4) — the run-to-run spread rule the
    benchmark is held to."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: int = 0
    diagnostic: bool = False  # extra work the product path does not do
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. `hooks` is an optional object with enter(name) and
    exit(name) -> dict methods, called at each span boundary; what exit
    returns is merged into the span's counts (the Spark job/task counts)."""

    def __init__(self, hooks=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._hooks = hooks
        self._clock = clock
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    @contextmanager
    def span(self, name: str, diagnostic: bool = False):
        parent = self._stack[-1] if self._stack else None
        if self._hooks is not None:
            self._hooks.enter(name)
        s = Span(name, self._clock(), parent=parent, trace_id=self.trace_id,
                 diagnostic=diagnostic)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if self._hooks is not None:
                s.counts.update(self._hooks.exit(name))

    def self_times(self) -> list[float]:
        """Per span: its duration minus the union of its children's
        intervals (children of one parent never overlap here, but the
        union keeps the rule right if they did)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append(s.duration - covered)
        return out

    def by_name(self, trace_id: int | None = None) -> dict[str, list[tuple[Span, float]]]:
        """name -> [(span, self_time)] for one trace (all traces if None)."""
        out: dict[str, list[tuple[Span, float]]] = {}
        for s, st in zip(self.spans, self.self_times()):
            if trace_id is None or s.trace_id == trace_id:
                out.setdefault(s.name, []).append((s, st))
        return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss_bytes(pids: list[int]) -> int:
    """Summed resident set of `pids`; a process that has exited counts 0."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of `pids` (the Python driver and the Spark
    JVM it launched) every 50 ms while active; `peak` holds the largest
    sample. The PySpark daemon and its Python workers are not counted:
    they come and go, and counting them gave per_object's peak a
    (Q3-Q1)/median of 0.78 over five runs."""

    interval = 0.05

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self.peak = rss_bytes(self.pids)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.pids))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds: user + system, plus the user and
    system time of its children that have exited and been waited for)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]) / tick)
    return out


def tree_cpu_seconds(roots: list[int], table: dict[int, tuple[int, float]] | None = None) -> float:
    """CPU seconds of the processes in `roots` and all their descendants
    (the Spark JVM's PySpark daemon and workers). A worker that exits is
    still counted: its time moves into its parent's children's time."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [p for p in roots if p in table]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(kids.get(pid, []))
    return sum(table[p][1] for p in seen)


def jit_cpu_seconds(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads (C1 and C2). They must
    not come and go (-XX:-UseDynamicNumberOfCompilerThreads): the time of
    an exited thread is no longer listed on its own."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1:stat.rindex(")")], stat.rsplit(")", 1)[1]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = rest.split()
            total += int(f[11]) + int(f[12])
    return total / tick


class CpuSteal:
    """Share of the host's CPU time stolen by other guests while active,
    from /proc/stat: a diagnostic for runs slowed by neighbours."""

    def __enter__(self) -> "CpuSteal":
        self._start = _cpu_times()
        self._end: list[int] | None = None
        return self

    def __exit__(self, *exc) -> None:
        self._end = _cpu_times()

    def share(self) -> float:
        delta = [b - a for a, b in zip(self._start, self._end or _cpu_times())]
        return delta[7] / max(1, sum(delta))
