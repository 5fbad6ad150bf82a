"""Measurement helpers: summary statistics, /proc readers and spans.

Kept free of Spark imports so the unit tests exercise them directly.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- statistics -------------------------------------------------------------

def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least 10 of ``n`` samples
    beyond it, floored at the median when ``n`` < 20 (too few samples for
    any tail; the caller records the sample count next to it)."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100 * (1 - 10 / n) + 1e-9))


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (the `numpy.percentile` default)."""
    xs = sorted(samples)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summarize_ops(samples: dict[str, list[float]]) -> dict:
    """End-to-end op statistics over one run's timed samples (seconds)."""
    flat = [s for xs in samples.values() for s in xs]
    p = tail_percentile(len(flat))
    return {
        "geomean_op_s": geomean([statistics.median(xs) for xs in samples.values()]),
        "op_p50_s": statistics.median(flat),
        "op_tail_s": percentile(flat, p),
        "tail_percentile": p,
        "op_samples": len(flat),
    }


# -- /proc readers ----------------------------------------------------------

def _stat_fields(pid: int, proc: str = "/proc") -> list[str]:
    with open(f"{proc}/{pid}/stat") as f:
        raw = f.read()
    # comm may contain spaces and parentheses: split after the LAST ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, proc: str = "/proc") -> float:
    """utime + stime + cutime + cstime of ``pid`` in seconds. The children
    terms hold every exited child the process has waited for, so summing
    this over the live processes of a tree counts each CPU second once."""
    f = _stat_fields(pid, proc)
    # fields after comm start at index 0 = state; utime is field 14 -> 11
    return sum(int(x) for x in f[11:15]) / _CLK_TCK


def proc_tree(pid: int, proc: str = "/proc") -> list[int]:
    """``pid`` and all of its live descendants, from one scan of ``proc``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            try:
                kids.setdefault(int(_stat_fields(int(entry), proc)[1]), []).append(int(entry))
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, ()))
    return tree


def proc_cmdline(pid: int, proc: str = "/proc") -> str:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_kb(pid: int, proc: str = "/proc") -> int:
    """Peak resident set size (VmHWM) of ``pid`` in KiB; 0 if gone."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_jiffies(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the host ran something else."""
    with open(f"{proc}/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice; guest
    # time is already counted in user and nice
    return fields[7], sum(fields[:8])


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(base, f)) for base, _, files in os.walk(path) for f in files
    )


def tree_cpu_s(pids: list[int], proc: str = "/proc") -> float:
    total = 0.0
    for p in pids:
        try:
            total += proc_cpu_s(p, proc)
        except (OSError, ValueError, IndexError):
            continue  # exited between listing and reading
    return total


# -- spans ------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    id: int = 0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class SpanLog:
    """In-memory span store; written out once when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        s = Span(name, start, end, parent, attrs, id=len(self.spans) + 1)
        self.spans.append(s)
        return s

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = self.add(name, time.perf_counter(), math.nan, parent, **attrs)
        self._stack.append(s.id)
        return s

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.remove(span.id)
