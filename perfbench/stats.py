"""Measurement helpers: summary statistics, the host control probe, the
process-tree peak-RSS sampler and in-memory spans with self time.

Nothing here imports Spark, so the helpers are unit-testable on their own
(see ``perfbench/tests``).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

# Ladder of percentiles ``tail_percentile`` may pick from.
_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1] (NumPy's default)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile that leaves at least ``MIN_BEYOND`` of
    ``n`` samples above it, or None when even the median does not."""
    best = None
    for p in _LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    return best


def tail(values) -> tuple[float, float | None]:
    """(value, percentile) of the tail rule; the value falls back to the
    maximum, with percentile None, when too few samples exist."""
    p = tail_percentile(len(values))
    if p is None:
        return (max(values) if values else 0.0), None
    return quantile(values, p / 100.0), p


def iqr_share(values) -> float:
    """Interquartile distance as a share of the median, with the quartiles
    of ``statistics.quantiles(values, n=4)``."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


PROBE_STEPS = 200_000


def host_probe_ms() -> float:
    """Wall time of a fixed single-thread integer kernel. It touches no
    program code, so its drift between runs is the host's, not ours."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(PROBE_STEPS):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    elapsed = (time.perf_counter() - t0) * 1e3
    if acc < 0:  # keeps the loop's result live
        raise AssertionError
    return elapsed


# ---------------------------------------------------------------------------
# process-tree peak RSS from /proc
# ---------------------------------------------------------------------------
def read_status(pid: int, proc: str = "/proc") -> dict | None:
    """``{name, ppid, hwm_kb}`` of one process, None if it is gone.
    ``hwm_kb`` is VmHWM, the peak resident set the kernel tracks for the
    process, so it does not depend on when it is read."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            lines = f.read().splitlines()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    out = {"name": "", "ppid": 0, "hwm_kb": 0}
    for line in lines:
        key, _, val = line.partition(":")
        if key == "Name":
            out["name"] = val.strip()
        elif key == "PPid":
            out["ppid"] = int(val)
        elif key == "VmHWM":
            out["hwm_kb"] = int(val.split()[0])
    return out


def _cmdline(pid: int, proc: str) -> str:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def classify(pid: int, root: int, name: str, cmdline: str) -> str:
    if pid == root:
        return "driver"
    if name == "java" or "java" in cmdline.split(" ", 1)[0]:
        return "jvm"
    return "workers"


def reset_own_peak() -> None:
    """Lower this process's VmHWM to its current RSS (``clear_refs`` 5),
    so work done before the measured part does not count as its peak."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


@dataclass
class RssSampler:
    """Reads the peak resident memory of a process tree at the caller's
    chosen boundaries (no background thread). Each process's peak is its
    own VmHWM, so peaks between reads are not missed; the tree's peak is
    the largest sum of the live processes' peaks seen at one read, split
    into the driver interpreter, the JVM and everything else under them
    (Python workers, daemons). Processes that peak at different moments
    make the sum an upper bound of the tree's simultaneous peak."""

    root: int = field(default_factory=os.getpid)
    proc: str = "/proc"
    peak_mb: float = 0.0
    peak_split: dict = field(default_factory=dict)
    samples: int = 0

    def tree(self) -> dict[int, dict]:
        procs = {}
        for entry in os.listdir(self.proc):
            if entry.isdigit():
                st = read_status(int(entry), self.proc)
                if st is not None:
                    procs[int(entry)] = st
        keep = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, st in procs.items():
                if pid not in keep and st["ppid"] in keep:
                    keep.add(pid)
                    grew = True
        return {pid: procs[pid] for pid in keep if pid in procs}

    def sample(self) -> float:
        split = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid, st in self.tree().items():
            role = classify(pid, self.root, st["name"], _cmdline(pid, self.proc))
            split[role] += st["hwm_kb"] / 1024.0
        total = sum(split.values())
        self.samples += 1
        if total > self.peak_mb:
            self.peak_mb = total
            self.peak_split = split
        return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    sid: int


class Tracer:
    """In-memory spans: ``with tracer.span(name, op_id):`` records one
    span whose parent is the innermost open span."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[int] = []

    def span(self, name: str, op_id: int):
        return _SpanCtx(self, name, op_id)

    def dump(self) -> list[dict]:
        return [s.__dict__.copy() for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int):
        self.t, self.name, self.op_id = tracer, name, op_id

    def __enter__(self):
        t = self.t
        parent = t._open[-1] if t._open else None
        self.sid = len(t.spans)
        t.spans.append(Span(self.name, t.clock(), 0.0, parent, self.op_id, self.sid))
        t._open.append(self.sid)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.sid].end = t.clock()
        t._open.pop()
        return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.sid, [])
            if b > s.start and a < s.end
        ]
        out[s.sid] = (s.end - s.start) - _covered(kids)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.sid]
    return out
