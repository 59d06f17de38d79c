"""Spark-free measurement helpers: the latency percentile rule, the driver's
peak resident memory, process CPU time, and an in-memory span tracer."""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Latency recorded for an operation that raised or returned a wrong result:
#: it stays in the sample and misses every latency bound.
FAILED_OP_S = 1e9


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """``(value, level)`` of the highest percentile that keeps at least ten
    samples beyond it: the nearest-rank p90 once there are 100 samples,
    the 11th largest sample below that.  With fewer than 21 samples no
    percentile above the median has ten samples beyond it, so the median
    is returned with level 0.5."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return statistics.median(xs), 0.5
    idx = min(math.ceil(0.9 * n) - 1, n - 11)
    return xs[idx], (idx + 1) / n


def reset_peak_rss() -> None:
    """Reset this process's peak RSS (VmHWM) to its current RSS (Linux)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")


def _stat_ticks(path: str) -> tuple[str, int]:
    """``(thread or process name, utime + stime ticks)`` from a Linux
    ``stat`` file."""
    with open(path) as f:
        raw = f.read()
    name, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
    fields = rest.split()
    return name, int(fields[11]) + int(fields[12])


class CpuMeter:
    """CPU seconds used by the processes ``pids``, not counting HotSpot's
    JIT compiler threads: compilation is one-off warm-up work, its timing
    varies from run to run, and in a short run it would outweigh the
    operations themselves.  With steal accounting, time the host gave to
    other tenants is not charged to a process."""

    TICK_S = 1 / os.sysconf("SC_CLK_TCK")

    def __init__(self, pids) -> None:
        self.pids = tuple(pids)

    def read(self) -> tuple[int, dict[str, int]]:
        total, jit = 0, {}
        for pid in self.pids:
            total += _stat_ticks(f"/proc/{pid}/stat")[1]
            for path in glob.glob(f"/proc/{pid}/task/*/stat"):
                try:
                    name, ticks = _stat_ticks(path)
                except OSError:  # the thread ended
                    continue
                if name.startswith(("C1 Compiler", "C2 Compiler")):
                    jit[path] = ticks
        return total, jit

    def since(self, start: tuple[int, dict[str, int]]) -> float:
        """Seconds used since ``start`` (a ``read()``).  A compiler thread
        that ended in between is not subtracted."""
        total0, jit0 = start
        total1, jit1 = self.read()
        jit = sum(t - jit0.get(k, 0) for k, t in jit1.items())
        return (total1 - total0 - jit) * self.TICK_S


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy-or-stolen) CPU ticks so far, summed over all CPUs
    (Linux ``/proc/stat``).  Steal is time a virtual CPU was ready to run
    but its host ran something else."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


@dataclass
class Span:
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = math.nan
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory: name, start, end, parent span index and the
    operation id they belong to, plus counts recorded at the boundary."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, i: int) -> float:
        """Span ``i``'s duration minus the part its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == i
        )
        covered, reach = 0.0, -math.inf
        for start, end in kids:
            start = max(start, reach)
            if end > start:
                covered += end - start
                reach = end
        return self.spans[i].duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                row = asdict(s) | {"id": i, "self": self.self_time(i)}
                f.write(json.dumps(row) + "\n")
