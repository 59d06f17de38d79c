"""Perf instrumentation (reference O25, conecta-core/src/perf_logger.rs +
conecta-python __init__.py:12-43).

The reference exposes wall-clock checkpoints and a peak-memory gauge around
the native load; the Spark analog here is the checkpoint timer for
driver-side phases (no peak-memory gauge).  ``set_debug_log`` mirrors the
reference's env-var switch.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def set_debug_log(mode: str = "all") -> None:
    """Reference API parity (__init__.py:12-43): 'perf' | 'lib' | 'all'."""
    if mode not in ("perf", "lib", "all"):
        raise ValueError(f"mode {mode} does not exist")
    os.environ["CONECTA_SPARK_LOG"] = mode


@dataclass
class PerfLog:
    """Checkpoint timer: ``start`` -> ``checkpoint(label)``* -> ``elapsed``.

    Mirrors perf_start/perf_checkpoint/perf_elapsed (perf_logger.rs:1-112).
    """

    t0: float = field(default_factory=time.perf_counter)
    checkpoints: list[tuple[str, float]] = field(default_factory=list)

    def checkpoint(self, label: str) -> float:
        dt = time.perf_counter() - self.t0
        self.checkpoints.append((label, dt))
        if os.environ.get("CONECTA_SPARK_LOG") in ("perf", "all"):
            print(f"[perf] {label}: {dt:.6f}s")
        return dt

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


@contextmanager
def timed(label: str = "load"):
    """``with timed('read_sql') as log: ...`` -- prints on exit when perf
    logging is enabled."""
    log = PerfLog()
    try:
        yield log
    finally:
        log.checkpoint(label)
