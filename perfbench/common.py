"""Shared helpers for the benchmark: statistics, the in-memory span
tracer, host and memory sampling from /proc, and the reduction of a
streaming query's `recentProgress` to per-layer numbers."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager


def median(values):
    values = sorted(values)
    if not values:
        return 0.0
    mid = len(values) // 2
    if len(values) % 2:
        return float(values[mid])
    return (values[mid - 1] + values[mid]) / 2.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = q * (len(values) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least `beyond` samples
    above it, and its value: (percentile, value). With fewer than
    `beyond` + 1 samples no such percentile exists and the maximum is
    returned as the 100th percentile."""
    values = sorted(values)
    n = len(values)
    if n == 0:
        return 100.0, 0.0
    if n <= beyond:
        return 100.0, float(values[-1])
    idx = n - 1 - beyond  # `beyond` samples sit strictly above this one
    return 100.0 * (idx + 1) / n, float(values[idx])


def another_fits(started: float, done: int, window_s: float) -> bool:
    """Whether one more unit of closed-loop work, at the mean pace of the
    `done` units since `started`, is expected to end inside the window.
    The first unit always runs."""
    if done == 0:
        return True
    return (time.perf_counter() - started) * (done + 1) / done <= window_s


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent,
    request id); spans of one request share the request id. Disabled
    tracers record nothing and cost one attribute check per call, so
    the untraced run measures the same code path."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, request=None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, request))

    def durations_ms(self, name: str) -> list[float]:
        return [(s[3] - s[2]) * 1e3 for s in self.spans if s[1] == name]

    def per_span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of recording one span on this host."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for i in range(n):
            with probe.span("probe", i):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s[0], "name": s[1], "start": s[2], "end": s[3],
                         "parent": s[4], "request": s[5]}
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
            )


def host_sample() -> dict:
    """1-minute load and the aggregate /proc/stat cpu counters."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {
        "load1": load1,
        "total": sum(v),
        "idle": v[3] + v[4],
        "steal": v[7] if len(v) > 7 else 0,
    }


def host_metrics(start: dict, end: dict) -> dict:
    total = max(1, end["total"] - start["total"])
    return {
        "host.load1": end["load1"],
        "host.cpu_busy_frac": 1.0 - (end["idle"] - start["idle"]) / total,
        "host.steal_frac": (end["steal"] - start["steal"]) / total,
    }


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def progress_metrics(name: str, progress: list[dict]) -> dict:
    """Per-query numbers from StreamingQuery.recentProgress: planning
    of the next offsets (the segment parse), the foreachBatch body,
    the offset-log and commit-log writes, and batch sizes."""
    rows = [p.get("numInputRows", 0) for p in progress]
    full = [p for p, r in zip(progress, rows) if r > 0]

    def p50(key_fn):
        return median([key_fn(p["durationMs"]) for p in full])

    return {
        f"stream.{name}.latest_offset_ms_p50": p50(lambda d: d.get("latestOffset", 0)),
        f"stream.{name}.add_batch_ms_p50": p50(lambda d: d.get("addBatch", 0)),
        f"stream.{name}.commit_ms_p50": p50(
            lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)
        ),
        f"stream.{name}.batches": len(full),
        f"stream.{name}.empty_batches": len(progress) - len(full),
        f"stream.{name}.rows_per_batch_p50": median([r for r in rows if r > 0]),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
