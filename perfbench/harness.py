"""Shared plumbing: Spark session lifetime, host counters and statistics."""

from __future__ import annotations

import os
import resource
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

def process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(") ", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Host-wide CPU steal seconds so far (``/proc/stat``, all CPUs)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a live process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than ten samples lie
    beyond it (too few to report)."""
    n = len(xs)
    if n == 0 or n * (1 - q) < 10:
        return None
    return sorted(xs)[min(n - 1, int(q * n))]


def halves(xs: list[float]) -> list[float] | None:
    """Medians of the first and second half of a timed window's samples;
    a trend between them shows unfinished warm-up."""
    if len(xs) < 4:
        return None
    h = len(xs) // 2
    return [statistics.median(xs[:h]), statistics.median(xs[h:])]


def summary(xs: list[float]) -> dict:
    return {"n": len(xs), "p50": median(xs) if xs else None,
            "p90": percentile(xs, 0.9), "halves": halves(xs)}


@dataclass
class Outcome:
    """What a workload hands back to the entry point."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    #: traced runs: event log -> per-layer metrics, called after Spark stops
    fold: Callable[[dict], dict] | None = None

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(what)


class Session:
    """Owns the Spark session and the driver JVM it runs in."""

    def __init__(self, cores: int, event_log: str | None):
        from kafka_plugins_spark import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        self.start_s = time.monotonic() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        gateway = self.spark.sparkContext._gateway
        self._proc = getattr(gateway, "proc", None)
        self.jvm_pid = self._proc.pid if self._proc is not None else None

    def jvm_peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid)

    def close(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
        finally:
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
                if self._proc is not None:
                    if self._proc.stdin is not None:
                        self._proc.stdin.close()
                    try:
                        self._proc.wait(timeout=60)
                    except Exception:
                        self._proc.kill()
                        self._proc.wait(timeout=30)


def data_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out
