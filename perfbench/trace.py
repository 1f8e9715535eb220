"""Outside-in tracing for the traced benchmark mode.

Spans are recorded around calls into the library's public functions; the
library itself is not instrumented. Each span sets its own Spark job group,
so the Spark event log (written with compression off) can attribute task
metrics -- run, CPU and GC time, input, shuffle write, spill -- to the span
that scheduled them. Spans stay in memory and are written out at the end.

With tracing off, :meth:`Tracer.span` is a no-op context manager, so the
untraced runs execute the same calls without any bookkeeping.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

#: Spark job property the streaming engine sets on every job of a micro-batch.
BATCH_ID_PROPERTY = "streaming.sql.batchId"
#: spans that time the client waiting on the stream thread; the stream's own
#: layers are attributed from its progress reports instead
WAIT_SPANS = frozenset({"streaming.ingest"})


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: "setup", "timed" or "check"; stamped on every span
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time one call into a layer. Yields the span record (or None when
        tracing is off) so the caller can attach counts to it."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"pb-{self.run_id}-{len(self.spans) + len(self._stack)}",
            "phase": self.phase,
            **attrs,
        }
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def coverage(spans: list[dict], start: float, end: float) -> float:
    """Share of ``[start, end]`` covered by the self time of the layer spans
    recorded in it. Wait spans (``WAIT_SPANS``) are left out of both sides:
    they time the client waiting for another thread, not a call into a
    layer, so counting them would cover the window whatever the layers
    did."""
    st = self_times(spans)
    inside = [s for s in spans if s["start"] >= start and s["end"] <= end]
    waits = sum(s["end"] - s["start"] for s in inside if s["name"] in WAIT_SPANS)
    layer_s = sum(st[s["id"]] for s in inside if s["name"] not in WAIT_SPANS)
    return layer_s / max(1e-9, end - start - waits)


def span_stats(spans: list[dict], log: dict, name: str, phase: str | None = None) -> dict:
    """Medians and sums over the spans called ``name`` (optionally of one
    phase), joined with the event-log metrics of their job groups."""
    sel = [s for s in spans if s["name"] == name and (phase is None or s["phase"] == phase)]
    st = self_times(spans)
    groups = [log["groups"].get(s["group"], {}) for s in sel]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    return {
        "n": len(sel),
        "ms": med([(s["end"] - s["start"]) * 1e3 for s in sel]),
        "self_ms": med([st[s["id"]] * 1e3 for s in sel]),
        "cpu_ms": med([g.get("cpu_ms", 0.0) for g in groups]),
        "cpu_ms_total": sum(g.get("cpu_ms", 0.0) for g in groups),
        "jobs": med([s["jobs"] for s in sel]),
        "jobs_total": sum(s["jobs"] for s in sel),
        "records_read": sum(g.get("records_read", 0) for g in groups),
        "bytes_read": sum(g.get("bytes_read", 0) for g in groups),
        "shuffle_write_bytes": sum(g.get("shuffle_write_bytes", 0) for g in groups),
        "spill_bytes": sum(g.get("spill_bytes", 0) for g in groups),
        "rows_in": sum(s.get("rows_in", 0) for s in sel),
        "rows_out": sum(s.get("rows_out", 0) for s in sel),
    }


def read_event_log(log_dir: str) -> dict:
    """Fold Spark task metrics per job group and per micro-batch id.

    Returns ``{"groups": {group: metrics}, "batches": {batch_id: metrics},
    "total": metrics}`` where metrics holds summed task run/CPU/GC ms, input
    records and bytes, shuffle bytes written, spilled bytes, failed tasks
    and the number of jobs.
    """
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
        + [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    )
    stage_owner: dict[int, tuple[str, str | None]] = {}
    groups: dict[str, dict] = defaultdict(_zero)
    batches: dict[str, dict] = defaultdict(_zero)
    total = _zero()
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    owner = (props.get("spark.jobGroup.id"), props.get(BATCH_ID_PROPERTY))
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = owner
                    _bump(total, owner, groups, batches, "jobs", 1)
                elif kind == "SparkListenerTaskEnd":
                    owner = stage_owner.get(ev.get("Stage ID"), (None, None))
                    tm = ev.get("Task Metrics") or {}
                    ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
                    vals = {
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "records_read": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                        "bytes_read": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        "failed_tasks": 0 if ok else 1,
                    }
                    for k, v in vals.items():
                        _bump(total, owner, groups, batches, k, v)
    return {"groups": dict(groups), "batches": dict(batches), "total": total}


def _zero() -> dict:
    return defaultdict(float)


def _bump(total, owner, groups, batches, key, value) -> None:
    group, batch = owner
    total[key] += value
    if group is not None:
        groups[group][key] += value
    if batch is not None:
        batches[str(batch)][key] += value


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for s in spans:
            fh.write(json.dumps(s, default=str) + "\n")
