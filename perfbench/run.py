"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 15 --trace 0

Runs one workload in this fresh process against the library in the
checkout that holds this file, checks its outputs against oracles, and
prints as its last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics listed in ``BENCHMARK.json``; ``--trace 1`` reports its
per-layer metrics from spans and the Spark event log. The line before it is
a ``{"detail": ...}`` record with sample counts, half-window medians and host
counters; both are also written under ``.perfbench/results/``.

All scratch data lives in a per-run directory under ``.perfbench/tmp/`` in
the checkout, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
#: free space the scratch dir must have before a run starts
MIN_FREE_BYTES = 3 << 30
#: driver JVM heap (``SPARK_DRIVER_MEM``). Under the session factory's
#: 64 GB default, and under a 2 GB ceiling that some runs stop short of, G1
#: sizes the heap by its pause timing, which host load moves: over 6-10 runs
#: per workload the peak RSS spread (interquartile range over median) 0.19
#: to 0.27 by default and 0.16 to 0.20 at 2 GB. Every run fills a 1 GB heap,
#: so ``peak_rss_mb`` tracks the program; heap pressure beyond it shows as
#: GC time in the latency metrics and in the traced ``lake.gc_ms``.
DRIVER_MEMORY = "1g"


class Context:
    """What a workload gets: the session, the tracer, its scratch dir and
    the run parameters, plus hooks that mark the timed window."""

    def __init__(self, session, tracer, work: str, seed: int, seconds: int):
        self.spark, self.tracer = session.spark, tracer
        self.work, self.seed, self.seconds = work, seed, seconds
        self.gen_s = 0.0
        self.timed_start = self.timed_end = None
        self.steal = 0.0
        #: workload-specific set-up phases, seconds, for the detail record
        self.setup_parts: dict[str, float] = {}
        self._closers: list = []

    def mark_timed_start(self) -> None:
        from perfbench.harness import process_age_s, steal_s

        self.setup_age = process_age_s()
        self.timed_start = time.monotonic()
        self._steal0 = steal_s()
        self.tracer.phase = "timed"

    def mark_timed_end(self) -> None:
        from perfbench.harness import steal_s

        self.timed_end = time.monotonic()
        self.steal = steal_s() - self._steal0
        self.tracer.phase = "check"

    def on_close(self, fn) -> None:
        self._closers.append(fn)

    def close(self) -> None:
        while self._closers:
            self._closers.pop()()


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="Spark local[k] task slots")
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside its scratch dir."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM the run starts, including spark-submit's launcher: no
    # hsperfdata file, temp files in the scratch dir
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()


def _import_library() -> None:
    """Import the library from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import kafka_plugins_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(kafka_plugins_spark.__file__))) != ROOT:
        raise ImportError(f"kafka_plugins_spark imported from {kafka_plugins_spark.__file__}")


def main(argv=None) -> int:
    args = _args(argv)
    # SIGTERM unwinds like an exception, so the stream, Spark and the scratch
    # dir are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    _import_library()
    from perfbench import cdc, curate
    from perfbench.harness import Session, python_peak_rss_mb
    from perfbench.trace import Tracer, coverage, read_event_log, write_spans

    os.makedirs(os.path.join(WORK_ROOT, "tmp"), exist_ok=True)
    st = os.statvfs(WORK_ROOT)
    if st.f_bavail * st.f_frsize < MIN_FREE_BYTES:
        raise SystemExit(f"less than {MIN_FREE_BYTES >> 30} GiB free under {WORK_ROOT}")
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK_ROOT, "tmp"))
    run_id = os.path.basename(work)
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        _prepare_env(work)
        session = Session(args.cores, event_log)
        ctx = Context(session, Tracer(session.spark, bool(args.trace), run_id),
                      work, args.seed, args.seconds)
        try:
            outcome = {"cdc": cdc, "curate": curate}[args.workload].run(ctx)
            ctx.close()
            if ctx.timed_start is None:
                outcome.fail("the run never reached its timed window")
            peak_rss = session.jvm_peak_rss_mb() + python_peak_rss_mb()
        finally:
            try:
                ctx.close()
            finally:
                session.close()
        spans = ctx.tracer.spans
        log = read_event_log(event_log) if args.trace else None
        layers = outcome.fold(log) if (args.trace and outcome.fold) else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    outcome.metrics["setup_s"] = (
        ctx.setup_age - ctx.gen_s if ctx.timed_start is not None else 0.0, "s")
    outcome.metrics["peak_rss_mb"] = (peak_rss, "MB")
    if args.trace:
        total = log["total"]
        layers.update({
            "session.start_ms": session.start_s * 1e3,
            "host.steal_s": ctx.steal,
            "host.cpu_util": total.get("cpu_ms", 0.0) / max(1.0, total.get("run_ms", 0.0)),
            "trace.coverage": (coverage(spans, ctx.timed_start, ctx.timed_end)
                               if ctx.timed_end else 0.0),
            **{f"trace.{k}": v for k, (v, _u) in outcome.metrics.items()},
        })
        names = {m["name"] for m in spec["per_layer"]}
        # figures that are zero by design (spill, failed tasks) are detail,
        # not metrics; a layer the workload does not run reads 0
        layer_detail = {k: v for k, v in layers.items() if k not in names}
        layer_detail["host.failed_tasks"] = total.get("failed_tasks", 0.0)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in outcome.metrics]
        if missing:  # the run ended before its window did (e.g. the stream died)
            raise SystemExit(f"no {', '.join(missing)}: {outcome.errors}")
        metrics = {m["name"]: {"value": float(outcome.metrics[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": args.cores, "run_id": run_id,
        "session_start_s": session.start_s, "input_gen_s": ctx.gen_s,
        **ctx.setup_parts,
        "host_steal_s": ctx.steal, "errors": outcome.errors, **outcome.detail,
    }
    if args.trace:
        detail["layers"] = layer_detail
    result = {
        "correct": outcome.failed == 0 and outcome.attempted > 0,
        "attempted": max(1, outcome.attempted),
        "failed": outcome.failed,
        "metrics": metrics,
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}")
    with open(stem + ".json", "w", encoding="utf-8") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1, default=str)
    if args.trace:
        write_spans(stem + ".spans.jsonl", spans)
    sys.stdout.write("\n" + json.dumps({"detail": detail}, default=str) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
