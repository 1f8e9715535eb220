"""``cdc`` workload: a live merge-on-read table fed by the streaming ingest
while one client reads it.

Input: a seeded Kafka-wire change log from ``datagen`` (2% replay duplicates,
10% late delivery). The first half of every partition is the table's base,
built through ``scan_events -> decode_transcript_events -> last_writer_wins
-> merge_into``. The rest is cut into wire files of ``FILE_OFFSETS``
consecutive offsets per partition (about 320 events each).

One closed-loop client repeats a cycle:

1. ingest -- rename the next wire file into the stream's watched directory
   and block in ``StreamingQuery.processAllAvailable()`` until the
   micro-batch, including any inline compaction, has finished, so no stream
   work overlaps the next op. Its freshness runs from the rename to the
   commit instant (``committed_at_ms``) of the snapshot the batch committed,
   which must cover the file's offsets; the client does not poll, so it
   takes no interpreter time from the batch's ``foreachBatch`` code;
2. ``READS_PER_CYCLE`` point reads ``read_key(conv_id[, snapshot_id])
   .collect()``, keys drawn Zipf(s=1.1), 20% of them time-travel reads of a
   retained snapshot.

The warm-up is ``WARMUP_CYCLES`` cycles. The timed window ends only after a
whole number of compaction periods, at least ``WINDOW_PERIODS`` of them and
at least ``--seconds``; then, still inside the window, the client runs the
upkeep once: ``MaintainedCountSum.advance()`` over every commit since the
view's bootstrap, then ``ops_report``.

The stream is ``start_ingest_stream(wire=True, mode="mor",
auto_compact_every=5, available_now=False)`` over ``file_event_source(...,
max_files_per_trigger=1)``. The file releases happen on the client thread.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import signal
import time
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import harness
from perfbench.harness import Outcome, median, summary
from perfbench.trace import span_stats

N_CONVERSATIONS = 400
N_PARTITIONS = 8
BASE_SHARE = 0.5
FILE_OFFSETS = 40  # per partition, so one file holds ~8 x 40 events
READS_PER_CYCLE = 3
COMPACT_EVERY = 5
#: commits between two inline compactions (the base counts as one dir); the
#: timed window holds whole periods, so every run reads the same mix of
#: delta-dir counts, and each period advances the view once
PERIOD = COMPACT_EVERY - 1
#: the window holds at least this many periods: 8 commits and 24 reads
WINDOW_PERIODS = 2
TIME_TRAVEL_SHARE = 0.2
ZIPF_S = 1.1
#: per-commit latency and read latency keep falling for dozens of cycles
#: as the JVM compiles the hot paths; a longer warm-up puts the window
#: where the fall has slowed
WARMUP_CYCLES = 4
OP_TIMEOUT_S = 60.0

WIRE_COLUMNS = ["key", "value", "partition", "offset"]
WIRE_ARROW = pa.schema(
    [("key", pa.binary()), ("value", pa.binary()), ("partition", pa.int32()),
     ("offset", pa.int64())]
)


class Inputs:
    """The seeded change log, its base cut and the pre-built wire files."""

    def __init__(self, spark, work: str, seed: int):
        from kafka_plugins_spark.datagen import generate_events, write_wire_events

        self.events = os.path.join(work, "events")
        write_wire_events(
            generate_events(spark, n_conversations=N_CONVERSATIONS,
                            n_partitions=N_PARTITIONS, seed=seed),
            self.events,
        )
        log = (ds.dataset(self.events, partitioning="hive").to_table()
               .select(WIRE_COLUMNS).cast(WIRE_ARROW))
        part = log.column("partition").to_numpy()
        off = log.column("offset").to_numpy()
        self.ends = {int(p): int(off[part == p].max()) + 1 for p in np.unique(part)}
        self.base = {p: int(e * BASE_SHARE) for p, e in self.ends.items()}
        n_files = min((self.ends[p] - b) // FILE_OFFSETS for p, b in self.base.items())
        base_of = np.zeros(max(self.ends) + 1, dtype=np.int64)
        for p, b in self.base.items():
            base_of[p] = b
        # file index per event: -1 = base, n_files and above = never released
        fidx = np.where(off < base_of[part], -1, (off - base_of[part]) // FILE_OFFSETS)
        self.stage = os.path.join(work, "stage")
        os.makedirs(self.stage)
        order = np.argsort(fidx, kind="stable")
        bounds = np.searchsorted(fidx[order], np.arange(n_files + 1))
        self.files: list[tuple[str, dict[int, tuple[int, int]], int]] = []
        for i in range(n_files):
            rows = order[bounds[i]:bounds[i + 1]]
            path = os.path.join(self.stage, f"part-{i:05d}.parquet")
            pq.write_table(log.take(rows), path)
            lo = {p: b + i * FILE_OFFSETS for p, b in self.base.items()}
            self.files.append((path, {p: (lo[p], lo[p] + FILE_OFFSETS) for p in lo}, len(rows)))
        self.base_events = int((fidx == -1).sum())
        self.oracle = _Oracle(self.events, self.base)
        self.keys = self.oracle.base_keys()


class _Oracle:
    """DuckDB last-writer-wins over the wire log, decoded independently of
    the engine: max offset per ``(conv_id, turn_idx)``, deletes dropped."""

    def __init__(self, events: str, base: dict[int, int]):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        cases = " ".join(f"WHEN {p} THEN {b}" for p, b in base.items())
        self.con.execute(f"""
            CREATE TABLE ev AS
            SELECT json_extract_string(v, '$.conv_id') AS conv_id,
                   CAST(json_extract(v, '$.turn_idx') AS INTEGER) AS turn_idx,
                   json_extract_string(v, '$.role') AS role,
                   json_extract_string(v, '$.text') AS text,
                   json_extract_string(v, '$.tool') AS tool,
                   epoch_us(CAST(json_extract_string(v, '$.ts') AS TIMESTAMPTZ)) AS ts_us,
                   json_extract_string(v, '$.op') AS op,
                   partition, "offset",
                   CASE WHEN "offset" < (CASE partition {cases} END) THEN -1
                        ELSE ("offset" - (CASE partition {cases} END)) // {FILE_OFFSETS}
                   END AS fidx
            FROM (SELECT decode(value) AS v, partition, "offset"
                  FROM read_parquet('{events}/**/*.parquet', hive_partitioning = true))
        """)

    def base_keys(self) -> list[str]:
        rows = self.con.execute(
            "SELECT DISTINCT conv_id FROM ev WHERE fidx = -1 ORDER BY conv_id").fetchall()
        return [r[0] for r in rows]

    def state(self, n_files: int, keys: list[str] | None = None) -> set[tuple]:
        """Visible rows after the base plus the first ``n_files`` files."""
        where = f"fidx < {n_files}"
        params: list = []
        if keys is not None:
            where += " AND list_contains(?, conv_id)"
            params.append(sorted(set(keys)))
        rows = self.con.execute(f"""
            SELECT conv_id, turn_idx, arg_max(role, "offset"), arg_max(text, "offset"),
                   arg_max(tool, "offset"), arg_max(ts_us, "offset")
            FROM ev WHERE {where}
            GROUP BY conv_id, turn_idx
            HAVING arg_max(op, "offset") <> 'D'
        """, params).fetchall()
        return set(rows)


def _row_tuple(r) -> tuple:
    ts = r["ts"]
    ts_us = None if ts is None else int(round(ts.timestamp() * 1e6))
    return (r["conv_id"], int(r["turn_idx"]), r["role"], r["text"], r["tool"], ts_us)


def _covers(snap: dict | None, ranges: dict[int, tuple[int, int]]) -> bool:
    if not snap or "delivered" not in snap:
        return False
    delivered = snap["delivered"]
    for p, (lo, hi) in ranges.items():
        iv = delivered.get(str(p), [])
        if not any(a <= lo and hi <= b for a, b in iv):
            return False
    return True


class _ZipfKeys:
    """Keys drawn Zipf(``ZIPF_S``) over a seeded popularity ranking."""

    def __init__(self, keys: list[str], rng: random.Random):
        self.rng = rng
        self.ranked = keys[:]
        rng.shuffle(self.ranked)
        self.cum = list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(len(keys))))

    def draw(self, n: int) -> list[str]:
        return self.rng.choices(self.ranked, cum_weights=self.cum, k=n)


def run(ctx) -> Outcome:
    from pyspark.sql import types as T

    from kafka_plugins_spark.connector import ops_report
    from kafka_plugins_spark.functions.decode import decode_transcript_events
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.incremental import MaintainedCountSum
    from kafka_plugins_spark.operators.resolve import last_writer_wins
    from kafka_plugins_spark.sources.events import (
        partition_end_offsets_from_metadata,
        scan_events,
    )
    from kafka_plugins_spark.streaming.pipeline import file_event_source, start_ingest_stream

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    t_gen = time.monotonic()
    inp = Inputs(spark, ctx.work, ctx.seed)
    ctx.gen_s = time.monotonic() - t_gen
    rng = random.Random(ctx.seed)
    zipf = _ZipfKeys(inp.keys, rng)

    tbl_path = os.path.join(ctx.work, "table")
    watch = os.path.join(ctx.work, "watch")
    os.makedirs(watch)
    table = ParquetSnapshotTable(spark, tbl_path, mode="mor")

    # --- base build: one fenced commit of the first half of the log ------
    t_setup = time.monotonic()
    with tr.span("sources.events.plan"):
        ends = partition_end_offsets_from_metadata(inp.events)
    if ends != inp.ends:
        out.fail(f"footer-planned end offsets {ends} != log {inp.ends}")
    base_ranges = {p: (0, b) for p, b in inp.base.items()}
    if tr.enabled:
        # materialize each layer inside its own span so the fused stage's
        # work is attributed layer by layer
        with tr.span("sources.events.scan") as s:
            scan = scan_events(spark, inp.events, ranges=base_ranges).persist()
            s["rows_out"] = scan.count()
        with tr.span("functions.decode") as s:
            dec = decode_transcript_events(scan).persist()
            s["rows_out"] = dec.count()
        scan.unpersist()
        with tr.span("operators.resolve") as s:
            win = last_writer_wins(dec).persist()
            s["rows_in"], s["rows_out"] = dec.count(), win.count()
        dec.unpersist()
        with tr.span("lake.merge"):
            table.merge_into(win, batch_id=0, ranges=base_ranges)
        win.unpersist()
    else:
        table.merge_into(
            last_writer_wins(decode_transcript_events(
                scan_events(spark, inp.events, ranges=base_ranges))),
            batch_id=0, ranges=base_ranges,
        )
    mv_path = os.path.join(ctx.work, "mv")
    mv = MaintainedCountSum(table, mv_path, ["role"], sum_cols=["turn_idx"])
    with tr.span("operators.incremental.bootstrap"):
        mv.advance()

    t_built = time.monotonic()
    wire_schema = T.StructType([
        T.StructField("key", T.BinaryType()), T.StructField("value", T.BinaryType()),
        T.StructField("partition", T.IntegerType()), T.StructField("offset", T.LongType()),
    ])
    stream = start_ingest_stream(
        spark,
        file_event_source(spark, watch, wire_schema, max_files_per_trigger=1),
        tbl_path, os.path.join(ctx.work, "checkpoint"),
        wire=True, dlq_path=os.path.join(ctx.work, "dlq"), mode="mor",
        auto_compact_every=COMPACT_EVERY, available_now=False,
    )
    state = {"released": 0, "visible": 0, "dirs_max": 0}
    ctx.on_close(lambda: _stop_stream(stream, out, inp, state))
    t_started = time.monotonic()

    snapshots: list[tuple[int, int]] = []  # (snapshot id, files visible in it)
    reads: list[tuple[str, int, list[tuple]]] = []  # (key, files visible, rows)
    samples: dict[str, list[float]] = {k: [] for k in (
        "freshness_ms", "ingest_ms", "advance_ms", "report_ms", "read_ms", "cycle_ms")}
    releases: list[tuple[int, float, float, float]] = []  # (batch, wall, t_release, t_visible)
    meta_ms: list[float] = []

    def ingest() -> None:
        i = state["released"]
        if i >= len(inp.files):
            raise RuntimeError("ran out of wire files")
        src, ranges, _n = inp.files[i]
        wall, t0 = time.time(), time.monotonic()
        with tr.span("streaming.ingest", batch=i), _time_limit(OP_TIMEOUT_S):
            os.rename(src, os.path.join(watch, os.path.basename(src)))
            state["released"] += 1
            # wait inside the JVM until the stream is idle, so no client
            # loop competes with the micro-batch for the interpreter
            while True:
                stream.query.processAllAvailable()
                if _batch_done(stream, i):
                    break
                if not stream.query.isActive:
                    raise RuntimeError(f"stream died: {stream.query.exception()}")
        t2 = time.monotonic()
        commit = stream.commits[-1]
        snap = None if commit.snapshot_id is None else table.snapshot_by_id(commit.snapshot_id)
        if not _covers(snap, ranges):
            raise RuntimeError(f"micro-batch {i} committed no snapshot covering its offsets")
        # visible at the commit instant its snapshot records
        t1 = t0 + (snap["committed_at_ms"] / 1e3 - wall)
        state["visible"] = i + 1
        snapshots.append((int(snap["snapshot_id"]), i + 1))
        releases.append((i, wall, t0, t1))
        samples["freshness_ms"].append((t1 - t0) * 1e3)
        samples["ingest_ms"].append((t2 - t0) * 1e3)
        if tr.enabled:
            m0 = time.monotonic()
            table.current_snapshot()
            table.delivered_ranges()
            meta_ms.append((time.monotonic() - m0) * 1e3)
            state["dirs_max"] = max(state["dirs_max"], table.live_data_dirs())

    def advance() -> None:
        if tr.enabled:
            asof, target = mv.as_of(), int(table.current_snapshot()["snapshot_id"])
            with tr.span("operators.incremental.changes") as s:
                s["rows_out"] = table.changes_between(asof, target).count()
        t0 = time.monotonic()
        with tr.span("operators.incremental.advance"):
            mv.advance()
        samples["advance_ms"].append((time.monotonic() - t0) * 1e3)

    def report() -> None:
        t0 = time.monotonic()
        with tr.span("connector.ops_report") as s:
            rep = ops_report(table, mv_paths=[mv_path])
        samples["report_ms"].append((time.monotonic() - t0) * 1e3)
        if rep["maintained_views"][0]["stale"] or any(rep["gaps"].values()):
            out.fail(f"ops_report: stale view or gaps {rep['gaps']}")
        if s is not None and s["jobs"]:  # traced runs see the report's jobs
            out.fail(f"ops_report ran {s['jobs']} Spark jobs")

    def read(key: str) -> None:
        snap_id, visible = None, state["visible"]
        if snapshots and rng.random() < TIME_TRAVEL_SHARE:
            snap_id, visible = rng.choice(snapshots)
        t0 = time.monotonic()
        with tr.span("lake.read_key") as s:
            rows = table.read_key(key, snapshot_id=snap_id).collect()
            if s is not None:
                s["rows_out"] = len(rows)
        samples["read_ms"].append((time.monotonic() - t0) * 1e3)
        reads.append((key, visible, [_row_tuple(r) for r in rows]))

    def attempt(name: str, op) -> None:
        """Run one op; a failure is counted and the run goes on."""
        out.attempted += 1
        try:
            op()
        except Exception as exc:
            out.fail(f"{name}: {exc!r}")

    def cycle(keys: list[str]) -> None:
        """One client cycle; a failed ingest means the stream is gone, so
        it ends the run (its undelivered files are counted at stop)."""
        t0 = time.monotonic()
        out.attempted += 1
        try:
            ingest()
        except Exception as exc:
            out.fail(f"ingest: {exc!r}")
            raise _StreamGone from exc
        for key in keys:
            attempt(f"read_key({key})", lambda: read(key))
        samples["cycle_ms"].append((time.monotonic() - t0) * 1e3)

    try:
        for _ in range(WARMUP_CYCLES):
            cycle(zipf.draw(READS_PER_CYCLE))
    except _StreamGone:
        return out
    for v in samples.values():
        v.clear()
    releases.clear()
    ctx.setup_parts = {"build_s": t_built - t_setup, "stream_start_s": t_started - t_built,
                       "warmup_s": time.monotonic() - t_started}
    warm_files = state["released"]
    ctx.mark_timed_start()
    commits_before = len(stream.commits)
    compactions_before = len(stream.compactions)
    files_before = harness.data_files(tbl_path)

    deadline = time.monotonic() + ctx.seconds
    try:
        while True:
            cycle(zipf.draw(READS_PER_CYCLE))
            done = state["released"] - warm_files
            if (time.monotonic() >= deadline and done % PERIOD == 0
                    and done >= WINDOW_PERIODS * PERIOD):
                break
    except _StreamGone:
        ctx.mark_timed_end()
        return out
    attempt("advance", advance)
    attempt("ops_report", report)
    window_s = sum(samples["cycle_ms"]) / 1e3
    ctx.mark_timed_end()

    timed_commits = stream.commits[commits_before:]
    timed_compactions = stream.compactions[compactions_before:]
    new_files = {p: s for p, s in harness.data_files(tbl_path).items() if p not in files_before}
    timed_events = sum(inp.files[i][2] for i in range(warm_files, state["released"]))

    # --- correctness gates, outside the timed window ----------------------
    by_state: dict[int, list[int]] = {}
    for j, (_key, visible, _rows) in enumerate(reads):
        by_state.setdefault(visible, []).append(j)
    for visible, idx in by_state.items():
        want = inp.oracle.state(visible, [reads[j][0] for j in idx])
        for j in idx:
            key, _v, rows = reads[j]
            if set(rows) != {r for r in want if r[0] == key} or len(rows) != len(set(rows)):
                out.fail(f"read_key({key}) at {visible} files differs from the oracle")
    final = {_row_tuple(r) for r in table.read().collect()}
    if final != inp.oracle.state(state["visible"]):
        out.fail("final table differs from the DuckDB last-writer-wins oracle")
    # exactly-once: re-delivering everything committed so far is fence-skipped
    delivered = {p: (0, b + state["visible"] * FILE_OFFSETS) for p, b in inp.base.items()}
    snap_id = table.current_snapshot()["snapshot_id"]
    out.attempted += 1
    redo = table.merge_into(
        last_writer_wins(decode_transcript_events(
            scan_events(spark, inp.events, ranges=delivered))),
        batch_id=state["visible"] + 1, ranges=delivered,
    )
    if not redo.skipped or table.current_snapshot()["snapshot_id"] != snap_id:
        out.fail("re-delivered offsets were not fence-skipped")
    dlq = os.path.join(ctx.work, "dlq")
    dlq_rows = ds.dataset(dlq, format="parquet").count_rows() if os.path.isdir(dlq) else 0
    if dlq_rows:
        out.fail(f"{dlq_rows} generated events were dead-lettered")
    skipped = sum(1 for c in stream.commits if c.skipped)
    if skipped:  # every released file holds new offsets
        out.fail(f"{skipped} stream commits were fence-skipped", n=skipped)

    out.metrics = {
        "op_p50_ms": (median(samples["read_ms"]), "ms"),
        "batch_p50_ms": (median(samples["freshness_ms"]), "ms"),
    }
    out.detail = {
        "window_s": window_s,
        "files_released": state["released"] - warm_files,
        "events_committed": timed_events,
        "dlq_rows": dlq_rows,
        **{k: summary(v) for k, v in samples.items()},
    }
    if tr.enabled:
        layers = _stream_layers(stream, releases, timed_commits, timed_compactions,
                                new_files, timed_events, meta_ms, state["dirs_max"])
        batches = [str(r[0]) for r in releases]
        out.fold = lambda log: {**layers, **_fold(tr.spans, log, batches)}
    return out


class _StreamGone(Exception):
    pass


@contextlib.contextmanager
def _time_limit(seconds: float):
    """Raise TimeoutError in the main thread, even inside a blocking JVM
    call, if the block takes longer than ``seconds``."""
    def expire(*_):
        raise TimeoutError(f"no commit within {seconds:.0f} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


def _batch_done(stream, batch_id: int) -> bool:
    prog = stream.query.lastProgress
    return prog is not None and int(prog["batchId"]) >= batch_id


def _stop_stream(stream, out: Outcome, inp: Inputs, state: dict) -> None:
    """Read the stream's exception before stopping it; a dead stream's
    undelivered files count as failed ingests."""
    exc = stream.query.exception()
    if exc is not None:
        out.fail(f"stream failed: {exc}", n=len(inp.files) - state["visible"])
    stream.query.stop()
    stream.query.awaitTermination(30)


def _stream_layers(stream, releases, commits, compactions, new_files, timed_events,
                   meta_ms, dirs_max) -> dict[str, float]:
    """Per-layer figures of the stream, seen from outside it: query progress
    and the ``IngestStream`` commit and compaction records."""
    progress = {int(p["batchId"]): p for p in stream.query.recentProgress}
    disc, lat, wal, offs, add, cover = [], [], [], [], [], []
    for (batch, wall, t0, t1), commit in zip(releases, commits):
        p = progress.get(batch)
        if p is None:
            continue
        d = p["durationMs"]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        disc.append(max(0.0, (start - wall) * 1e3))
        lat.append(d.get("latestOffset", 0))
        wal.append(d.get("walCommit", 0))
        offs.append(d.get("commitOffsets", 0))
        add.append(d.get("addBatch", 0))
        before = sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit"))
        cover.append((disc[-1] + before + commit.wall_ms) / ((t1 - t0) * 1e3))
    b, n = sum(new_files.values()), len(new_files)
    return {
        "streaming.pipeline.batches": len(releases),
        "streaming.pipeline.discovery_ms": _med(disc),
        "streaming.pipeline.latest_offset_ms": _med(lat),
        "streaming.pipeline.wal_commit_ms": _med(wal),
        "streaming.pipeline.commit_offsets_ms": _med(offs),
        "streaming.pipeline.add_batch_ms": _med(add),
        "streaming.pipeline.freshness_coverage": _med(cover),
        "lake.merge_ms": _med([c.wall_ms for c in commits]),
        "lake.rows_applied": sum(c.rows_applied for c in commits),
        "lake.skipped_commits": sum(1 for c in commits if c.skipped),
        "lake.apply_ratio": sum(c.rows_applied for c in commits) / max(1, timed_events),
        "lake.compactions": len(compactions),
        "lake.compact_ms": sum(c.wall_ms for c in compactions),
        "lake.live_data_dirs_max": dirs_max,
        "lake.snapshot_meta_ms": _med(meta_ms),
        "lake.bytes_written": b,
        "lake.files_written": n,
        "lake.bytes_per_event": b / max(1, timed_events),
    }


def _fold(spans: list[dict], log: dict, batches: list[str]) -> dict[str, float]:
    """Event-log figures: the base build's layered spans, the client's op
    spans in the timed window, and the timed micro-batches' jobs."""
    scan = span_stats(spans, log, "sources.events.scan")
    dec = span_stats(spans, log, "functions.decode")
    res = span_stats(spans, log, "operators.resolve")
    rk = span_stats(spans, log, "lake.read_key", "timed")
    adv = span_stats(spans, log, "operators.incremental.advance", "timed")
    chg = span_stats(spans, log, "operators.incremental.changes", "timed")
    rep = span_stats(spans, log, "connector.ops_report", "timed")
    per_batch = [log["batches"].get(b, {}) for b in batches]

    def batch_med(key: str) -> float:
        return _med([m.get(key, 0.0) for m in per_batch])

    return {
        "sources.events.plan_ms": span_stats(spans, log, "sources.events.plan")["ms"],
        "sources.events.scan_ms": scan["ms"],
        "sources.events.records_read": scan["records_read"],
        "sources.events.bytes_read": scan["bytes_read"],
        "functions.decode.ms": dec["self_ms"],
        "functions.decode.cpu_ms": dec["cpu_ms"],
        "functions.decode.rows_out": dec["rows_out"],
        "operators.resolve.ms": res["self_ms"],
        "operators.resolve.cpu_ms": res["cpu_ms"],
        "operators.resolve.rows_in": res["rows_in"],
        "operators.resolve.rows_out": res["rows_out"],
        "operators.resolve.keep_ratio": res["rows_out"] / max(1, res["rows_in"]),
        "operators.resolve.shuffle_write_bytes": res["shuffle_write_bytes"],
        "operators.resolve.spill_bytes": res["spill_bytes"],
        "lake.merge_cpu_ms": batch_med("cpu_ms"),
        "lake.gc_ms": sum(m.get("gc_ms", 0.0) for m in per_batch),
        "lake.jobs_per_commit": batch_med("jobs"),
        "lake.shuffle_write_bytes": sum(m.get("shuffle_write_bytes", 0) for m in per_batch),
        "lake.spill_bytes": sum(m.get("spill_bytes", 0) for m in per_batch),
        "lake.read_key_ms": rk["ms"],
        "lake.read_key_cpu_ms": rk["cpu_ms"],
        "lake.read_key_jobs": rk["jobs"],
        "lake.read_key_bytes_read": rk["bytes_read"] / max(1, rk["n"]),
        "lake.read_key_select_ratio": rk["rows_out"] / max(1, rk["records_read"]),
        "operators.incremental.advance_ms": adv["ms"],
        "operators.incremental.changes_ms": chg["ms"],
        "operators.incremental.delta_rows": chg["rows_out"],
        "operators.incremental.jobs": adv["jobs"],
        "connector.ops_report_ms": rep["ms"],
        "connector.ops_report_jobs": rep["jobs_total"],
    }


def _med(xs: list[float]) -> float:
    return median(xs) if xs else 0.0
