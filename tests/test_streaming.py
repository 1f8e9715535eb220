"""Streaming ingest: golden output, checkpoint-resume, fence idempotence.

The analogue of the reference's KafkaStreamingSourceTest matrix
(stop → produce more → restart resumes; failed batches don't advance the
cursor), on a file-stream stand-in for the topic.
"""

import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_plugins_spark.datagen import generate_events
from kafka_plugins_spark.streaming.pipeline import file_event_source, start_ingest_stream
from tests.util import assert_tables_equal, duckdb_final_state


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """Event log split into two file drops: offsets < 400 and the rest."""
    root = tmp_path_factory.mktemp("stream")
    full = str(root / "full")
    df = generate_events(spark, n_conversations=100, n_partitions=4, seed=13)
    # flat parquet (no hive partitioning) so the file stream sees plain files
    df.filter(F.col("offset") < 400).coalesce(2).write.parquet(f"{full}/drop1")
    df.filter(F.col("offset") >= 400).coalesce(2).write.parquet(f"{full}/drop2")
    oracle_dir = str(root / "oracle")
    df.write.partitionBy("partition").parquet(oracle_dir)
    return {"root": str(root), "full": full, "oracle": oracle_dir}


def _stage(src_drop: str, watch: str) -> None:
    os.makedirs(watch, exist_ok=True)
    for f in glob.glob(f"{src_drop}/*.parquet"):
        shutil.copy(f, watch)


def test_stream_golden_and_resume(spark, staged, tmp_path):
    watch = str(tmp_path / "watch")
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(f"{staged['full']}/drop1").schema

    # phase 1: only the first drop is visible
    _stage(f"{staged['full']}/drop1", watch)
    s1 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, ckpt,
        watermark_delay="30 hours",
    )
    s1.await_and_stop()
    assert any(not c.skipped for c in s1.commits)
    wm1 = s1.table.watermarks()
    assert wm1 and all(v <= 400 for v in wm1.values())

    # stop → produce more → restart resumes from checkpoint (only drop2 read)
    _stage(f"{staged['full']}/drop2", watch)
    s2 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, ckpt,
        watermark_delay="30 hours",
    )
    s2.await_and_stop()
    final = s2.table.read().toPandas()
    assert_tables_equal(final, duckdb_final_state(staged["oracle"]))
    # resumed batches only applied offsets beyond the committed watermark
    for c in s2.commits:
        if not c.skipped:
            for p, (lo, _) in c.ranges.items():
                assert lo >= wm1.get(p, 0)


def test_stream_restart_with_fresh_checkpoint_is_noop(spark, staged, tmp_path):
    """Losing the Spark checkpoint must NOT double-apply: the snapshot
    fence alone makes full re-reads idempotent (belt and braces, like the
    reference's dual checkpoint/state-store modes)."""
    watch = str(tmp_path / "watch")
    table_path = str(tmp_path / "table")
    schema = spark.read.parquet(f"{staged['full']}/drop1").schema
    _stage(f"{staged['full']}/drop1", watch)
    _stage(f"{staged['full']}/drop2", watch)

    s1 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, str(tmp_path / "c1"),
        watermark_delay="30 hours",
    )
    s1.await_and_stop()
    snap = s1.table.current_snapshot()

    # same data, brand-new checkpoint → every event replays → all fenced
    s2 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, str(tmp_path / "c2"),
        watermark_delay="30 hours",
    )
    s2.await_and_stop()
    assert all(c.skipped for c in s2.commits)
    assert s2.table.current_snapshot() == snap
    assert_tables_equal(s2.table.read().toPandas(), duckdb_final_state(staged["oracle"]))


def test_stream_multi_trigger_converges(spark, staged, tmp_path):
    """Many micro-batches (1 file per trigger) converge to the oracle."""
    watch = str(tmp_path / "watch")
    schema = spark.read.parquet(f"{staged['full']}/drop1").schema
    _stage(f"{staged['full']}/drop1", watch)
    _stage(f"{staged['full']}/drop2", watch)
    s = start_ingest_stream(
        spark,
        file_event_source(spark, watch, schema, max_files_per_trigger=1),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        watermark_delay="30 hours",
    )
    s.await_and_stop()
    applied = [c for c in s.commits if not c.skipped]
    assert len(applied) >= 2  # genuinely incremental
    assert_tables_equal(s.table.read().toPandas(), duckdb_final_state(staged["oracle"]))
    lin = s.table.read_lineage()
    assert lin.count() >= 2
    assert lin.filter(F.col("rows") <= 0).count() == 0


def test_late_event_not_lost_without_dedup(spark, tmp_path):
    """ADVICE r1 (medium): with stateful dedup ON, an event whose payload
    ts lags the stream's max ts by more than the watermark is silently
    dropped while its offset is still fenced — permanent loss. The
    default path (dedup=False) must apply it."""
    import datetime as dt

    from kafka_plugins_spark.schema import CHANGE_EVENT

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    drop1 = [
        ("c1", 0, "user", "hello", None, t0, "I", 0, 0),
        ("c2", 0, "user", "hi", None, t0 + dt.timedelta(minutes=1), "I", 0, 1),
    ]
    # arrives later, event time 3 DAYS older than everything before it
    drop2 = [("c3", 0, "user", "late but real", None, t0 - dt.timedelta(days=3), "I", 0, 2)]

    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    spark.createDataFrame(drop1, CHANGE_EVENT).coalesce(1).write.parquet(str(tmp_path / "d1"))
    spark.createDataFrame(drop2, CHANGE_EVENT).coalesce(1).write.parquet(str(tmp_path / "d2"))
    _stage(str(tmp_path / "d1"), watch)
    s1 = start_ingest_stream(
        spark, file_event_source(spark, watch, CHANGE_EVENT),
        str(tmp_path / "table"), str(tmp_path / "ckpt"),
    )  # defaults: dedup=False
    s1.await_and_stop()
    _stage(str(tmp_path / "d2"), watch)
    s2 = start_ingest_stream(
        spark, file_event_source(spark, watch, CHANGE_EVENT),
        str(tmp_path / "table"), str(tmp_path / "ckpt"),
    )
    s2.await_and_stop()
    rows = {r["conv_id"] for r in s2.table.read().collect()}
    assert rows == {"c1", "c2", "c3"}, "late event must not be lost on the default path"


def test_stream_wire_format_decode_path(spark, tmp_path):
    """Production shape: the stream yields Kafka wire rows (key/value
    binary); S6 decode runs INSIDE the streaming DAG before resolve —
    the converged table must match the plain-events replay."""
    from kafka_plugins_spark.datagen import write_wire_events
    from kafka_plugins_spark.functions.decode import decode_transcript_events
    from kafka_plugins_spark.replay import replay

    df = generate_events(spark, n_conversations=60, n_partitions=4, seed=21)
    wire_dir = str(tmp_path / "wire")
    write_wire_events(df, wire_dir)
    plain_dir = str(tmp_path / "plain")
    df.write.partitionBy("partition").parquet(plain_dir)

    wire_schema = spark.read.parquet(wire_dir).schema
    source = decode_transcript_events(
        file_event_source(spark, wire_dir, wire_schema)
    )
    s = start_ingest_stream(
        spark, source, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    s.await_and_stop()

    oracle_table, _ = replay(spark, plain_dir, str(tmp_path / "oracle_table"))
    got = s.table.read().orderBy("conv_id", "turn_idx").toPandas()
    want = oracle_table.read().orderBy("conv_id", "turn_idx").toPandas()
    import pandas as pd
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def test_stream_mor_mode_converges_and_resumes(spark, staged, tmp_path):
    """Streaming with mode='mor': each micro-batch is an O(batch) delta
    append; stop → more data → resume; final state matches the oracle;
    compact folds deltas and preserves it."""
    watch = str(tmp_path / "watch")
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(f"{staged['full']}/drop1").schema

    _stage(f"{staged['full']}/drop1", watch)
    s1 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, ckpt, mode="mor"
    )
    s1.await_and_stop()
    _stage(f"{staged['full']}/drop2", watch)
    s2 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, ckpt, mode="mor"
    )
    s2.await_and_stop()
    table = s2.table
    assert len(table.current_snapshot()["data_paths"]) >= 2
    want = duckdb_final_state(staged["oracle"])
    assert_tables_equal(table.read().toPandas(), want)
    table.compact()
    assert len(table.current_snapshot()["data_paths"]) == 1
    assert_tables_equal(table.read().toPandas(), want)


def test_stream_mor_auto_compact_bounds_read_amplification(spark, staged, tmp_path):
    """auto_compact_every=N: a long micro-batch tail folds itself — no
    snapshot in the whole history ever reads more than N data dirs, the
    compaction commits are recorded, and the converged table still
    matches the relational oracle (VERDICT r3 item 6)."""
    import json

    from kafka_plugins_spark.lake import SNAPSHOT_DIR

    watch = str(tmp_path / "watch")
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(f"{staged['full']}/drop1").schema

    # re-slice the full log into 9 offset-ordered files → 9 micro-batches
    # (one per trigger). Slices are ordered in offset like a Kafka tail —
    # the in-order contract auto-compact inherits from compact().
    full = spark.read.parquet(staged["oracle"])
    hi = full.agg(F.max("offset")).collect()[0][0] + 1
    step = hi // 9 + 1
    os.makedirs(watch, exist_ok=True)
    for i in range(9):
        sl = str(tmp_path / f"slice{i}")
        full.filter(
            (F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step)
        ).coalesce(1).write.parquet(sl)
        for j, f in enumerate(sorted(glob.glob(f"{sl}/*.parquet"))):
            dst = os.path.join(watch, f"slice-{i}-{j}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # stream order = mtime

    N = 3
    s = start_ingest_stream(
        spark,
        file_event_source(spark, watch, schema, max_files_per_trigger=1),
        table_path,
        ckpt,
        mode="mor",
        auto_compact_every=N,
    )
    s.await_and_stop()
    table = s.table
    assert len(s.commits) >= 8
    assert len(s.compactions) >= 2
    assert table.live_data_dirs() <= N

    # the invariant held for EVERY snapshot ever committed, not just the last
    snap_dir = os.path.join(table_path, SNAPSHOT_DIR)
    for f in sorted(os.listdir(snap_dir)):
        with open(os.path.join(snap_dir, f)) as fh:
            snap = json.load(fh)
        assert len(snap.get("data_paths", [1])) <= N, f"snapshot {f} exceeded bound"

    assert_tables_equal(table.read().toPandas(), duckdb_final_state(staged["oracle"]))


def test_stream_wire_mor_batch_job_budget(spark, tmp_path):
    """A steady MoR wire micro-batch parses its payload once, writes no
    DLQ for a clean batch and reads its lineage stats back under the
    stored schema: at most 7 Spark jobs (cache materialization, the
    ranges + dead-letter-count aggregate's two stages, the LWW map
    stage, the delta write, the stats aggregate's two stages) and no
    ``batch-NNNNNN`` subdir. Jobs are counted by the stream's own job
    group (its run id), so no other thread's jobs can leak in."""
    from kafka_plugins_spark.datagen import write_wire_events

    df = generate_events(spark, n_conversations=40, n_partitions=4, seed=5)
    wire_dir = str(tmp_path / "wire")
    write_wire_events(df, wire_dir)
    wire = spark.read.parquet(wire_dir)
    end = wire.agg(F.max("offset")).first()[0] + 1
    n_files = 4
    cuts = [end * i // n_files for i in range(n_files + 1)]
    stage, watch = tmp_path / "stage", tmp_path / "watch"
    watch.mkdir()
    for i in range(n_files):
        wire.filter(
            (F.col("offset") >= cuts[i]) & (F.col("offset") < cuts[i + 1])
        ).coalesce(1).write.parquet(str(stage / str(i)))

    dlq_dir = tmp_path / "dlq"
    s = start_ingest_stream(
        spark,
        file_event_source(spark, str(watch), wire.schema, max_files_per_trigger=1),
        str(tmp_path / "table"), str(tmp_path / "ckpt"),
        wire=True, dlq_path=str(dlq_dir), mode="mor", available_now=False,
    )
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    try:
        for i in range(n_files):
            before = set(tracker.getJobIdsForGroup(str(s.query.runId)))
            part = next((stage / str(i)).glob("part-*.parquet"))
            os.rename(part, watch / f"wire-{i}.parquet")
            s.query.processAllAvailable()
            jobs.append(len(set(tracker.getJobIdsForGroup(str(s.query.runId))) - before))
    finally:
        s.query.stop()
    assert len(s.commits) == n_files and not any(c.skipped for c in s.commits)
    assert s.table.live_data_dirs() == n_files  # no compaction in the window
    assert max(jobs[1:]) <= 7, f"jobs per micro-batch: {jobs}"
    assert not dlq_dir.exists() or not any(dlq_dir.iterdir())
    oracle = str(tmp_path / "oracle")
    df.write.partitionBy("partition").parquet(oracle)
    assert_tables_equal(s.table.read().toPandas(), duckdb_final_state(oracle))


def test_stream_wire_dlq_quarantines_and_fences(spark, tmp_path):
    """wire=True + dlq_path: corrupted payloads land in the per-batch
    quarantine, good rows converge, the fence covers quarantined offsets
    (restart = full no-op, DLQ not duplicated)."""
    from pyspark.sql import functions as F

    from kafka_plugins_spark.datagen import write_wire_events

    df = generate_events(spark, n_conversations=50, n_partitions=4, seed=33)
    wire_dir = str(tmp_path / "wire")
    write_wire_events(df, wire_dir)
    # corrupt a deterministic slice of the wire values
    wire = spark.read.parquet(wire_dir)
    corrupted = wire.withColumn(
        "value",
        F.when(F.col("offset") % 23 == 0, F.lit(b"{broken")).otherwise(F.col("value")),
    )
    watch = str(tmp_path / "watch")
    corrupted.coalesce(2).write.parquet(watch)
    n_bad = corrupted.filter(F.col("offset") % 23 == 0).count()
    assert n_bad > 0

    schema = spark.read.parquet(watch).schema
    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    dlq_dir = str(tmp_path / "dlq")
    s = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path, ckpt,
        wire=True, dlq_path=dlq_dir,
    )
    s.await_and_stop()

    dlq = spark.read.option("recursiveFileLookup", "true").parquet(dlq_dir)
    got_bad = {(r["partition"], r["offset"]) for r in dlq.collect()}
    want_bad = {
        (r["partition"], r["offset"])
        for r in corrupted.filter(F.col("offset") % 23 == 0).collect()
    }
    assert got_bad == want_bad
    assert dlq.filter(F.col("reason") != "malformed_json").count() == 0

    # good rows converged: table equals replay of the uncorrupted stream
    # minus the conversations' corrupted change rows
    n_rows = s.table.read().count()
    assert n_rows > 0

    # fence covers quarantined offsets: a fresh stream over the same
    # files (new checkpoint) skips every batch and does not grow the DLQ
    n_dlq_files_before = dlq.count()
    s2 = start_ingest_stream(
        spark, file_event_source(spark, watch, schema), table_path,
        str(tmp_path / "ckpt2"), wire=True, dlq_path=dlq_dir,
    )
    s2.await_and_stop()
    assert all(r.skipped for r in s2.commits)
    dlq2 = spark.read.option("recursiveFileLookup", "true").parquet(dlq_dir)
    assert dlq2.count() == n_dlq_files_before
    assert s2.table.read().count() == n_rows

    import pytest

    with pytest.raises(ValueError, match="dedup=False"):
        start_ingest_stream(
            spark, file_event_source(spark, watch, schema), table_path,
            str(tmp_path / "ckpt3"), wire=True, dedup=True,
        )

    # wire without a quarantine sink would silently fence dropped rows —
    # refused (same silent-data-loss class as the dedup trap)
    with pytest.raises(ValueError, match="dlq_path"):
        start_ingest_stream(
            spark, file_event_source(spark, watch, schema), table_path,
            str(tmp_path / "ckpt4"), wire=True,
        )


def test_stream_bucketed_mode_converges_no_spurious_compaction(spark, staged, tmp_path):
    """Streaming into a bucketed table: micro-batches rewrite only
    touched buckets; the auto-compact trigger must NOT misread the
    n_buckets dir count as MoR read amplification (it would rewrite the
    whole table every batch); final state matches the oracle."""
    watch = str(tmp_path / "watch")
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(f"{staged['full']}/drop1").schema

    _stage(f"{staged['full']}/drop1", watch)
    s1 = start_ingest_stream(
        spark,
        file_event_source(spark, watch, schema),
        table_path,
        ckpt,
        mode="bucketed",
        auto_compact_every=4,
    )
    s1.await_and_stop()
    _stage(f"{staged['full']}/drop2", watch)
    s2 = start_ingest_stream(
        spark,
        file_event_source(spark, watch, schema),
        table_path,
        ckpt,
        mode="bucketed",
        auto_compact_every=4,
    )
    s2.await_and_stop()
    assert not s1.compactions and not s2.compactions
    table = s2.table
    assert "bucket_paths" in table.current_snapshot()
    assert_tables_equal(table.read().toPandas(), duckdb_final_state(staged["oracle"]))


def test_stream_patch_mode_composes_columns_across_batches(spark, tmp_path):
    """patch=True end-to-end: a partial-update stream delivered as two
    file drops; a later micro-batch patching one column must keep the
    stored values of the others, and the final table must match the
    imperative fold oracle over the whole stream."""
    from tests.test_partial import SCHEMA as PATCH_SCHEMA, _ev, _fold_oracle

    rows1 = [
        _ev("a", 0, "I", 0, role="user", text="hello", tool="t0"),
        _ev("b", 0, "I", 1, role="user", text="bye"),
    ]
    rows2 = [
        _ev("a", 0, "U", 2, cols_set=["tool"], tool="t1"),
        _ev("b", 0, "D", 3),
        _ev("c", 0, "U", 4, cols_set=["text"], text="orphan"),
    ]
    watch = str(tmp_path / "watch")
    os.makedirs(watch, exist_ok=True)
    ckpt = str(tmp_path / "ckpt")
    table_path = str(tmp_path / "table")

    spark.createDataFrame(rows1, PATCH_SCHEMA).coalesce(1).write.parquet(
        f"{tmp_path}/d1"
    )
    _stage(f"{tmp_path}/d1", watch)
    s1 = start_ingest_stream(
        spark, file_event_source(spark, watch, PATCH_SCHEMA), table_path, ckpt,
        patch=True,
    )
    s1.await_and_stop()
    spark.createDataFrame(rows2, PATCH_SCHEMA).coalesce(1).write.parquet(
        f"{tmp_path}/d2"
    )
    _stage(f"{tmp_path}/d2", watch)
    s2 = start_ingest_stream(
        spark, file_event_source(spark, watch, PATCH_SCHEMA), table_path, ckpt,
        patch=True,
    )
    s2.await_and_stop()

    got = (
        s2.table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool"]]
    )
    want = _fold_oracle(rows1 + rows2).drop(columns=["ts"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the patched row kept its stored text
    assert got.set_index("conv_id").loc["a", "text"] == "hello"
    assert got.set_index("conv_id").loc["a", "tool"] == "t1"


def test_stream_patch_mode_guards(spark, tmp_path):
    from tests.test_partial import SCHEMA as PATCH_SCHEMA

    os.makedirs(str(tmp_path / "w"), exist_ok=True)
    src = file_event_source(spark, str(tmp_path / "w"), PATCH_SCHEMA)
    with pytest.raises(ValueError, match="cols_set"):
        start_ingest_stream(
            spark, src, str(tmp_path / "t"), str(tmp_path / "c"),
            patch=True, wire=True, dlq_path=str(tmp_path / "q"),
        )
    with pytest.raises(ValueError, match="CoW"):
        start_ingest_stream(
            spark, src, str(tmp_path / "t"), str(tmp_path / "c"),
            patch=True, mode="mor",
        )
