"""Fence / resume / failure semantics (SURVEY.md §5 items 2-3).

Mirrors the reference's state-store test matrix: resume skips committed
work (KafkaStreamingSourceStateStoreTest), a failed batch must not advance
the cursor (KafkaStreamingSourceStateStoreFailureTest), and replaying a
committed range is a no-op — but here the guarantee is exactly-once, not
at-least-once, because the cursor commits atomically with the data.
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_plugins_spark.lake import IcebergMergeBackend, ParquetSnapshotTable
from kafka_plugins_spark.operators.resolve import last_writer_wins
from kafka_plugins_spark.replay import replay
from tests.util import assert_tables_equal, duckdb_final_state


def test_resume_after_partial_replay(spark, events_path, tmp_path):
    path = str(tmp_path / "t")
    # first half
    table, r1 = replay(spark, events_path, path, chunk_size=150, max_chunks=2)
    applied_1 = [r for r in r1 if not r.skipped]
    assert applied_1
    # resume: full replay from the start — committed chunks fence out
    table, r2 = replay(spark, events_path, path, chunk_size=150)
    skipped = [r for r in r2 if r.skipped]
    assert len(skipped) >= len(applied_1)
    assert_tables_equal(table.read().toPandas(), duckdb_final_state(events_path))


def test_replay_committed_range_is_noop(spark, events_path, tmp_path):
    path = str(tmp_path / "t")
    table, r1 = replay(spark, events_path, path)
    snap_before = table.current_snapshot()
    table, r2 = replay(spark, events_path, path)
    assert all(r.skipped for r in r2)
    assert table.current_snapshot() == snap_before
    assert_tables_equal(table.read().toPandas(), duckdb_final_state(events_path))


def test_two_half_replay_equals_single_shot(spark, events_path, tmp_path):
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    t_one, _ = replay(spark, events_path, one)
    t_two, _ = replay(spark, events_path, two, chunk_size=100, max_chunks=3)
    t_two, _ = replay(spark, events_path, two, chunk_size=100)
    assert_tables_equal(t_two.read().toPandas(), t_one.read().toPandas())


def test_failed_batch_does_not_advance_cursor(spark, events_path, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    table, _ = replay(spark, events_path, path, chunk_size=150, max_chunks=1)
    wm_before = table.watermarks()

    # make the data write blow up mid-commit
    orig = ParquetSnapshotTable._commit

    def boom(self, snap_id, snapshot):
        raise RuntimeError("injected failure before snapshot publish")

    monkeypatch.setattr(ParquetSnapshotTable, "_commit", boom)
    with pytest.raises(RuntimeError, match="injected"):
        replay(spark, events_path, path, chunk_size=150, max_chunks=2)
    monkeypatch.setattr(ParquetSnapshotTable, "_commit", orig)

    t2 = ParquetSnapshotTable(spark, path)
    assert t2.watermarks() == wm_before  # cursor unmoved
    # restart reprocesses exactly the failed range and converges
    t2, _ = replay(spark, events_path, path, chunk_size=150)
    assert_tables_equal(t2.read().toPandas(), duckdb_final_state(events_path))


@pytest.mark.parametrize("compact_between", [False, True])
def test_failed_publish_retry_keeps_lineage_exact(
    spark, events_path, tmp_path, monkeypatch, compact_between
):
    """A publish that fails after the lineage file is written, then a
    retry: read_lineage() holds exactly one row per (batch, partition)
    that landed. With a compaction in between, the compaction takes the
    failed publish's snapshot id and must not expose its lineage."""
    path = str(tmp_path / "t")
    table, _ = replay(spark, events_path, path, chunk_size=150, max_chunks=1)

    def boom(self, snap_id, snapshot):
        raise RuntimeError("injected failure before snapshot publish")

    with monkeypatch.context() as m:
        m.setattr(ParquetSnapshotTable, "_commit", boom)
        with pytest.raises(RuntimeError, match="injected"):
            replay(spark, events_path, path, chunk_size=150, max_chunks=2)
    assert table.read_lineage().filter(F.col("batch_id") == 1).count() == 0
    if compact_between:
        assert not table.compact().skipped

    t2, _ = replay(spark, events_path, path, chunk_size=150)
    lin = t2.read_lineage()
    assert lin.groupBy("batch_id", "partition").count().filter("count > 1").count() == 0
    landed = {
        (s["batch_id"], r["partition"], r["start_offset"], r["end_offset"], r["rows"])
        for s in t2.snapshots()
        for r in s.get("lineage", [])
    }
    got = {
        (r["batch_id"], r["partition"], r["start_offset"], r["end_offset"], r["rows"])
        for r in lin.collect()
    }
    assert got == landed
    assert_tables_equal(t2.read().toPandas(), duckdb_final_state(events_path))


def test_partial_overlap_applies_only_suffix(spark, events_path, tmp_path):
    """A batch straddling the watermark applies only the unseen suffix."""
    path = str(tmp_path / "t")
    table, _ = replay(spark, events_path, path, chunk_size=150, max_chunks=1)
    ev = spark.read.parquet(events_path)
    # batch covering [0, 300) per partition — [0, 150) is already committed
    batch = ev.filter(F.col("offset") < 300)
    winners = last_writer_wins(batch)
    from kafka_plugins_spark.sources.events import partition_end_offsets

    ends = partition_end_offsets(batch)
    res = table.merge_into(winners, batch_id=99, ranges={p: (0, e) for p, e in ends.items()})
    assert not res.skipped
    for p, (lo, _) in res.ranges.items():
        assert lo >= 150  # fence clipped the committed prefix
    lin = table.read_lineage().filter(F.col("batch_id") == 99).collect()
    assert all(r["start_offset"] >= 150 for r in lin)


def test_empty_table_reads_empty(spark, tmp_path):
    t = ParquetSnapshotTable(spark, str(tmp_path / "nothing"))
    assert t.read().count() == 0
    assert t.watermarks() == {}


def test_delete_events_remove_rows(spark, events_path, tmp_path):
    table, _ = replay(spark, events_path, str(tmp_path / "t"))
    ev = spark.read.parquet(events_path)
    deleted_keys = (
        last_writer_wins(ev).filter(F.col("op") == "D").select("conv_id", "turn_idx")
    )
    n_deleted = deleted_keys.count()
    assert n_deleted > 0
    present = table.read().join(deleted_keys, ["conv_id", "turn_idx"], "inner").count()
    assert present == 0


def test_iceberg_merge_sql():
    sql = IcebergMergeBackend("lake.db.transcripts").build_merge_sql("updates_v")
    assert "MERGE INTO lake.db.transcripts t" in sql
    assert "USING updates_v s" in sql
    assert "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in sql
    # LWW order guard: replays / out-of-order batches can't clobber newer rows
    assert "WHEN MATCHED AND s.offset > t._offset THEN UPDATE SET" in sql
    assert "t._op = s.op" in sql and "t._offset = s.offset" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    assert "t.text = s.text" in sql
    # guard can be disabled for strictly-ordered sources
    plain = IcebergMergeBackend("x").build_merge_sql("v", order_guard=False)
    assert "WHEN MATCHED THEN UPDATE" in plain


def test_time_travel_and_rollback(spark, events_path, tmp_path):
    """read(snapshot_id=...) time-travels; rollback_to reverts data AND
    fence together, so rolled-back ranges re-ingest instead of being
    silently skipped (the rollback data-loss trap), in both modes."""
    from kafka_plugins_spark.replay import replay
    from tests.util import assert_tables_equal, duckdb_final_state

    for mode in ("cow", "mor"):
        t = str(tmp_path / mode)
        table, res = replay(spark, events_path, t, chunk_size=300, mode=mode)
        applied = [r for r in res if not r.skipped]
        assert len(applied) >= 3
        first_id = applied[0].snapshot_id
        full = table.read().toPandas()
        early = table.read(snapshot_id=first_id).toPandas()
        assert len(early) < len(full)  # time travel sees the old state

        table.rollback_to(first_id)
        assert_tables_equal(
            table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
            early.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        )
        # fence reverted with the data: later chunks re-apply, then converge
        table2, res2 = replay(spark, events_path, t, chunk_size=300, mode=mode)
        assert any(not r.skipped for r in res2)
        assert_tables_equal(table2.read().toPandas(), duckdb_final_state(events_path))

    import pytest

    with pytest.raises(ValueError, match="no snapshot"):
        table.read(snapshot_id=99999)


def test_commit_race_exactly_one_wins(spark, events_path, tmp_path):
    """Two writers racing the SAME snapshot id: the exclusive link(2)
    publish guarantees exactly one commit lands and the loser raises —
    check-then-rename would let the second silently clobber the first."""
    import threading

    table, _ = replay(spark, events_path, str(tmp_path / "t"), chunk_size=10**9)
    snap = table.current_snapshot()
    nxt = snap["snapshot_id"] + 1
    errors, barrier = [], threading.Barrier(2)

    def racer(tag):
        barrier.wait()
        try:
            table._commit(nxt, dict(snap, snapshot_id=nxt, racer=tag))
        except RuntimeError as e:
            errors.append(e)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(errors) == 1 and "already committed" in str(errors[0])
    assert table.current_snapshot()["snapshot_id"] == nxt
    # no temp-file litter left behind by either racer
    import os as _os

    snap_dir = str(tmp_path / "t" / "_snapshots")
    assert not [f for f in _os.listdir(snap_dir) if f.startswith(".tmp-")]


def test_expire_with_different_path_spelling(spark, events_path, tmp_path, monkeypatch):
    """ADVICE r3 (medium): snapshots record the write-time path spelling.
    Expiring through a handle opened with a DIFFERENT spelling (relative
    vs absolute) must still see the kept snapshot's data dirs as live —
    full-path string comparison would delete ALL data dirs."""
    abs_path = str(tmp_path / "t")
    table, _ = replay(spark, events_path, abs_path, chunk_size=300)
    before = table.read().toPandas()
    monkeypatch.chdir(tmp_path)
    other = ParquetSnapshotTable(spark, "./t")
    out = other.expire_snapshots(keep_last=1)
    assert out["snapshots_removed"] > 0 and out["data_dirs_removed"] > 0
    # the current snapshot's data survived — readers on either handle work
    assert_tables_equal(table.read().toPandas(), before)
    assert_tables_equal(other.read().toPandas(), before)


def test_rollback_empty_table_raises(spark, tmp_path):
    """ADVICE r3 (low): rollback on a table with no commits is a clear
    ValueError, not a TypeError on a None snapshot."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError):
        t.rollback_to(1)


def test_drop_delivered_fragmented_interval_set_bounded_plan(spark):
    """VERDICT r4 item 6: a pathologically fragmented delivered set (10k
    disjoint intervals) must not inline a 10k-term OR-chain — the filter
    falls back to a broadcast range-table anti-join, and the result is
    identical to interval semantics (rows inside any interval dropped)."""
    from pyspark.sql import functions as F

    from kafka_plugins_spark.lake import (
        DELIVERED_FILTER_MAX_INTERVALS,
        _drop_delivered,
    )

    n_iv = 10_000
    events = spark.range(4 * n_iv).select(
        (F.col("id") % 2).cast("int").alias("partition"),
        (F.col("id") / 2).cast("long").alias("offset"),
    )
    # even offsets delivered, odd not — n_iv single-offset intervals per partition
    delivered = {p: [(2 * i, 2 * i + 1) for i in range(n_iv // 2)] for p in (0, 1)}
    out = _drop_delivered(events, delivered)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan or "left_anti" in plan
    assert len(plan) < 50_000, "plan should be bounded, not an inlined OR-chain"
    got = out.groupBy("partition").agg(
        F.count("*").alias("n"), F.sum(F.col("offset") % 2).alias("n_odd")
    ).collect()
    for r in got:
        assert r["n"] == n_iv // 2 + n_iv  # odd offsets inside range + all offsets >= n_iv
        assert r["n_odd"] >= n_iv // 2

    # the steady state (few merged intervals) stays an inline predicate
    small = _drop_delivered(events, {0: [(0, 10)], 1: [(0, 5)]})
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in small_plan
    assert small.count() == 4 * n_iv - 15
    assert sum(len(v) for v in delivered.values()) > DELIVERED_FILTER_MAX_INTERVALS


# --- incremental changelog read (changes_between) --------------------------
# The read half of CDC: Iceberg-changelog / Delta-CDF semantics over the
# sandbox snapshot table. Every scenario must hold in BOTH write modes.

def _batch(spark, rows):
    from kafka_plugins_spark.schema import CHANGE_EVENT
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(cid, 0, role, text, None, ts, op, 0, off) for (cid, role, text, op, off) in rows],
        CHANGE_EVENT,
    )


def _changes(table, a, b):
    rows = table.changes_between(a, b).collect()
    return sorted((r["conv_id"], r["_change_type"], r["text"]) for r in rows)


@pytest.mark.parametrize("mode", ["cow", "mor", "bucketed"])
def test_changelog_classifies_insert_update_delete(spark, tmp_path, mode):
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode=mode)
    r1 = table.merge_into(
        last_writer_wins(
            _batch(spark, [("k1", "user", "a", "I", 0), ("k2", "user", "b", "I", 1),
                           ("k3", "user", "c", "I", 2)])
        ),
        batch_id=0,
    )
    r2 = table.merge_into(
        last_writer_wins(
            _batch(spark, [("k2", "user", "b2", "U", 3), ("k3", None, None, "D", 4),
                           ("k4", "user", "d", "I", 5)])
        ),
        batch_id=1,
    )
    got = _changes(table, r1.snapshot_id, r2.snapshot_id)
    assert got == [
        ("k2", "update_after", "b2"),
        ("k2", "update_before", "b"),
        ("k3", "delete", "c"),
        ("k4", "insert", "d"),
    ]
    # k1 untouched — emits nothing; from=None sees only visible rows, all inserts
    assert _changes(table, None, r2.snapshot_id) == [
        ("k1", "insert", "a"),
        ("k2", "insert", "b2"),
        ("k4", "insert", "d"),
    ]
    with pytest.raises(ValueError):
        table.changes_between(r2.snapshot_id, r1.snapshot_id)


def test_changelog_mor_equals_cow(spark, events_path, tmp_path):
    """Replay the same chunked event log through both modes; the changelog
    between every adjacent snapshot pair must be identical — MoR's pruned
    increment path and CoW's full-join path compute the same answer."""
    from kafka_plugins_spark.replay import replay

    cow, rc = replay(spark, events_path, str(tmp_path / "cow"), chunk_size=300, mode="cow")
    mor, rm = replay(spark, events_path, str(tmp_path / "mor"), chunk_size=300, mode="mor")
    snaps_c = [r.snapshot_id for r in rc if not r.skipped]
    snaps_m = [r.snapshot_id for r in rm if not r.skipped]
    assert len(snaps_c) == len(snaps_m) >= 2
    key = ["conv_id", "turn_idx", "_change_type"]
    for (a_c, b_c), (a_m, b_m) in zip(
        zip(snaps_c, snaps_c[1:]), zip(snaps_m, snaps_m[1:])
    ):
        pc = cow.changes_between(a_c, b_c).toPandas().sort_values(key).reset_index(drop=True)
        pm = mor.changes_between(a_m, b_m).toPandas().sort_values(key).reset_index(drop=True)
        assert pc.equals(pm), (a_c, b_c)
        assert len(pc) > 0


def test_changelog_applies_to_prior_snapshot(spark, events_path, tmp_path):
    """Algebraic invariant: visible(A) + changes(A→B) == visible(B) —
    apply inserts/update_afters, drop deletes/update_befores."""
    from kafka_plugins_spark.replay import replay

    table, res = replay(spark, events_path, str(tmp_path / "t"), chunk_size=400, mode="mor")
    snaps = [r.snapshot_id for r in res if not r.skipped]
    a_id, b_id = snaps[0], snaps[-1]
    ch = table.changes_between(a_id, b_id).toPandas()
    before = table.read(a_id).toPandas()
    after = table.read(b_id).toPandas()
    key = ["conv_id", "turn_idx"]
    removed = ch[ch["_change_type"].isin(["delete", "update_before"])][key]
    added = ch[ch["_change_type"].isin(["insert", "update_after"])].drop(columns="_change_type")
    patched = (
        before.merge(removed.assign(_rm=1), on=key, how="left")
        .query("_rm != 1")
        .drop(columns="_rm")
    )
    import pandas as pd

    patched = pd.concat([patched, added], ignore_index=True)
    srt = lambda d: d.sort_values(key).reset_index(drop=True)[sorted(d.columns)]
    assert srt(patched).equals(srt(after))


@pytest.mark.parametrize("mode", ["cow", "mor", "bucketed"])
def test_changelog_schema_evolution_is_update(spark, tmp_path, mode):
    """A later commit that only populates a newly-added column must
    classify as an update pair (old image carries NULL for the new
    column), not as a spurious insert."""
    from kafka_plugins_spark.schema import CHANGE_EVENT_V0
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode=mode)
    v0 = spark.createDataFrame(
        [("k1", 0, "user", "a", ts, "I", 0, 0)], CHANGE_EVENT_V0
    )
    r1 = table.merge_into(last_writer_wins(v0), batch_id=0)
    from kafka_plugins_spark.schema import CHANGE_EVENT

    v1 = spark.createDataFrame(
        [("k1", 0, "user", "a", "calc", ts, "U", 0, 1)], CHANGE_EVENT
    )
    r2 = table.merge_into(last_writer_wins(v1), batch_id=1)
    rows = {r["_change_type"]: r for r in table.changes_between(r1.snapshot_id, r2.snapshot_id).collect()}
    assert set(rows) == {"update_before", "update_after"}
    assert rows["update_before"]["tool"] is None
    assert rows["update_after"]["tool"] == "calc"


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: read(as_of_ms=...) resolves to the newest
    snapshot committed at or before the instant; ids still order
    history (committed_at_ms is informational)."""
    import time as _time

    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    table.merge_into(last_writer_wins(_batch(spark, [("a", "user", "v1", "I", 0)])), batch_id=0)
    t1 = table.current_snapshot()["committed_at_ms"]
    _time.sleep(0.05)
    table.merge_into(last_writer_wins(_batch(spark, [("a", "user", "v2", "U", 1)])), batch_id=1)
    t2 = table.current_snapshot()["committed_at_ms"]
    assert t2 >= t1

    assert table.read(as_of_ms=t1).collect()[0]["text"] == "v1"
    assert table.read(as_of_ms=t2).collect()[0]["text"] == "v2"
    assert table.read(as_of_ms=t2 + 10_000).collect()[0]["text"] == "v2"
    with pytest.raises(ValueError, match="at or before"):
        table.read(as_of_ms=t1 - 10_000)
    with pytest.raises(ValueError, match="not both"):
        table.read(snapshot_id=0, as_of_ms=t1)


def test_remove_orphan_files_keeps_history_and_inflight(spark, tmp_path):
    """Orphan GC: dirs referenced by NO snapshot (crash between data
    write and snapshot commit) and stale commit temps go; every
    HISTORICAL and STAGED dir stays; dirs younger than older_than_sec
    survive (the concurrent-writer race guard)."""
    import os

    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    path = str(tmp_path / "t")
    table = ParquetSnapshotTable(spark, path)
    table.merge_into(last_writer_wins(_batch(spark, [("a", "user", "v1", "I", 0)])), batch_id=0)
    table.merge_into(last_writer_wins(_batch(spark, [("a", "user", "v2", "U", 1)])), batch_id=1)
    staged = table.stage_merge(
        last_writer_wins(_batch(spark, [("b", "user", "s", "I", 2)])),
        batch_id=2, ranges={0: (2, 3)},
    )
    # simulate a crashed writer: an unreferenced data dir + a commit temp
    orphan = os.path.join(path, "data", "snap-999999")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").write(b"x")
    tmp_json = os.path.join(path, "_snapshots", ".tmp-deadbeef.json")
    open(tmp_json, "w").write("{}")

    # young orphans survive the race guard...
    res = table.remove_orphan_files(older_than_sec=3600)
    assert res == {"data_dirs_removed": 0, "tmp_files_removed": 0}
    assert os.path.isdir(orphan)
    # ...and age out
    res = table.remove_orphan_files(older_than_sec=0)
    assert res == {"data_dirs_removed": 1, "tmp_files_removed": 1}
    assert not os.path.isdir(orphan) and not os.path.exists(tmp_json)

    # history AND the staged commit still read back intact
    assert table.read(snapshot_id=0).collect()[0]["text"] == "v1"
    assert table.read().collect()[0]["text"] == "v2"
    assert {r["conv_id"] for r in table.read_staged(staged).collect()} == {"a", "b"}
    table.publish_staged(staged)
    assert {r["conv_id"] for r in table.read().collect()} == {"a", "b"}


def test_fsck_reports_each_corruption_class(spark, tmp_path):
    """The lakehouse fsck: healthy tables report nothing; a deleted data
    dir, a hand-corrupted fence, and a stale WAP stage each produce
    their finding — metadata-only, so it is safe to poll."""
    import json as _json
    import shutil as _shutil

    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    path = str(tmp_path / "t")
    table = ParquetSnapshotTable(spark, path)
    table.merge_into(last_writer_wins(_batch(spark, [("a", "user", "v1", "I", 0)])), batch_id=0)
    table.merge_into(last_writer_wins(_batch(spark, [("b", "user", "v2", "I", 1)])), batch_id=1)
    assert table.fsck() == []

    # stale stage: built on snapshot 1, then an interleaved commit lands
    staged = table.stage_merge(
        last_writer_wins(_batch(spark, [("c", "user", "s", "I", 2)])),
        batch_id=2, ranges={0: (2, 3)},
    )
    assert table.fsck() == []  # fresh stage is fine
    table.merge_into(last_writer_wins(_batch(spark, [("d", "user", "v3", "I", 3)])), batch_id=3)
    issues = {f["issue"] for f in table.fsck()}
    assert issues == {"stale_stage"}
    table.abort_staged(staged)

    # missing path: delete snapshot 0's data dir out from under it
    snap0 = table.snapshot_by_id(0)
    _shutil.rmtree(table._snapshot_paths(snap0)[0])
    issues = [f for f in table.fsck() if f["issue"] == "missing_path"]
    assert len(issues) == 1 and issues[0]["snapshot"] == "000000"

    # bad intervals: hand-corrupt the head's delivered set
    head = table.current_snapshot()
    f = os.path.join(path, "_snapshots", f"{head['snapshot_id']:06d}.json")
    head["delivered"]["0"] = [[5, 2]]
    open(f, "w").write(_json.dumps(head))
    issues = {x["issue"] for x in table.fsck()}
    assert "bad_intervals" in issues


def test_fsck_rollback_watermark_exempt(spark, tmp_path):
    """rollback_to legitimately reverts watermarks WITH the data — fsck
    must not flag it, but must flag an out-of-band watermark regression
    on a non-rollback snapshot."""
    import json as _json

    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    path = str(tmp_path / "t")
    table = ParquetSnapshotTable(spark, path)
    table.merge_into(last_writer_wins(_batch(spark, [("a", "user", "v1", "I", 0)])), batch_id=0)
    table.merge_into(last_writer_wins(_batch(spark, [("b", "user", "v2", "I", 5)])), batch_id=1)
    table.rollback_to(0)
    assert table.fsck() == []
    # out-of-band: rewrite the head's watermark below its predecessor's
    # WITHOUT the rollback marker
    head = table.current_snapshot()
    head["watermarks"] = {"0": 0}
    head.pop("rollback_of", None)
    f = os.path.join(path, "_snapshots", f"{head['snapshot_id']:06d}.json")
    open(f, "w").write(_json.dumps(head))
    assert {x["issue"] for x in table.fsck()} == {"non_monotonic_watermark"}
