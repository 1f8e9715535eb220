"""Merge-on-read mode: O(batch) delta commits, LWW at read.

Contract: a MoR table is OBSERVATIONALLY IDENTICAL to the CoW table fed
the same batches — read(), lineage, fence behavior, schema evolution —
while its commits write only the batch (the scale shape for long chunked
CDC ingest, where CoW's per-commit rewrite is O(N·table)).
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_plugins_spark.lake import ParquetSnapshotTable
from kafka_plugins_spark.replay import replay
from tests.util import assert_tables_equal, duckdb_final_state


def test_mor_replay_equals_cow_and_oracle(spark, events_path, tmp_path):
    cow, _ = replay(spark, events_path, str(tmp_path / "cow"), chunk_size=300, mode="cow")
    mor, res = replay(spark, events_path, str(tmp_path / "mor"), chunk_size=300, mode="mor")
    want = duckdb_final_state(events_path)
    assert_tables_equal(mor.read().toPandas(), want)
    assert_tables_equal(cow.read().toPandas(), want)
    # MoR wrote one delta dir per applied commit, nothing else
    n_applied = sum(1 for r in res if not r.skipped)
    assert len(mor.current_snapshot()["data_paths"]) == n_applied > 1
    # identical lineage rows
    cols = ["batch_id", "partition", "start_offset", "end_offset", "rows"]
    assert sorted(map(tuple, cow.read_lineage().select(cols).collect())) == sorted(
        map(tuple, mor.read_lineage().select(cols).collect())
    )


def test_mor_commits_are_batch_sized(spark, events_path, tmp_path):
    """The point of MoR: bytes written per commit track the BATCH, not
    the table — total delta bytes stay O(events), while CoW's rewrites
    sum to O(n_chunks · table)."""
    def du(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
        )

    mor, res = replay(spark, events_path, str(tmp_path / "mor"), chunk_size=200, mode="mor")
    cow, _ = replay(spark, events_path, str(tmp_path / "cow"), chunk_size=200, mode="cow")
    mor_bytes = du(str(tmp_path / "mor" / "data"))
    cow_bytes = du(str(tmp_path / "cow" / "data"))
    n_applied = sum(1 for r in res if not r.skipped)
    assert n_applied >= 5
    # CoW keeps every rewritten snapshot; MoR keeps one delta per commit.
    # The live MoR data is a fraction of CoW's accumulated rewrites.
    assert mor_bytes < cow_bytes / 2, (mor_bytes, cow_bytes)


def test_mor_replay_is_fenced_and_resumable(spark, events_path, tmp_path):
    t = str(tmp_path / "t")
    _, first = replay(spark, events_path, t, chunk_size=300, mode="mor", max_chunks=2)
    assert sum(1 for r in first if not r.skipped) == 2
    table, rest = replay(spark, events_path, t, chunk_size=300, mode="mor")
    assert all(r.skipped for r in rest[:2]) and any(not r.skipped for r in rest)
    assert_tables_equal(table.read().toPandas(), duckdb_final_state(events_path))
    # full re-replay: every commit fence-skipped, no new delta dirs
    paths_before = table.current_snapshot()["data_paths"]
    _, again = replay(spark, events_path, t, chunk_size=300, mode="mor")
    assert all(r.skipped for r in again)
    assert table.current_snapshot()["data_paths"] == paths_before


def test_mor_compact_folds_deltas(spark, events_path, tmp_path):
    table, _ = replay(spark, events_path, str(tmp_path / "t"), chunk_size=300, mode="mor")
    before = table.read().toPandas()
    assert len(table.current_snapshot()["data_paths"]) > 1
    res = table.compact()
    assert not res.skipped
    assert len(table.current_snapshot()["data_paths"]) == 1
    assert_tables_equal(table.read().toPandas(), before)
    # still fenced after compaction
    _, again = replay(spark, events_path, str(tmp_path / "t"), chunk_size=300, mode="mor")
    assert all(r.skipped for r in again)


def test_mode_none_follows_table_on_disk(spark, events_path, tmp_path):
    t = str(tmp_path / "t")
    replay(spark, events_path, t, chunk_size=300, mode="mor", max_chunks=2)
    # reopen WITHOUT a mode: must keep appending deltas, not rewrite
    table, _ = replay(spark, events_path, t, chunk_size=300)
    assert "data_paths" in table.current_snapshot()
    assert_tables_equal(table.read().toPandas(), duckdb_final_state(events_path))


def test_mor_schema_evolution_null_backfills(spark, tmp_path):
    from kafka_plugins_spark.schema import CHANGE_EVENT

    base = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None, "I", 0, 0)], CHANGE_EVENT
    )
    evolved = spark.createDataFrame(
        [("c2", 0, "user", "bonjour", None, None, "I", 0, 1)], CHANGE_EVENT
    ).withColumn("model", F.lit("m-1"))
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode="mor")
    table.merge_into(base, batch_id=0, ranges={0: (0, 1)})
    table.merge_into(evolved, batch_id=1, ranges={0: (1, 2)})
    got = {r["conv_id"]: r["model"] for r in table.read().collect()}
    # old delta file lacks the column — reader-side evolution nulls it
    assert got == {"c1": None, "c2": "m-1"}
    assert "model" in [f.name for f in table.table_schema().fields]


def test_expire_snapshots_gc(spark, events_path, tmp_path):
    """expire_snapshots removes unreferenced data dirs + old snapshot
    files in BOTH modes; reads/fence survive on the kept snapshot."""
    # CoW: every commit left a dead rewritten copy
    cow, _ = replay(spark, events_path, str(tmp_path / "cow"), chunk_size=300, mode="cow")
    before = cow.read().toPandas()
    data_root = str(tmp_path / "cow" / "data")
    n_dirs = len(os.listdir(data_root))
    out = cow.expire_snapshots(keep_last=1)
    assert out["data_dirs_removed"] == n_dirs - 1 and out["snapshots_removed"] > 0
    assert_tables_equal(cow.read().toPandas(), before)
    _, again = replay(spark, events_path, str(tmp_path / "cow"), chunk_size=300, mode="cow")
    assert all(r.skipped for r in again)  # fence state survived GC

    # MoR: deltas stay LIVE until compact folds them
    mor, _ = replay(spark, events_path, str(tmp_path / "mor"), chunk_size=300, mode="mor")
    n_deltas = len(mor.current_snapshot()["data_paths"])
    out = mor.expire_snapshots(keep_last=1)
    assert out["data_dirs_removed"] == 0  # all deltas referenced by current
    mor.compact()
    out = mor.expire_snapshots(keep_last=1)
    assert out["data_dirs_removed"] == n_deltas
    assert_tables_equal(mor.read().toPandas(), before)

    import pytest

    with pytest.raises(ValueError):
        mor.expire_snapshots(keep_last=0)


@pytest.mark.parametrize(
    "mode,side",
    [("cow", "in-process"), ("cow", "spark"), ("mor", "in-process"), ("mor", "spark")],
    ids=["cow-in-process", "cow-spark", "mor-in-process", "mor-spark"],
)
def test_mor_read_key_equals_filtered_read_every_snapshot(spark, tmp_path, mode, side):
    """A CoW or MoR point read resolves its key on the driver, not
    through read()'s window, from rows read in-process by pyarrow when
    the snapshot fits in one scan split and by one Spark scan above that
    bound (``side``). For every key and every retained snapshot it must
    return exactly read(sid).filter(conv_id == key), schema included —
    also for a column added later (NULL in old files) and an int→long
    promoted column whose old files store int32."""
    import datetime

    import pyarrow.parquet as pq

    from kafka_plugins_spark.lake import _data_files
    from kafka_plugins_spark.schema import CHANGE_EVENT
    from tests.util import spark_jobs

    ts = datetime.datetime(2026, 1, 1)

    def batch(rows, n_type="int"):
        return spark.createDataFrame(
            [(c, turn, "user", text, None, ts, op, 0, off) for c, turn, text, op, off in rows],
            CHANGE_EVENT,
        ).withColumn("n", (F.col("offset") * (1 << 33 if n_type == "long" else 1)).cast(n_type))

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode=mode)
    table.merge_into(batch([("k1", 0, "a", "I", 10), ("k1", 1, "b", "I", 11),
                            ("k2", 0, "c", "I", 12), ("k3", 0, "d", "I", 13)]), batch_id=0)
    table.merge_into(batch([("k1", 0, "stale", "U", 5),  # later delta, lower offset: loses
                            ("k2", 0, None, "D", 14),  # tombstone
                            ("k4", 0, "e", "I", 15)]), batch_id=1)
    table.merge_into(batch([("k2", 0, "c2", "I", 16),  # re-insert after the tombstone
                            ("k3", 0, None, "D", 17)]), batch_id=2)
    table.merge_into(  # a column added and ``n`` promoted to long in the last commit
        batch([("k1", 1, "b2", "U", 18)], "long").withColumn("model", F.lit("m-1")), batch_id=3
    )
    paths = table._snapshot_paths(table.current_snapshot())
    assert len(paths) == (4 if mode == "mor" else 1)
    types = {f.name: f.dataType.simpleString() for f in table.table_schema().fields}
    assert (types["n"], types["model"]) == ("bigint", "string")
    if mode == "mor":  # the first delta's files still store n as int32
        assert {str(pq.read_schema(f).field("n").type) for f in _data_files(paths[:1])} == {"int32"}

    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["n"], r["model"])
           for r in table.read_key("k1").collect() + table.read_key("k2").collect()}
    assert got == {("k1", 0): ("a", 10, None), ("k1", 1): ("b2", 18 << 33, "m-1"),
                   ("k2", 0): ("c2", 16, None)}
    assert table.read_key("k3").collect() == []

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        for sid in [s["snapshot_id"] for s in table.snapshots()]:
            full = table.read(sid)
            if side == "spark":
                size = sum(_data_files(table._snapshot_paths(table.snapshot_by_id(sid))).values())
                spark.conf.set(key, str(size - 1))
            for k in ("k1", "k2", "k3", "k4", "absent"):
                df = table.read_key(k, sid)
                assert df.schema == full.schema, (sid, k)
                rows, jobs = spark_jobs(spark, df.collect)
                assert jobs == 0, (sid, k)  # the result is a local frame
                want = full.filter(F.col("conv_id") == k).collect()
                assert sorted(rows) == sorted(want), (sid, k)
            _, jobs = spark_jobs(spark, lambda: table.read_key("k1", sid))
            assert jobs == (1 if side == "spark" else 0), sid
    finally:
        spark.conf.set(key, old)
