"""purge_keys: GDPR / right-to-be-forgotten hard delete, per write mode.

The reference's sink is append-only with no deletion story at all
(KafkaBatchSink provenance in lake.py); a transcripts table at 10^10
events needs an engine-owned purge that actually removes the bytes, not
a tombstone that hides them. Properties pinned here:

- the purge snapshot's DATA FILES contain none of the purged key's text
  (checked by scanning the raw parquet bytes, not the resolved view);
- tombstones of other keys survive (they still fence resurrection);
- delivered intervals / watermarks are unchanged — future CDC events
  for a purged conversation legitimately re-insert it;
- bucketed mode rewrites ONLY the touched buckets (untouched manifest
  entries carry the SAME path strings by reference);
- purge_history=True leaves no retained file anywhere under the table
  with the purged text;
- changes_between across the purge emits delete rows, so maintained
  views advance consistently.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_plugins_spark.lake import ParquetSnapshotTable
from kafka_plugins_spark.operators.resolve import last_writer_wins
from tests.test_lake import _batch
from tests.util import spark_jobs


def _table(spark, path, mode=None, **kw):
    table = ParquetSnapshotTable(spark, path, mode=mode, **kw)
    table.merge_into(
        last_writer_wins(
            _batch(
                spark,
                [("keepme", "user", "keep-text", "I", 0),
                 ("purgeme", "user", "SECRET-ALPHA", "I", 1),
                 ("gone", "user", "dead-text", "I", 2)],
            )
        ),
        batch_id=0,
    )
    table.merge_into(
        last_writer_wins(
            _batch(
                spark,
                [("purgeme", "user", "SECRET-BETA", "U", 10),
                 ("gone", None, None, "D", 11)],
            )
        ),
        batch_id=1,
    )
    return table


def _parquet_bytes(paths: list[str]) -> bytes:
    out = b""
    for p in paths:
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
            with open(f, "rb") as fh:
                out += fh.read()
    return out


@pytest.mark.parametrize("mode,kw", [(None, {}), ("mor", {}), ("bucketed", {"n_buckets": 8})])
def test_purge_removes_bytes_keeps_other_tombstones_and_fence(spark, tmp_path, mode, kw):
    table = _table(spark, str(tmp_path / "t"), mode=mode, **kw)
    wm_before = table.watermarks()
    delivered_before = table.delivered_ranges()

    res = table.purge_keys(["purgeme"])
    assert not res["skipped"] and res["rows_purged"] >= 1

    # resolved view: purged key gone, others untouched
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got == {"keepme": "keep-text"}
    # the purge snapshot's data files contain none of the purged text
    blob = _parquet_bytes(table._snapshot_paths(table.current_snapshot()))
    assert b"SECRET-ALPHA" not in blob and b"SECRET-BETA" not in blob
    assert b"keep-text" in blob
    # the OTHER key's tombstone survives (still fences resurrection)
    full = table._read_full().filter(F.col("conv_id") == "gone").collect()
    assert len(full) == 1 and full[0]["_op"] == "D"
    # fence untouched: a purge consumes no offsets
    assert table.watermarks() == wm_before
    assert table.delivered_ranges() == delivered_before

    # future CDC events re-insert the purged conversation (log = truth)
    table.merge_into(
        last_writer_wins(_batch(spark, [("purgeme", "user", "fresh", "I", 20)])),
        batch_id=2,
    )
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got == {"keepme": "keep-text", "purgeme": "fresh"}


def test_purge_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode="bucketed", n_buckets=16)
    table.merge_into(
        last_writer_wins(
            _batch(spark, [(f"c{i}", "user", f"t{i}", "I", i) for i in range(64)])
        ),
        batch_id=0,
    )
    before = dict(table.current_snapshot()["bucket_paths"])
    res = table.purge_keys(["c0"])
    assert not res["skipped"] and res["rows_purged"] == 1
    assert res["buckets_rewritten"] == 1
    after = dict(table.current_snapshot()["bucket_paths"])
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1  # every other bucket carried by reference
    untouched = [b for b in before if b not in changed]
    assert all(after[b] == before[b] for b in untouched)
    assert table.read().count() == 63


@pytest.mark.parametrize("mode,kw", [(None, {}), ("mor", {}), ("bucketed", {"n_buckets": 8})])
def test_purge_history_leaves_no_trace_under_table(spark, tmp_path, mode, kw):
    """Byte-level forgetting must hold for EVERY write mode — the
    bucketed manifest carries untouched buckets of OLD snap dirs by
    reference, so GC liveness must be bucket-granular or the purged
    bucket's superseded file would survive expiry (review finding)."""
    table = _table(spark, str(tmp_path / "t"), mode=mode, **kw)
    res = table.purge_keys(["purgeme"], purge_history=True)
    assert not res["skipped"] and res["expired"]["snapshots_removed"] >= 1
    # nothing retained ANYWHERE under the table dir carries the text
    blob = _parquet_bytes([str(tmp_path / "t")])
    assert b"SECRET-ALPHA" not in blob and b"SECRET-BETA" not in blob
    assert b"keep-text" in blob
    assert len(table._snapshot_files()) == 1
    # and the snapshot records counts, never the identifiers
    snap = table.current_snapshot()
    assert snap["purge"] == {"n_keys": 1, "rows_purged": 1}
    assert "purgeme" not in open(
        os.path.join(str(tmp_path / "t"), "_snapshots", f"{snap['snapshot_id']:06d}.json")
    ).read()


def test_purge_noop_and_changelog_feeds_maintained_view(spark, tmp_path):
    from kafka_plugins_spark.operators.incremental import MaintainedCountSum

    table = _table(spark, str(tmp_path / "t"))
    head = table.current_snapshot()["snapshot_id"]
    # unknown key: no new snapshot
    assert table.purge_keys(["nope"])["skipped"]
    assert table.current_snapshot()["snapshot_id"] == head

    mv = MaintainedCountSum(table, str(tmp_path / "mv"), ["role"], sum_cols=["turn_idx"])
    mv.advance()
    pre = table.current_snapshot()["snapshot_id"]
    res = table.purge_keys(["purgeme"])
    # the purge commit is a delete in the changelog...
    chg = table.changes_between(pre, res["snapshot_id"])
    kinds = {(r["conv_id"], r["_change_type"]) for r in chg.collect()}
    assert kinds == {("purgeme", "delete")}
    # ...so the maintained view advances to the post-purge truth
    mv.advance()
    got = {r["role"]: r["cnt"] for r in mv.read().collect()}
    want = {
        r["role"]: r["cnt"]
        for r in table.read().groupBy("role").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want


def test_purge_refuses_while_wap_stage_pending(spark, tmp_path):
    """A pending stage's data dir may retain the purged bytes (GC treats
    it as live) and the purge commit would make it stale anyway — refuse
    loudly instead of confirming a purge that left text on disk."""
    table = _table(spark, str(tmp_path / "t"))
    staged = table.stage_merge(
        last_writer_wins(_batch(spark, [("x", "user", "s", "I", 20)])),
        batch_id=9, ranges={0: (20, 21)},
    )
    with pytest.raises(RuntimeError, match="stages are pending"):
        table.purge_keys(["purgeme"])
    table.abort_staged(staged)
    assert not table.purge_keys(["purgeme"])["skipped"]


def test_maintenance_snapshots_do_not_inherit_per_commit_facts(spark, tmp_path):
    """A purge snapshot must not claim the previous merge's batch_id,
    and a later compact/rollback must not republish the purge marker —
    each snapshot describes its OWN commit (review finding)."""
    table = _table(spark, str(tmp_path / "t"))  # last merge: batch_id=1
    table.purge_keys(["purgeme"])
    snap = table.current_snapshot()
    assert "purge" in snap and "batch_id" not in snap
    table.compact()
    snap = table.current_snapshot()
    assert "purge" not in snap and snap.get("compaction") is True
    table.rollback_to(snap["snapshot_id"] - 1)
    snap = table.current_snapshot()
    assert "compaction" not in snap and "purge" not in snap
    assert snap.get("rollback_of") == table.current_snapshot()["snapshot_id"] - 2


def test_mv_rebuild_recovers_after_history_purge(spark, tmp_path):
    """purge_history expires the snapshots a lagging view's delta path
    needs: advance() raises loudly (never a silent full rescan), and
    rebuild() is the explicit O(table) recovery."""
    from kafka_plugins_spark.operators.incremental import MaintainedCountSum

    table = _table(spark, str(tmp_path / "t"))
    mv = MaintainedCountSum(table, str(tmp_path / "mv"), ["role"], sum_cols=["turn_idx"])
    mv.advance()
    table.merge_into(
        last_writer_wins(_batch(spark, [("late", "user", "z", "I", 30)])),
        batch_id=2,
    )
    table.purge_keys(["purgeme"], purge_history=True)
    with pytest.raises(ValueError, match="no snapshot"):
        mv.advance()
    res = mv.rebuild()
    assert res["bootstrapped"] and res["as_of"] == table.current_snapshot()["snapshot_id"]
    got = {r["role"]: r["cnt"] for r in mv.read().collect()}
    want = {
        r["role"]: r["cnt"]
        for r in table.read().groupBy("role").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want
    # and the view delta-advances normally from here
    table.merge_into(
        last_writer_wins(_batch(spark, [("post", "user", "w", "I", 40)])),
        batch_id=3,
    )
    assert mv.advance()["delta_applied"]


def test_expire_reclaims_dead_buckets_of_partially_live_snap_dirs(spark, tmp_path):
    """Bucket-granular GC: after a second commit rewrites bucket B, the
    OLD snap dir's _bucket=B is dead (the head manifest references the
    new one) while sibling buckets are still carried by reference —
    expiry must remove exactly the dead bucket and keep the rest."""
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode="bucketed", n_buckets=8)
    table.merge_into(
        last_writer_wins(_batch(spark, [(f"c{i}", "user", f"t{i}", "I", i) for i in range(32)])),
        batch_id=0,
    )
    snap1_buckets = dict(table.current_snapshot()["bucket_paths"])
    table.merge_into(
        last_writer_wins(_batch(spark, [("c0", "user", "t0b", "U", 100)])),
        batch_id=1,
    )
    snap2_buckets = dict(table.current_snapshot()["bucket_paths"])
    rewritten = [b for b in snap1_buckets if snap2_buckets.get(b) != snap1_buckets[b]]
    assert len(rewritten) == 1
    res = table.expire_snapshots(keep_last=1)
    assert res["snapshots_removed"] == 1
    # exactly the superseded bucket file is gone; carried ones remain
    assert not os.path.isdir(snap1_buckets[rewritten[0]])
    for b, p in snap1_buckets.items():
        if b != rewritten[0]:
            assert os.path.isdir(p), f"live carried bucket {b} was deleted"
    assert {r["conv_id"]: r["text"] for r in table.read().collect()}["c0"] == "t0b"


def test_purge_cow_is_single_scan_single_job(spark, tmp_path):
    """The one-scan contract: a CoW purge schedules exactly ONE Spark
    job — the rewrite, whose Observation counts the dropped rows
    map-side (a separate count() would double-read the table; review
    finding)."""
    table = _table(spark, str(tmp_path / "t"))
    res, jobs = spark_jobs(spark, lambda: table.purge_keys(["purgeme"]))
    assert not res["skipped"] and res["rows_purged"] == 1
    assert jobs == 1, "CoW purge must be one job (write + observation)"


@pytest.mark.parametrize("seed", [7, 23])
def test_gc_interleaving_never_strands_a_retained_snapshot(spark, tmp_path, seed):
    """GC safety net for bucket-granular liveness: under a random
    interleaving of merge / compact / purge / expire / orphan-GC, every
    RETAINED snapshot must stay fully readable (all referenced paths on
    disk) — the invariant the whole-dir→bucket-level GC change must not
    break."""
    import random

    rng = random.Random(seed)
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode="bucketed", n_buckets=8)
    offset = 0
    alive = set()

    def _merge(n_new):
        nonlocal offset
        rows = []
        for _ in range(n_new):
            cid = f"c{rng.randrange(40)}"
            alive.add(cid)
            rows.append((cid, "user", f"txt-{offset}", "I", offset))
            offset += 1
        table.merge_into(last_writer_wins(_batch(spark, rows)), batch_id=offset)

    _merge(20)
    for _ in range(10):
        op = rng.choice(["merge", "compact", "purge", "expire", "orphans"])
        if op == "merge":
            _merge(rng.randrange(1, 8))
        elif op == "compact":
            table.compact()
        elif op == "purge" and alive:
            victim = rng.choice(sorted(alive))
            alive.discard(victim)
            table.purge_keys([victim])
        elif op == "expire":
            table.expire_snapshots(keep_last=rng.randrange(1, 3))
        elif op == "orphans":
            table.remove_orphan_files(older_than_sec=0)
        # invariant: every retained snapshot reads back completely
        for f in table._snapshot_files():
            sid = int(f[:-5])
            snap = table.snapshot_by_id(sid)
            for p in table._snapshot_paths(snap):
                assert os.path.isdir(p), f"snapshot {sid} references missing {p}"
            table.read(sid).count()
    # final state agrees with the surviving key set
    got = {r["conv_id"] for r in table.read().collect()}
    assert got == alive


def test_read_after_purging_every_key_keeps_evolved_schema(spark, tmp_path):
    """Purging every key empties a bucketed manifest; read() of that
    snapshot must still carry the columns the table evolved to. The purge
    itself must count its rows although no row survives the rewrite."""
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode="bucketed", n_buckets=4)
    table.merge_into(last_writer_wins(_batch(spark, [("k1", "user", "a", "I", 0)])), batch_id=0)
    table.merge_into(
        last_writer_wins(
            _batch(spark, [("k2", "user", "b", "I", 1)]).withColumn("model", F.lit("m-1"))
        ),
        batch_id=1,
    )
    assert table.purge_keys(["k1", "k2"])["rows_purged"] == 2
    assert table.current_snapshot()["bucket_paths"] == {}
    df = table.read()
    assert "model" in df.columns and df.count() == 0
