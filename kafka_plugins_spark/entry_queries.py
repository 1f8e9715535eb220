"""Driver-contract query suite: Spark implementations + DuckDB oracles.

Every entry implements an operator from SURVEY.md §2 (CDC core) or the
training-data operator library (dedup / similarity / text analysis) over
the driver's testdata tables. Each Spark query has an exactly-equivalent
ANSI-SQL oracle; aliases match column-for-column (the driver hashes
values after sorting columns by name).

Portability rules used throughout (keep when editing):
- floats that underwent arithmetic are ``round(x, 2..4)`` in BOTH engines;
  raw parquet values pass through unrounded (exact in both).
- hashes are md5-hex (identical everywhere); 16-bit ints derive from hex
  chars (Spark ``conv``, DuckDB ``strpos`` arithmetic — same numbers).
- word split is ``lower`` + split on ``[^a-z0-9]+`` + drop empties.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_plugins_spark.operators import dedup as dd
from kafka_plugins_spark.operators import similarity as sim
from kafka_plugins_spark.operators import text as tx


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: a scratch base with less free space than this is passed over for the
#: default tmp dir (a container's /dev/shm is often only 64 MB)
_SCRATCH_MIN_FREE_BYTES = 1 << 30


def _scratch_base() -> str | None:
    """Where engine-drive rows stage their snapshot tables: the first of
    ``SPARK_LOCAL_DIRS`` when set (the node-local scratch Spark itself
    uses), else tmpfs; ``None`` (the default tmp dir) when that base is
    not a writable dir with at least ``_SCRATCH_MIN_FREE_BYTES`` free.
    Tmpfs over a disk-backed /tmp mirrors session._local_dir's shuffle
    placement and bench.py's own replay tables; measured at sf1sim
    (alternating A/B in one process, 3 rounds each way): cdc_bootstrap
    2.0-2.7 s on a disk /tmp vs 1.5-2.1 s on tmpfs,
    cdc_final_state_bucketed 3.9-13.4 vs 3.6-5.1 s — tmpfs won all six
    paired rounds. On a cluster this maps to node-local NVMe scratch,
    exactly like the shuffle dirs."""
    local = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0].strip()
    base = local or "/dev/shm"
    try:
        if local:
            os.makedirs(local, exist_ok=True)
        st = os.statvfs(base)
    except OSError:
        return None
    if not os.access(base, os.W_OK) or st.f_bavail * st.f_frsize < _SCRATCH_MIN_FREE_BYTES:
        return None
    return base


@contextlib.contextmanager
def _scratch(prefix: str) -> Iterator[str]:
    """A fresh scratch dir for an engine-drive row's snapshot table
    (under :func:`_scratch_base`), removed when the block exits —
    including when the row raises, so failed invocations in a
    long-lived process cannot pile up tables in RAM-backed tmpfs.
    Results are location-independent; nothing is reused across runs."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_scratch_base())
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _max_event_id(spark: SparkSession, sf_dir: str) -> int:
    """``max(event_id)`` of the events table from parquet FOOTER stats —
    driver-side metadata, no Spark job (every engine-drive row needs this
    scalar to plan its chunk boundaries; a same-answer Spark aggregate
    costs a full scan job per row). Same technique as
    ``sources.events.partition_end_offsets_from_metadata``; int64 parquet
    min/max statistics are exact. Falls back to the Spark aggregate when
    the layout/stats don't support the footer read."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(root, n)
                for root, _dirs, names in os.walk(path)
                for n in names
                if n.endswith(".parquet")
            ]
        else:
            files = [path]
        hi: int | None = None
        for f in files:
            meta = pq.ParquetFile(f).metadata
            idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            ci = idx["event_id"]
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("missing column statistics")
                hi = int(st.max) if hi is None else max(hi, int(st.max))
        if hi is None:
            raise ValueError("no parquet files")
        return hi
    except Exception:
        return int(
            _t(spark, sf_dir, "events").agg(F.max("event_id")).collect()[0][0] or 0
        )


# =========================================================================
# CDC core operators, mapped onto the driver's `events` table:
#   key = (user_id, event_type) or user_id; offset = event_id;
#   tombstone op = event_type 'error' (stand-in for op='D').
# =========================================================================

def q_cdc_dedup(spark, sf):
    """Replay dedup (dropDuplicates by key+offset) — SURVEY §2b."""
    return (
        _t(spark, sf, "events")
        .select("user_id", "event_id", "event_type")
        .dropDuplicates(["user_id", "event_id"])
    )


def q_cdc_lww(spark, sf):
    """Last-writer-wins per (user_id, event_type) by max event_id (max_by,
    single shuffle with map-side partial agg)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.max_by("value", "event_id").alias("last_value"),
        F.max_by("ts", "event_id").alias("last_ts"),
        F.max("event_id").alias("last_event_id"),
        F.count("*").alias("n_events"),
    )


def q_cdc_lww_salted(spark, sf):
    """Same winners via the salted two-phase reduce (hot-key path)."""
    ev = _t(spark, sf, "events")
    salt = F.pmod(F.xxhash64("event_id"), F.lit(8)).alias("_salt")
    partial = ev.groupBy("user_id", "event_type", salt).agg(
        F.max_by(F.struct("value", "ts"), "event_id").alias("_w"),
        F.max("event_id").alias("_mx"),
        F.count("*").alias("_n"),
    )
    return partial.groupBy("user_id", "event_type").agg(
        F.max_by("_w", "_mx").getField("value").alias("last_value"),
        F.max_by("_w", "_mx").getField("ts").alias("last_ts"),
        F.max("_mx").alias("last_event_id"),
        F.sum("_n").alias("n_events"),
    )


def _events_ce(ev):
    """The shared events→change-events mapping every engine-drive row
    uses (FIXTURES.md §3: key=user_id, offset=event_id, tombstone=
    event_type 'error'). One definition — a drifted copy would silently
    desynchronize a driver row from its oracle."""
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("event_id").cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
    )


def q_cdc_final_state(spark, sf):
    """Converged table per user: LWW winner, tombstone ('error') dropped."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("event_type", "event_id").alias("last_type"),
            F.max_by("value", "event_id").alias("last_value"),
            F.max("event_id").alias("last_event_id"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("last_type") != "error")
    )


def q_cdc_final_state_mor(spark, sf):
    """The FULL engine path, driver-verified end-to-end in merge-on-read
    mode: map events to change events (key=user_id, offset=event_id,
    tombstone=event_type 'error'), ingest them as 4 chunked MoR commits
    into a scratch snapshot table (each an O(batch) delta append), then
    return table.read() — which exercises cross-commit read-side LWW
    resolution, tombstone filtering, and the offset fence. The oracle
    recomputes the converged state relationally, so a hash match proves
    the multi-commit engine produced exactly the single-query answer."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    hi = _max_event_id(spark, sf)
    with _scratch("mor_entry_") as scratch:
        table = ParquetSnapshotTable(spark, scratch, mode="mor")
        step = hi // 4 + 1
        for i in range(4):
            chunk = ce.filter(
                (F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step)
            )
            table.merge_into(last_writer_wins(chunk), batch_id=i)
        # Materialize into the block manager (eager localCheckpoint cuts
        # the lineage back to the scratch files) before the scratch table
        # is removed, so repeated invocations don't accrete copies.
        out = table.read().localCheckpoint(eager=True)
    return out


def q_cdc_final_state_bucketed(spark, sf):
    """The engine path in hash-BUCKETED CoW mode, driver-verified: same
    4-chunk ingest as the MoR row, but each commit reads and rewrites
    only the buckets containing that chunk's conversations while the
    manifest carries untouched buckets by reference, and reads resolve
    with no window (bucket dirs are key-disjoint). The oracle recomputes
    the converged state relationally — a hash match proves partial
    rewrites composed across 4 commits land on exactly the single-query
    answer. This is the file-pruned MERGE shape (Iceberg bucket
    partition transform) the 100 TB story rides on: a trickle batch
    rewrites only the buckets it touches."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    hi = _max_event_id(spark, sf)
    with _scratch("bucketed_entry_") as scratch:
        table = ParquetSnapshotTable(spark, scratch, mode="bucketed", n_buckets=16)
        step = hi // 4 + 1
        for i in range(4):
            chunk = ce.filter(
                (F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step)
            )
            table.merge_into(last_writer_wins(chunk), batch_id=i)
        out = table.read().localCheckpoint(eager=True)
    return out


def q_cdc_changelog_bucketed(spark, sf):
    """Same changelog contract as ``q_cdc_changelog`` but over a
    BUCKETED table, so the read exercises the manifest-diff file
    pruning (only differing-bucket dirs are scanned —
    tests/test_bucketed.py pins the inputFiles set; this row pins the
    VALUES): a hash match against the same relational-diff oracle
    proves the pruned path emits exactly the full delta."""
    return _changelog_query(spark, sf, mode="bucketed", prefix="chlogb_entry_")


def q_cdc_changelog(spark, sf):
    """Incremental changelog read (Iceberg changelog-view / Delta CDF
    semantics), driver-verified end-to-end: ingest the events table into
    a scratch snapshot table (MoR here; bucketed variant below) as TWO
    commits split at the median
    offset, then return ``changes_between(first, second)`` — the
    insert / delete / update_before / update_after rows that turn the
    first converged state into the second. The oracle recomputes both
    per-user states relationally and diffs them with a FULL OUTER JOIN,
    so a hash match proves the engine's pruned incremental read emits
    exactly the relational delta. (The reference has no changelog read;
    its consumers re-scan the sink — SURVEY §2b gap closed here.)"""
    return _changelog_query(spark, sf, mode="mor", prefix="chlog_entry_")


def _changelog_query(spark, sf, mode, prefix):
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    cut = _max_event_id(spark, sf) // 2
    with _scratch(prefix) as scratch:
        table = ParquetSnapshotTable(spark, scratch, mode=mode)
        r1 = table.merge_into(last_writer_wins(ce.filter(F.col("offset") < cut)), batch_id=0)
        r2 = table.merge_into(last_writer_wins(ce.filter(F.col("offset") >= cut)), batch_id=1)
        out = (
            table.changes_between(r1.snapshot_id, r2.snapshot_id)
            .withColumnRenamed("_change_type", "change_type")
            .localCheckpoint(eager=True)
        )
    return out


def q_cdc_incremental_agg(spark, sf):
    """Incremental materialized-view maintenance, driver-verified
    end-to-end: ingest the events table into a scratch MoR snapshot
    table as TWO commits split at the median offset, bootstrap a per-role
    (count, sum-of-text-length) aggregate from the FIRST snapshot only,
    then advance it to the second snapshot by applying the
    ``changes_between`` delta algebraically — the base table is never
    re-read. The oracle aggregates the final converged state directly,
    so a hash match proves O(delta) maintenance lands on exactly the
    from-scratch answer, including groups that appear, drop to zero, or
    migrate rows via update pairs. (The reference's consumers re-scan
    the sink and re-aggregate; this is the maintained-state upgrade.)"""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.incremental import (
        apply_count_sum_delta,
        count_sum_aggregate,
    )
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    cut = _max_event_id(spark, sf) // 2
    with _scratch("incagg_entry_") as scratch:
        table = ParquetSnapshotTable(spark, scratch, mode="mor")
        r1 = table.merge_into(last_writer_wins(ce.filter(F.col("offset") < cut)), batch_id=0)
        r2 = table.merge_into(last_writer_wins(ce.filter(F.col("offset") >= cut)), batch_id=1)
        with_len = lambda df: df.withColumn("text_len", F.length("text"))
        prior = count_sum_aggregate(with_len(table.read(r1.snapshot_id)), ["role"], ["text_len"])
        ch = with_len(table.changes_between(r1.snapshot_id, r2.snapshot_id))
        out = (
            apply_count_sum_delta(ch, prior, ["role"], ["text_len"])
            .select("role", "cnt", "sum_text_len")  # nn_* is MV bookkeeping
            .localCheckpoint(eager=True)
        )
    return out


def q_cdc_incremental_minmax(spark, sf):
    """The non-invertible half of incremental MV maintenance,
    driver-verified THROUGH THE PERSISTED LIFECYCLE: ingest the events
    table into a scratch MoR snapshot table as THREE commits (split at
    offset terciles, the last containing the data's tombstones), then
    drive a :class:`MaintainedGroupAgg` — a persisted on-disk MV holding
    min/max/count-distinct, quantities a delta CANNOT advance
    algebraically (a deleted row may have held the minimum). The MV
    bootstraps after commit 1 and ``advance()``s twice, each advance an
    O(delta + touched-group rows) refresh published by atomic rename —
    the untouched groups are carried from the STORED state on disk, not
    recomputed (behaviorally pinned in tests/test_incremental.py, along
    with a group-emptying delete and a crash-mid-advance recovery). The
    oracle re-aggregates the converged state from scratch and never sees
    the cuts, so a hash match proves bootstrap→advance→advance on disk
    == full recompute."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.incremental import MaintainedGroupAgg
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)

    def agg_fn(df):
        return df.groupBy("role").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("text").alias("min_text"),
            F.max(F.length("text")).alias("max_len"),
            F.countDistinct("conv_id").alias("n_convs"),
        )

    hi = _max_event_id(spark, sf)
    step = hi // 3 + 1
    with _scratch("incmm_entry_") as scratch:
        table = ParquetSnapshotTable(spark, os.path.join(scratch, "t"), mode="mor")
        mv = MaintainedGroupAgg(table, os.path.join(scratch, "mv"), ["role"], agg_fn)
        for i in range(3):
            chunk = ce.filter(
                (F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step)
            )
            table.merge_into(last_writer_wins(chunk), batch_id=i)
            info = mv.advance()
            assert info["bootstrapped" if i == 0 else "delta_applied"]
        out = mv.read().localCheckpoint(eager=True)
    return out


def q_cdc_decode_dlq(spark, sf):
    """Dead-letter routing, driver-verified: build a wire frame from the
    events table where user_id%37==0 payloads are corrupted to invalid
    JSON and user_id%41==0 payloads are valid JSON missing the required
    CDC fields; decode with the DLQ split and return the quarantined
    rows. The oracle recomputes exactly which events are corrupt from
    the id rule — a hash match proves the router neither drops nor
    misclassifies (malformed vs missing-required) a single record."""
    from kafka_plugins_spark.functions.decode import decode_transcript_events_with_dlq

    ev = _t(spark, sf, "events")
    payload = F.to_json(
        F.struct(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.col("event_type").alias("role"),
            F.col("value").cast("string").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.lit("U").alias("op"),
        )
    )
    value = (
        F.when(F.col("user_id") % 37 == 0, F.lit("{corrupt not json"))
        .when(F.col("user_id") % 41 == 0, F.lit('{"role": "user", "op": null}'))
        .otherwise(payload)
    )
    frame = ev.select(
        value.alias("value"),
        F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
    )
    good, dlq = decode_transcript_events_with_dlq(frame)
    return dlq.select("partition", "offset", "reason")


def q_cdc_partition_offsets(spark, sf):
    """Per-partition cursor planning (B2/B4): end offset + row count."""
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("partition", F.pmod(F.col("user_id"), F.lit(8)).cast("int"))
        .groupBy("partition")
        .agg(
            (F.max("event_id") + 1).alias("end_offset"),
            F.count("*").alias("rows"),
        )
    )


def q_cdc_partial_update(spark, sf):
    """Per-COLUMN last-writer-wins for partial (patch) change events —
    the MySQL-minimal-row-image / Debezium-patch shape where an update
    carries only its changed columns (the reference replays payloads
    verbatim and leaves this to the consumer, KafkaBatchConfig.java:58-62).
    Events are derived from the driver events table by a shared
    arithmetic rule (op from (user_id+event_id)%11 — 0=insert, 1=delete,
    else patch; patched-column subset from (user_id*3+event_id)%3), then
    resolved in ONE hash exchange of per-column filtered max_by
    aggregates. The oracle applies the identical rule with arg_max FILTER
    in DuckDB, so a hash match proves column-level composition: each
    final column from ITS latest setter, deletes dropping the key, and a
    reinsert never inheriting pre-delete column values."""
    from kafka_plugins_spark.operators.resolve import resolve_partial_updates

    ev = _t(spark, sf, "events")
    m = F.pmod(F.col("user_id") + F.col("event_id"), F.lit(11))
    s = F.pmod(F.col("user_id") * 3 + F.col("event_id"), F.lit(3))
    pe = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("val_a"),
        F.coalesce(F.col("event_type"), F.lit("")).alias("val_b"),
        F.when(m == 0, "I").when(m == 1, "D").otherwise("U").alias("op"),
        F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.when(m == 0, F.array(F.lit("val_a"), F.lit("val_b")))
        .when(m == 1, F.array().cast("array<string>"))
        .when(s == 0, F.array(F.lit("val_a")))
        .when(s == 1, F.array(F.lit("val_b")))
        .otherwise(F.array(F.lit("val_a"), F.lit("val_b")))
        .alias("cols_set"),
    )
    out = resolve_partial_updates(pe, payload_cols=["val_a", "val_b"])
    return out.select(
        "conv_id", "val_a", "val_b", F.col("offset").alias("last_offset")
    )


def q_cdc_bootstrap(spark, sf):
    """Snapshot-bootstrap → fenced tail handoff, driver-verified
    end-to-end (the Debezium snapshot→streaming phase; the reference's
    initial-offset sentinels −2/−1 can only restart or skip the log,
    KafkaConfig.java): converge the BELOW-median-offset half of the
    events relationally into an initial dump, ``bootstrap()`` a scratch
    table from it with [0, cut) recorded as delivered per partition,
    then merge the ENTIRE log — the fence must drop every pre-cut
    winner while tail events out-offset the dump's synthetic envelope.
    The oracle converges all events from scratch and never sees the
    cut, so a hash match proves dump + fenced tail == full replay."""
    from kafka_plugins_spark.operators.resolve import final_state, last_writer_wins
    from kafka_plugins_spark.replay import bootstrap

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    hi = _max_event_id(spark, sf)
    cut = hi // 2
    dump = final_state(ce.filter(F.col("offset") < cut))
    with _scratch("boot_entry_") as scratch:
        table, _ = bootstrap(spark, dump, scratch, {p: cut for p in range(8)})
        table.merge_into(
            last_writer_wins(ce), batch_id=1, ranges={p: (0, hi + 1) for p in range(8)}
        )
        out = table.read().localCheckpoint(eager=True)
    return out


def q_cdc_wap(spark, sf):
    """Write-audit-publish, verified end-to-end: merge the below-median
    half of the events, STAGE the rest (invisible to readers), assert
    the head did not move, publish atomically, and return read() — the
    oracle converges all events from scratch, so a hash match proves the
    staged bytes the audit saw are exactly what the publish exposed
    (Iceberg's spark.wap.id flow; the reference has no staged-commit
    notion — its sink writes are immediately visible)."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    hi = _max_event_id(spark, sf)
    cut = hi // 2
    with _scratch("wap_entry_") as scratch:
        table = ParquetSnapshotTable(spark, scratch)
        table.merge_into(
            last_writer_wins(ce.filter(F.col("offset") < cut)),
            batch_id=0,
            ranges={p: (0, cut) for p in range(8)},
        )
        head = table.current_snapshot()["snapshot_id"]
        staged = table.stage_merge(
            last_writer_wins(ce.filter(F.col("offset") >= cut)),
            batch_id=1,
            ranges={p: (cut, hi + 1) for p in range(8)},
        )
        assert table.current_snapshot()["snapshot_id"] == head, "stage leaked"
        table.read_staged(staged).count()  # the audit pass
        table.publish_staged(staged)
        out = table.read().localCheckpoint(eager=True)
    return out


def q_cdc_purge(spark, sf):
    """GDPR hard delete, verified end-to-end: converge every event into
    a scratch table, ``purge_keys`` the conversations with
    ``user_id % 29 == 0``, and return ``read()`` — the oracle converges
    from scratch EXCLUDING those users, so a hash match proves the purge
    removed exactly the named keys and nothing else. (That the purged
    text is gone from the data files, the fence is untouched, and the
    changelog emits deletes is pinned byte-level in tests/test_purge.py;
    this row pins the resolved-state semantics against SQL.)"""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.operators.resolve import last_writer_wins

    ev = _t(spark, sf, "events")
    ce = _events_ce(ev)
    hi = _max_event_id(spark, sf)
    purged = [
        str(r["user_id"])
        for r in ev.filter(F.pmod("user_id", F.lit(29)) == 0)
        .select("user_id")
        .distinct()
        .collect()
    ]
    with _scratch("purge_entry_") as scratch:
        table = ParquetSnapshotTable(spark, scratch)
        table.merge_into(
            last_writer_wins(ce),
            batch_id=0,
            ranges={p: (0, hi + 1) for p in range(8)},
        )
        table.purge_keys(purged)
        out = table.read().localCheckpoint(eager=True)
    return out


_CDC_LWW_SQL = """
SELECT user_id, event_type,
       arg_max(value, event_id) AS last_value,
       arg_max(ts, event_id)    AS last_ts,
       max(event_id)            AS last_event_id,
       count(*)                 AS n_events
FROM events GROUP BY user_id, event_type
"""

CDC_ORACLES = {
    "cdc_dedup": "SELECT DISTINCT user_id, event_id, event_type FROM events",
    # mirrors q_cdc_decode_dlq's corruption rule: %37 → invalid JSON,
    # else %41 → parseable but missing required fields
    "cdc_decode_dlq": """
        SELECT (user_id % 8)::INT AS partition,
               event_id AS offset,
               CASE WHEN user_id % 37 = 0 THEN 'malformed_json'
                    ELSE 'missing_required' END AS reason
        FROM events
        WHERE user_id % 37 = 0 OR user_id % 41 = 0
    """,
    "cdc_lww": _CDC_LWW_SQL,
    "cdc_lww_salted": _CDC_LWW_SQL,
    # identical arithmetic rule as q_cdc_partial_update; per-column
    # arg_max FILTER is DuckDB's spelling of the patch fold
    "cdc_partial_update": """
        WITH pe AS (
            SELECT CAST(user_id AS VARCHAR) AS conv_id,
                   event_id AS off,
                   CASE (user_id + event_id) % 11
                        WHEN 0 THEN 'I' WHEN 1 THEN 'D' ELSE 'U' END AS op,
                   (user_id * 3 + event_id) % 3 AS s,
                   coalesce(value, 0.0)      AS val_a,
                   coalesce(event_type, '')  AS val_b
            FROM events
        )
        SELECT conv_id,
               arg_max(val_a, off) FILTER (
                   WHERE op = 'I' OR (op = 'U' AND s IN (0, 2))) AS val_a,
               arg_max(val_b, off) FILTER (
                   WHERE op = 'I' OR (op = 'U' AND s IN (1, 2))) AS val_b,
               max(off) AS last_offset
        FROM pe
        GROUP BY conv_id
        HAVING arg_max(op, off) FILTER (WHERE op IN ('I', 'D')) = 'I'
    """,
    # same converged-state oracle shape as cdc_bootstrap: the WAP flow
    # must land on exactly the from-scratch answer after stage→publish
    "cdc_wap": """
        SELECT CAST(user_id AS VARCHAR)       AS conv_id,
               0::INT                          AS turn_idx,
               arg_max(event_type, event_id)   AS role,
               CAST(max(event_id) AS VARCHAR)  AS text,
               CAST(NULL AS VARCHAR)           AS tool,
               arg_max(ts, event_id)           AS ts
        FROM events GROUP BY user_id
        HAVING arg_max(event_type, event_id) <> 'error'
    """,
    # converged state EXCLUDING the purged users: a hash match proves
    # purge_keys removed exactly those keys and nothing else (the
    # bytes-level removal and fence invariants are pinned in
    # tests/test_purge.py)
    "cdc_purge": """
        SELECT CAST(user_id AS VARCHAR)       AS conv_id,
               0::INT                          AS turn_idx,
               arg_max(event_type, event_id)   AS role,
               CAST(max(event_id) AS VARCHAR)  AS text,
               CAST(NULL AS VARCHAR)           AS tool,
               arg_max(ts, event_id)           AS ts
        FROM events
        WHERE user_id % 29 <> 0
        GROUP BY user_id
        HAVING arg_max(event_type, event_id) <> 'error'
    """,
    # converged state over ALL events — the oracle never sees the
    # bootstrap cut, which is the point
    "cdc_bootstrap": """
        SELECT CAST(user_id AS VARCHAR)       AS conv_id,
               0::INT                          AS turn_idx,
               arg_max(event_type, event_id)   AS role,
               CAST(max(event_id) AS VARCHAR)  AS text,
               CAST(NULL AS VARCHAR)           AS tool,
               arg_max(ts, event_id)           AS ts
        FROM events GROUP BY user_id
        HAVING arg_max(event_type, event_id) <> 'error'
    """,
    "cdc_final_state": """
        SELECT user_id,
               arg_max(event_type, event_id) AS last_type,
               arg_max(value, event_id)      AS last_value,
               max(event_id)                 AS last_event_id,
               count(*)                      AS n_events
        FROM events GROUP BY user_id
        HAVING arg_max(event_type, event_id) <> 'error'
    """,
    "cdc_partition_offsets": """
        SELECT (user_id % 8)::INT AS partition,
               max(event_id) + 1  AS end_offset,
               count(*)           AS rows
        FROM events GROUP BY 1
    """,
    # the relational delta the engine's incremental changelog read must emit:
    # converged per-user state below the median offset vs over all events,
    # diffed key-wise — absent->present = insert, present->absent = delete,
    # both-but-different = update pre/post image pair. 'error' tombstones a
    # key, so a state is "present" only when its last writer isn't 'error'.
    "cdc_changelog": """
        WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
        a AS (
            SELECT CAST(user_id AS VARCHAR)       AS conv_id,
                   arg_max(event_type, event_id)  AS role,
                   CAST(max(event_id) AS VARCHAR) AS text,
                   arg_max(ts, event_id)          AS ts
            FROM events, cut WHERE event_id < cut.c GROUP BY user_id
            HAVING arg_max(event_type, event_id) <> 'error'
        ),
        b AS (
            SELECT CAST(user_id AS VARCHAR)       AS conv_id,
                   arg_max(event_type, event_id)  AS role,
                   CAST(max(event_id) AS VARCHAR) AS text,
                   arg_max(ts, event_id)          AS ts
            FROM events GROUP BY user_id
            HAVING arg_max(event_type, event_id) <> 'error'
        ),
        j AS (
            SELECT a.conv_id AS ak, b.conv_id AS bk,
                   a.role AS ar, a.text AS atx, a.ts AS ats,
                   b.role AS br, b.text AS btx, b.ts AS bts
            FROM a FULL OUTER JOIN b ON a.conv_id = b.conv_id
        ),
        upd AS (
            SELECT * FROM j
            WHERE ak IS NOT NULL AND bk IS NOT NULL
              AND (ar IS DISTINCT FROM br OR atx IS DISTINCT FROM btx
                   OR ats IS DISTINCT FROM bts)
        )
        SELECT bk AS conv_id, 0::INT AS turn_idx, br AS role, btx AS text,
               CAST(NULL AS VARCHAR) AS tool, bts AS ts,
               'insert' AS change_type
        FROM j WHERE ak IS NULL
        UNION ALL
        SELECT ak, 0::INT, ar, atx, CAST(NULL AS VARCHAR), ats, 'delete'
        FROM j WHERE bk IS NULL
        UNION ALL
        SELECT ak, 0::INT, ar, atx, CAST(NULL AS VARCHAR), ats, 'update_before'
        FROM upd
        UNION ALL
        SELECT bk, 0::INT, br, btx, CAST(NULL AS VARCHAR), bts, 'update_after'
        FROM upd
    """,
    # the from-scratch aggregate the O(delta) incremental maintenance must
    # land on: per-role count + sum of text length over the FINAL converged
    # per-user state (tombstoned keys absent). The oracle never sees the
    # snapshot cut — equality proves incremental == recompute.
    "cdc_incremental_agg": """
        WITH final AS (
            SELECT arg_max(event_type, event_id)  AS role,
                   CAST(max(event_id) AS VARCHAR) AS text
            FROM events GROUP BY user_id
            HAVING arg_max(event_type, event_id) <> 'error'
        )
        SELECT role,
               COUNT(*)::BIGINT          AS cnt,
               SUM(length(text))::BIGINT AS sum_text_len
        FROM final GROUP BY role
    """,
    # from-scratch min/max/distinct over the converged state — the
    # answer the touched-group refresh must patch its way to. The oracle
    # never sees the snapshot cut or which groups were touched.
    "cdc_incremental_minmax": """
        WITH final AS (
            SELECT CAST(user_id AS VARCHAR)       AS conv_id,
                   arg_max(event_type, event_id)  AS role,
                   CAST(max(event_id) AS VARCHAR) AS text
            FROM events GROUP BY user_id
            HAVING arg_max(event_type, event_id) <> 'error'
        )
        SELECT role,
               COUNT(*)::BIGINT                 AS cnt,
               min(text)                        AS min_text,
               max(length(text))::INT           AS max_len,
               COUNT(DISTINCT conv_id)::BIGINT  AS n_convs
        FROM final GROUP BY role
    """,
    # same converged state, reproduced by the bucketed partial-rewrite path
    "cdc_final_state_bucketed": """
        SELECT CAST(user_id AS VARCHAR)       AS conv_id,
               0::INT                         AS turn_idx,
               arg_max(event_type, event_id)  AS role,
               CAST(max(event_id) AS VARCHAR) AS text,
               CAST(NULL AS VARCHAR)          AS tool,
               arg_max(ts, event_id)          AS ts
        FROM events GROUP BY user_id
        HAVING arg_max(event_type, event_id) <> 'error'
    """,
    # the converged state the chunked MoR engine run must reproduce
    "cdc_final_state_mor": """
        SELECT CAST(user_id AS VARCHAR)       AS conv_id,
               0::INT                         AS turn_idx,
               arg_max(event_type, event_id)  AS role,
               CAST(max(event_id) AS VARCHAR) AS text,
               CAST(NULL AS VARCHAR)          AS tool,
               arg_max(ts, event_id)          AS ts
        FROM events GROUP BY user_id
        HAVING arg_max(event_type, event_id) <> 'error'
    """,
}

# identical relational diff — the bucketed row differs only in which
# files the engine scans (pruned), never in the answer
CDC_ORACLES["cdc_changelog_bucketed"] = CDC_ORACLES["cdc_changelog"]



_AVRO_EVENT_SCHEMA = """{
  "type": "record", "name": "event",
  "fields": [
    {"name": "event_id", "type": ["null", "long"]},
    {"name": "ts", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
    {"name": "user_id", "type": ["null", "long"]},
    {"name": "event_type", "type": ["null", "string"]},
    {"name": "value", "type": ["null", "double"]},
    {"name": "props", "type": ["null", "string"]}
  ]
}"""


def q_decode_avro_events(spark, sf):
    """S6 avro decode, jar-free: serialize every events row to avro
    binary (pure-Python codec via mapInPandas), decode it back through
    the engine's avro path, return the payload. The oracle is the plain
    table — equality holds iff decode(encode(x)) == x for every row of
    longs/doubles/strings/timestamps incl. nulls."""
    from kafka_plugins_spark.functions.decode import decode_value, encode_avro

    ev = _t(spark, sf, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    wire = encode_avro(ev.select(*cols), _AVRO_EVENT_SCHEMA, payload_cols=cols)
    return decode_value(wire, "avro", schema=_AVRO_EVENT_SCHEMA).select(*cols)


AVRO_ORACLES = {
    "decode_avro_events": "SELECT event_id, ts, user_id, event_type, value, props FROM events",
}


def q_media_byte_histogram(spark, sf):
    """Multimodal featurize plumbing, driver-verified: documents' text
    bytes stand in for opaque media blobs (encode → binary JVM-side);
    the Arrow-batched mapInPandas featurizer computes the per-blob byte
    histogram — the same batch shape a real image/audio featurizer uses,
    with integer output so the oracle hash-matches exactly."""
    from kafka_plugins_spark.operators.multimodal import byte_histogram

    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode(F.coalesce("text", F.lit("")), "utf-8").alias("data")
    )
    return byte_histogram(d, data_col="data", id_col="doc_id", bins=16)


def q_media_png_decode(spark, sf):
    """REAL image decode, driver-verified end-to-end: per document,
    synthesize a greyscale PNG whose pixel j is (doc_id*7 + j) % 256
    (dims/filter derived from doc_id, every PNG filter type exercised),
    then DECODE it with the pure zlib+numpy codec and emit integer
    pixel stats. The oracle recomputes the stats from the closed-form
    pixel rule — it matches iff decode(encode(pixels)) == pixels for
    every image."""
    from kafka_plugins_spark.operators.multimodal import (
        image_pixel_stats,
        synthesize_png_table,
    )

    ids = _t(spark, sf, "documents").select("doc_id")
    return image_pixel_stats(synthesize_png_table(ids), id_col="doc_id")


def q_media_jpeg_decode(spark, sf):
    """REAL baseline-JPEG decode, driver-verified end-to-end: per
    document, synthesize a greyscale JPEG of 8×8-constant blocks
    (block (by,bx) = (doc_id*17 + by*31 + bx*7) % 256, unit quant —
    the DC-only case whose round trip is bit-exact), then DECODE with
    the pure-numpy Huffman+IDCT codec and emit integer pixel stats.
    The oracle recomputes the stats from the closed-form block rule —
    it matches iff decode(encode(pixels)) == pixels for every image."""
    from kafka_plugins_spark.operators.multimodal import (
        image_pixel_stats,
        synthesize_jpeg_table,
    )

    ids = _t(spark, sf, "documents").select("doc_id")
    return image_pixel_stats(synthesize_jpeg_table(ids), id_col="doc_id")


def q_media_wav_decode(spark, sf):
    """REAL audio decode, driver-verified end-to-end: per document,
    synthesize a mono 16-bit PCM WAV whose sample k is
    ((doc_id*13 + k*7) % 4001) - 2000 (length/rate derived from doc_id),
    DECODE it with the pure RIFF/PCM codec and emit integer sample
    stats. PCM is uncompressed, so the oracle recomputes the stats from
    the closed-form sample rule — a hash match proves the byte-level
    encode→decode round trip for every clip."""
    from kafka_plugins_spark.operators.multimodal import (
        audio_sample_stats,
        synthesize_wav_table,
    )

    ids = _t(spark, sf, "documents").select("doc_id")
    return audio_sample_stats(synthesize_wav_table(ids), id_col="doc_id")


def q_media_video_frames(spark, sf):
    """REAL video path, driver-verified end-to-end: per document,
    synthesize an AVI/MJPEG clip (2 + id%3 frames of 16×16 block-
    constant JPEGs, closed-form block rule), DEMUX it with the pure
    RIFF walker, DECODE every frame with the pure-numpy JPEG codec, and
    emit one row per (doc, frame) with integer pixel stats. The oracle
    recomputes the stats from the block rule — a hash match proves
    container parse + per-frame decode for every frame of every clip."""
    from kafka_plugins_spark.operators.multimodal import (
        synthesize_avi_table,
        video_frame_stats,
    )

    ids = _t(spark, sf, "documents").select("doc_id")
    return video_frame_stats(synthesize_avi_table(ids), id_col="doc_id")


def q_media_png_resize(spark, sf):
    """Full decode→transform→encode media stage, driver-verified: per
    document synthesize a PNG (closed-form pixels), nearest-neighbor
    resize to 5×7 (decode → numpy index grid → re-encode), decode the
    RESIZED bytes and emit pixel stats. The oracle recomputes
    out[i,j] = src[⌊i·h/5⌋, ⌊j·w/7⌋] from the pixel rule — a hash match
    proves decode, resampling, and re-encode are all exact."""
    from kafka_plugins_spark.operators.multimodal import (
        image_pixel_stats,
        resize_png,
        synthesize_png_table,
    )

    ids = _t(spark, sf, "documents").select("doc_id")
    resized = resize_png(synthesize_png_table(ids), width=7, height=5, id_col="doc_id")
    return image_pixel_stats(resized, id_col="doc_id")


_HEXPOS = "strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1"

MEDIA_ORACLES = {
    # bin of byte i == its high nibble == hex char 2i-1 of the blob's hex;
    # LEFT JOIN keeps empty/null-text docs as all-zero rows (the Spark
    # featurizer emits n_bytes=0 + zero counts — unnest of an empty
    # series would otherwise drop the doc and break row-count parity)
    "media_byte_histogram": f"""
        WITH blobs AS (
            SELECT doc_id, lower(hex(encode(coalesce(text, '')))) AS hx,
                   octet_length(encode(coalesce(text, '')))::BIGINT AS n_bytes
            FROM documents),
        bytes AS (
            SELECT doc_id, unnest(generate_series(1, n_bytes)) AS i, hx
            FROM blobs WHERE n_bytes > 0),
        h AS (
            SELECT doc_id,
                   {", ".join(f"count(*) FILTER ({_HEXPOS} = {k}) AS c{k}" for k in range(16))}
            FROM bytes GROUP BY doc_id)
        SELECT b.doc_id, b.n_bytes,
               {", ".join(f"coalesce(h.c{k}, 0)::BIGINT AS h{k}" for k in range(16))}
        FROM blobs b LEFT JOIN h USING (doc_id)
    """,
    # mirrors synthesize_png_table's pixel rule: h=6+id%4, w=8+id%5,
    # pixel j = (id*7 + j) % 256 over j in [0, h·w)
    "media_png_decode": """
        WITH dims AS (
            SELECT doc_id,
                   (6 + doc_id % 4)::INT AS height,
                   (8 + doc_id % 5)::INT AS width
            FROM documents),
        px AS (
            SELECT d.doc_id, d.height, d.width,
                   (d.doc_id * 7 + t.j) % 256 AS v
            FROM dims d, UNNEST(generate_series(0, d.height * d.width - 1)) AS t(j))
        SELECT doc_id, height, width,
               sum(v)::BIGINT AS pixel_sum,
               min(v)::BIGINT AS pixel_min,
               max(v)::BIGINT AS pixel_max
        FROM px GROUP BY doc_id, height, width
    """,
    # mirrors synthesize_jpeg_table's block rule: (2+id%2)×(2+id%3)
    # blocks of 8×8 constant pixels v=(id*17+by*31+bx*7)%256 — each
    # block contributes 64·v to the sum
    "media_jpeg_decode": """
        WITH dims AS (
            SELECT doc_id,
                   (2 + doc_id % 2) AS bh,
                   (2 + doc_id % 3) AS bw
            FROM documents),
        blocks AS (
            SELECT d.doc_id, d.bh, d.bw,
                   (d.doc_id * 17 + i.by * 31 + j.bx * 7) % 256 AS v
            FROM dims d,
                 UNNEST(generate_series(0, d.bh - 1)) AS i(by),
                 UNNEST(generate_series(0, d.bw - 1)) AS j(bx))
        SELECT doc_id,
               (8 * bh)::INT AS height,
               (8 * bw)::INT AS width,
               (64 * sum(v))::BIGINT AS pixel_sum,
               min(v)::BIGINT AS pixel_min,
               max(v)::BIGINT AS pixel_max
        FROM blocks GROUP BY doc_id, bh, bw
    """,
    # mirrors synthesize_avi_table: 2+id%3 frames, fps 5+id%4, 2×2 blocks
    # of 8×8 constant pixels v = (id*17 + f*11 + by*31 + bx*7) % 256
    "media_video_frames": """
        WITH clips AS (
            SELECT doc_id, (2 + doc_id % 3) AS nf, (5 + doc_id % 4)::INT AS fps
            FROM documents),
        frames AS (
            SELECT c.doc_id, c.fps, t.f::INT AS frame_idx
            FROM clips c, UNNEST(generate_series(0, c.nf - 1)) AS t(f)),
        blocks AS (
            SELECT fr.doc_id, fr.frame_idx, fr.fps,
                   (fr.doc_id * 17 + fr.frame_idx * 11 + i.by * 31 + j.bx * 7) % 256 AS v
            FROM frames fr,
                 UNNEST(generate_series(0, 1)) AS i(by),
                 UNNEST(generate_series(0, 1)) AS j(bx))
        SELECT doc_id, frame_idx, fps,
               16::INT AS height, 16::INT AS width,
               (64 * sum(v))::BIGINT AS pixel_sum,
               min(v)::BIGINT AS pixel_min,
               max(v)::BIGINT AS pixel_max
        FROM blocks GROUP BY doc_id, frame_idx, fps
    """,
    # mirrors synthesize_wav_table's sample rule: n = 64 + id%33 mono
    # samples, rate 8000 + (id%3)*4000, sample k = ((id*13+k*7)%4001)-2000
    "media_wav_decode": """
        WITH dims AS (
            SELECT doc_id,
                   (64 + doc_id % 33) AS n,
                   (8000 + (doc_id % 3) * 4000)::INT AS sample_rate
            FROM documents),
        s AS (
            SELECT d.doc_id, d.n, d.sample_rate,
                   ((d.doc_id * 13 + t.k * 7) % 4001) - 2000 AS v
            FROM dims d, UNNEST(generate_series(0, d.n - 1)) AS t(k))
        SELECT doc_id,
               n::BIGINT AS n_samples,
               1::INT AS n_channels,
               sample_rate,
               sum(v)::BIGINT AS sample_sum,
               min(v)::BIGINT AS sample_min,
               max(v)::BIGINT AS sample_max
        FROM s GROUP BY doc_id, n, sample_rate
    """,
    # nearest-neighbor resize of the synthetic PNGs to 5×7:
    # out[i,j] = src[(i·h)//5, (j·w)//7], src pixel k = (id*7 + k) % 256
    "media_png_resize": """
        WITH dims AS (
            SELECT doc_id, 6 + doc_id % 4 AS h, 8 + doc_id % 5 AS w
            FROM documents),
        px AS (
            SELECT d.doc_id,
                   (d.doc_id * 7 + ((i.i * d.h) // 5) * d.w + ((j.j * d.w) // 7)) % 256 AS v
            FROM dims d,
                 UNNEST(generate_series(0, 4)) AS i(i),
                 UNNEST(generate_series(0, 6)) AS j(j))
        SELECT doc_id, 5::INT AS height, 7::INT AS width,
               sum(v)::BIGINT AS pixel_sum,
               min(v)::BIGINT AS pixel_min,
               max(v)::BIGINT AS pixel_max
        FROM px GROUP BY doc_id
    """,
}


# =========================================================================
# Relational breadth (joins / aggs / windows / rollup / top-k)
# =========================================================================

def q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf, "lineitem")
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_nation_volume(spark, sf):
    """Multi-join with broadcast dims: revenue by region+nation where the
    supplying nation is the customer's nation (TPC-H Q5 shape)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n_items"))
    )


def q_top_orders_per_customer(spark, sf):
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_sessionize(spark, sf):
    """Sessionization: 30-min inactivity gap starts a new session."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def q_event_counts(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_events_rollup(spark, sf):
    return (
        _t(spark, sf, "events")
        .rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"), "n", "sum_value"
        )
    )


def q_customers_without_orders(spark, sf):
    """Anti join: customers that never ordered."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_customers_lapsed(spark, sf):
    """Anti join WITH teeth (customers_without_orders is vacuously empty
    at the driver's sf — every customer has orders): customers with no
    order since 2000-01-01, plus lifetime order count and last order
    date, so the value hash constrains the anti-join AND the agg. The
    date filter pushes into the orders scan; both joins are key
    equi-joins (AQE broadcasts the filtered side when small)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    lapsed = cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    stats = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.max("o_orderdate").alias("last_order")
    )
    return lapsed.join(stats, lapsed.c_custkey == stats.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        "last_order",
    )


def q_active_customer_balance(spark, sf):
    """Semi join + agg: balance stats of customers WITH orders, by segment."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
            F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_balance"),
        )
    )


def q_event_type_pivot(spark, sf):
    """Pivot: per-user event-type counts as columns."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .withColumnsRenamed(
            {t: f"n_{t}" for t in ["click", "view", "purchase", "signup", "error"]}
        )
    )


def q_lineitem_cube(spark, sf):
    """CUBE over (returnflag, linestatus): all grouping-set combinations."""
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


REL_ORACLES = {
    "customers_without_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "customers_lapsed": """
        SELECT c.c_custkey, c.c_name, c.c_mktsegment,
               coalesce(s.n_orders, 0)::BIGINT AS n_orders, s.last_order
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(*) AS n_orders,
                          max(o_orderdate) AS last_order
                   FROM orders GROUP BY o_custkey) s
          ON s.o_custkey = c.c_custkey
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    """,
    "active_customer_balance": """
        SELECT c_mktsegment,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_balance,
               round(quantile_cont(c_acctbal, 0.5), 4) AS median_balance
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    "event_type_pivot": """
        SELECT user_id,
               count(*) FILTER (event_type = 'click')    AS n_click,
               count(*) FILTER (event_type = 'view')     AS n_view,
               count(*) FILTER (event_type = 'purchase') AS n_purchase,
               count(*) FILTER (event_type = 'signup')   AS n_signup,
               count(*) FILTER (event_type = 'error')    AS n_error
        FROM events GROUP BY user_id
    """,
    "lineitem_cube": """
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 4)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_revenue_orders": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    "nation_volume": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY r_name, n_name
    """,
    "top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders) WHERE rn <= 3
    """,
    "sessionize": """
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_s
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   -- ::BIGINT: DuckDB's windowed sum yields HUGEINT, which
                   -- materializes as float64 and breaks the value-hash vs
                   -- Spark's int64 even when every value is identical
                   (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
            FROM marked
        )
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    """,
    "event_counts": """
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
               round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
        FROM events GROUP BY event_type
    """,
    "events_rollup": """
        SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY ROLLUP(event_type)
    """,
}


# =========================================================================
# Text analysis (documents)
# =========================================================================

def q_doc_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.bpe_ish_token_count(F.col("text")).alias("n_tokens_bpe"),
        tx.fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_doc_quality(spark, sf):
    d = tx.with_quality_metrics(_t(spark, sf, "documents"))
    return d.select(
        "doc_id",
        "n_tokens",
        "alpha_ratio",
        "punct_ratio",
        "stopword_ratio",
        "mean_word_len",
        "quality_score",
    )


def q_doc_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    s = tx.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        s["en"].alias("score_en"),
        s["es"].alias("score_es"),
        s["de"].alias("score_de"),
        s["fr"].alias("score_fr"),
        tx.lang_id(F.col("text")).alias("lang_pred"),
    )


def q_doc_winnow(spark, sf):
    """Winnowing fingerprints (rolling k-gram hash + window min)."""
    return tx.winnowing_fingerprints(_t(spark, sf, "documents"), k=8, window=4)


def q_doc_lm_perplexity(spark, sf):
    """CCNet-style LM quality scoring: train an add-1 character-trigram
    model on the documents corpus (one explode + two count aggregates;
    the model relation is ≤ 37³ rows → broadcast), then score every
    document's perplexity under it (two broadcast joins + one per-doc
    aggregation — O(corpus chars), zero Python). The oracle re-trains
    and re-scores the identical model in SQL, so a hash match proves the
    whole train→score pipeline, not just the plumbing."""
    from kafka_plugins_spark.operators import lm

    docs = _t(spark, sf, "documents")
    gram_counts, ctx_counts = lm.char_ngram_model(docs)
    return lm.lm_perplexity(docs, gram_counts, ctx_counts)


def q_doc_repetition(spark, sf):
    """Gopher-style intra-doc repetition fractions (duplicate 2-gram /
    3-gram share), driver-verified: pure-projection JVM plan; the oracle
    rebuilds the same word n-grams with DuckDB list functions and
    re-derives both ratios, so a hash match pins tokenization, gram
    construction, the short-doc NULL gate, and the rounding."""
    from kafka_plugins_spark.operators import text as tx

    return tx.repetition_scores(_t(spark, sf, "documents"))


def q_seq_pack(spark, sf):
    """Concatenate-and-chunk sequence packing (the pretraining data
    layout step), driver-verified exactly: word-count every document,
    compute each doc's GLOBAL token offset with the bucketed two-phase
    prefix sum (no single-partition window — the scalable shape), cut
    the concatenated stream every 512 tokens, and emit each doc's
    half-open span per overlapped chunk. The oracle recomputes the same
    integer arithmetic with a plain SQL window — a hash match proves the
    distributed prefix sum is bit-identical to the sequential one."""
    from kafka_plugins_spark.operators.pack import pack_sequences

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
            )
        )
        .cast("long")
        .alias("n_tok"),
    )
    return pack_sequences(toks, "n_tok", "doc_id", capacity=512).select(
        "doc_id", "n_tok", "chunk_id", "doc_begin", "doc_end"
    )


_WORDS_CTE = """
words AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
    FROM documents
)
"""

_SHINGLES_CTE = (
    _WORDS_CTE
    + """,
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words
)
"""
)

def q_bpe_pair_counts(spark, sf):
    """First-round BPE statistics (Sennrich 2016): adjacent symbol-pair
    counts over the corpus word-frequency model, '</w>' end markers,
    each pair occurrence weighted by the word's frequency — the argmax
    of this relation is BPE's first merge. The full iterative trainer
    (:func:`operators.text.bpe_train`, JVM-fold merge application) is
    golden-tested against a pure-Python reference in
    tests/test_training_ops.py; this row hash-verifies its per-round
    counting core against SQL."""
    return tx.bpe_pair_counts(_t(spark, sf, "documents"))


BPE_N_MERGES = 10
_BPE_MERGES: dict = {}


def _bpe_merges(spark, sf, n_merges=BPE_N_MERGES):
    """Train (or reuse) the BPE merge list for this sf's documents —
    cached per (sf, n_merges) like the IVF codebook: one training run
    per process, applied corpus-wide, the production tokenizer shape."""
    key = (sf, n_merges)
    if key not in _BPE_MERGES:
        _BPE_MERGES[key] = tx.bpe_train(_t(spark, sf, "documents"), n_merges=n_merges)
    return _BPE_MERGES[key]


def q_bpe_encode(spark, sf):
    """Corpus-scale BPE APPLY under the trained vocab (the round-4
    trainer's missing half): per document, word count, token count and
    an md5 of the full ordered token sequence. Merges are learned by
    :func:`operators.text.bpe_train` (golden-tested vs the pure-Python
    Sennrich reference); the DuckDB oracle RE-LEARNS the identical merge
    list in SQL (unrolled rounds — integer pair counts and the same
    tie-break make it exact) and re-applies it via string REPLACE over a
    space-delimited symbol encoding, so the hash verifies both the
    learned vocabulary and every document's token sequence."""
    merges = _bpe_merges(spark, sf)
    enc = tx.bpe_encode(_t(spark, sf, "documents"), merges)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("tok_md5"),
    )


def _bpe_encode_oracle_sql(n_merges: int = BPE_N_MERGES) -> str:
    """Unrolled-SQL BPE: learn ``n_merges`` merges over the word-freq
    relation, then tokenize every document — same construction as the
    k-means-in-SQL IVF oracle. Symbol sequences are encoded as strings
    with every symbol wrapped in single spaces (' a  b  c</w> '), which
    makes one greedy left-to-right merge pass exactly one REPLACE of
    ' l  r ' with ' lr ' (non-overlapping left-to-right — the Sennrich
    apply semantics; symbols never contain spaces so boundaries are
    unambiguous). Rounds whose best pair occurs <2 times no-op (NULL
    pattern), matching the Spark trainer's early stop."""
    parts = [
        """we AS (SELECT unnest(w) AS word FROM words),
        wf0 AS (
            SELECT word, count(*) AS freq,
                   ' ' || array_to_string(list_append(string_split(word, ''), '</w>'), '  ') || ' ' AS seq
            FROM we GROUP BY word)"""
    ]
    for t in range(n_merges):
        parts.append(f"""pc{t} AS (
            SELECT q.s[t.i] AS lhs, q.s[t.i + 1] AS rhs, sum(q.freq)::BIGINT AS n
            FROM (SELECT freq, string_split(substr(seq, 2, length(seq) - 2), '  ') AS s
                  FROM wf{t}) q,
                 UNNEST(generate_series(1, len(q.s) - 1)) AS t(i)
            GROUP BY lhs, rhs)""")
        parts.append(f"""best{t} AS (
            SELECT CASE WHEN n >= 2 THEN ' ' || lhs || '  ' || rhs || ' ' END AS pat,
                   CASE WHEN n >= 2 THEN ' ' || lhs || rhs || ' ' END AS rep
            FROM pc{t} ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1)""")
        parts.append(f"""wf{t + 1} AS (
            SELECT word, freq,
                   CASE WHEN b.pat IS NULL THEN seq ELSE replace(seq, b.pat, b.rep) END AS seq
            FROM wf{t} LEFT JOIN best{t} b ON TRUE)""")
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {_WORDS_CTE}, {ctes},
        vocab AS (
            SELECT word,
                   replace(substr(seq, 2, length(seq) - 2), '  ', ' ') AS tokstr,
                   len(string_split(substr(seq, 2, length(seq) - 2), '  '))::BIGINT AS n_toks
            FROM wf{n_merges}),
        docw AS (
            SELECT doc_id, t.i AS pos, w[t.i] AS word
            FROM words, UNNEST(generate_series(1, len(w))) AS t(i))
        SELECT d.doc_id,
               count(*)::BIGINT AS n_words,
               sum(v.n_toks)::BIGINT AS n_tokens,
               md5(string_agg(v.tokstr, ' ' ORDER BY d.pos)) AS tok_md5
        FROM docw d JOIN vocab v USING (word)
        GROUP BY d.doc_id
    """


def q_bpe_token_ids(spark, sf):
    """Per-doc TOKEN-ID sequences under the trained vocab — the artifact
    a training pipeline materializes. Ids are frequency ranks
    (occurrences desc, token asc — deterministic); the oracle re-learns
    the merges, re-tokenizes, re-ranks the vocabulary and re-hashes
    every document's id sequence in SQL, so the hash verifies the id
    TABLE and every per-doc sequence."""
    merges = _bpe_merges(spark, sf)
    ids = tx.bpe_encode_ids(_t(spark, sf, "documents"), merges)
    return ids.select(
        "doc_id",
        "n_tokens",
        F.md5(
            F.concat_ws(" ", F.transform("token_ids", lambda x: x.cast("string")))
        ).alias("ids_md5"),
    )


def _bpe_token_ids_oracle_sql(n_merges: int = BPE_N_MERGES) -> str:
    """Extends :func:`_bpe_encode_oracle_sql`'s learned vocab with the
    frequency-rank id table and per-doc ordered id-sequence hashes."""
    base = _bpe_encode_oracle_sql(n_merges)
    # reuse everything up to the final SELECT (the CTE chain ends with
    # vocab + docw); swap in the id-ranking tail
    head = base[: base.rindex("SELECT d.doc_id")].rstrip()
    return head + """,
        wordtok AS (
            SELECT d.doc_id, d.pos AS wpos, string_split(v.tokstr, ' ') AS s
            FROM docw d JOIN vocab v USING (word)),
        doctok AS (
            SELECT doc_id, wpos, t.i AS tpos, s[t.i] AS token
            FROM wordtok, UNNEST(generate_series(1, len(s))) AS t(i)),
        tokid AS (
            SELECT token, row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS tid
            FROM (SELECT token, count(*) AS n FROM doctok GROUP BY token))
        SELECT doc_id,
               count(*)::BIGINT AS n_tokens,
               md5(string_agg(tid::VARCHAR, ' ' ORDER BY wpos, tpos)) AS ids_md5
        FROM doctok JOIN tokid USING (token)
        GROUP BY doc_id
    """


def q_pii_scrub(spark, sf):
    """PII/secret scrubbing (the standard pre-training redaction stage):
    per-class match counts + md5 of the redacted text. The documents
    corpus carries no organic PII, so each row deterministically injects
    one of every class (email, phone, SSN, IPv4, key-shaped token)
    derived from ``doc_id`` — the oracle injects the identical text in
    SQL, so the hash verifies both the counting and the full redaction
    chain byte-for-byte. Pure projection: zero exchanges, one codegen
    stage (:func:`operators.pii.scrub_pii`)."""
    from kafka_plugins_spark.operators.pii import scrub_pii

    d = _t(spark, sf, "documents")
    out = scrub_pii(d.select("doc_id", _pii_inject_expr().alias("text")))
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "n_secret",
        F.md5("clean_text").alias("clean_md5"),
    )


def _pii_inject_expr():
    """The deterministic per-doc PII injection shared by the pii rows."""
    nn = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
        F.lit(" or +1 555 010 "), nn,
        F.lit(" ssn 123-45-"), nn,
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        F.lit(" key sk_"), F.md5(F.col("doc_id").cast("string")),
    )


_PII_INJECT_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com'"
    " || ' or +1 555 010 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    " || ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    " || ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.7'"
    " || ' key sk_' || md5(doc_id::VARCHAR)"
)


def q_corpus_clean(spark, sf):
    """END-TO-END pre-training cleanup — the operators composing in one
    declarative plan, the way a production pipeline runs them: inject
    per-doc PII (id-derived, so each copy's PII differs) → scrub →
    exact-dedup on the CLEAN text (copies of one source become
    identical only AFTER redaction — the realistic order) keeping the
    min-id canonical per hash → quality metrics on the clean text →
    quality-score gate. The corpus is doubled with id-shifted copies so
    the dedup stage provably bites (every canonical has n_copies=2).
    One codegen stage for inject+scrub, one window for the dedup
    policy, quality pure projection — no Python anywhere."""
    from kafka_plugins_spark.operators.pii import scrub_pii
    from kafka_plugins_spark.operators.text import with_quality_metrics

    d = _t(spark, sf, "documents").select("doc_id", "text")
    base = d.unionByName(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    scr = scrub_pii(base.select("doc_id", _pii_inject_expr().alias("text")))
    # Partition the dedup window by clean_text ITSELF, not md5(clean_text):
    # an md5 column in the same projection collapses with scrub_pii's and
    # Catalyst re-evaluates the whole 5-pass regex chain for both columns
    # (the repo's documented CSE trap). The window consumes the attribute
    # once; clean_md5 is derived AFTER the rn=1 filter, on half the rows.
    w = Window.partitionBy("clean_text")
    kept = (
        scr.select("doc_id", "clean_text")
        .withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "n_copies", F.col("clean_text").alias("text"),
            F.md5("clean_text").alias("clean_md5"),
        )
    )
    return with_quality_metrics(kept).filter(F.col("quality_score") >= 0.0).select(
        "doc_id", "n_copies", "n_tokens", "quality_score", "clean_md5"
    )


def _corpus_clean_oracle_sql() -> str:
    from kafka_plugins_spark.operators.pii import PII_CLASSES

    clean = "t"
    for _, pat, rep in PII_CLASSES:
        clean = f"regexp_replace({clean}, '{pat}', '{rep}', 'g')"
    return f"""
        WITH base AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        inj AS (SELECT doc_id, {_PII_INJECT_SQL} AS t FROM base),
        cleaned AS (SELECT doc_id, {clean} AS text FROM inj),
        hashed AS (SELECT doc_id, text, md5(text) AS clean_md5 FROM cleaned),
        grp AS (
            SELECT doc_id, text, clean_md5,
                   row_number() OVER (PARTITION BY clean_md5 ORDER BY doc_id) AS rn,
                   count(*) OVER (PARTITION BY clean_md5) AS n_copies
            FROM hashed),
        kept AS (SELECT doc_id, text, clean_md5, n_copies FROM grp WHERE rn = 1),
        kw AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
            FROM kept),
        qb AS (
            SELECT k.doc_id, k.clean_md5, k.n_copies::BIGINT AS n_copies,
                   length(k.text)::BIGINT AS n_chars,
                   length(regexp_replace(k.text, '[^a-zA-Z]', '', 'g'))::BIGINT AS n_alpha,
                   length(regexp_replace(k.text, '[^.,;:!?]', '', 'g'))::BIGINT AS n_punct,
                   len(w.w)::BIGINT AS n_tokens,
                   len(list_filter(w.w, x -> x IN ({_STOP_EN_LIST})))::BIGINT AS n_stop
            FROM kept k JOIN kw w ON k.doc_id = w.doc_id)
        SELECT doc_id, n_copies, n_tokens,
               round(n_alpha / greatest(n_chars, 1)
                     - (n_punct / greatest(n_chars, 1)) * 2
                     + least((n_stop / greatest(n_tokens, 1)) * 2, 0.4)
                     + CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.2 ELSE 0.0 END,
                     4) AS quality_score,
               clean_md5
        FROM qb
        WHERE round(n_alpha / greatest(n_chars, 1)
                    - (n_punct / greatest(n_chars, 1)) * 2
                    + least((n_stop / greatest(n_tokens, 1)) * 2, 0.4)
                    + CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.2 ELSE 0.0 END,
                    4) >= 0.0
    """


def _pii_scrub_oracle_sql() -> str:
    from kafka_plugins_spark.operators.pii import PII_CLASSES

    counts = ",\n               ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in PII_CLASSES
    )
    clean = "t"
    for _, pat, rep in PII_CLASSES:
        clean = f"regexp_replace({clean}, '{pat}', '{rep}', 'g')"
    return f"""
        WITH inj AS (
            SELECT doc_id, {_PII_INJECT_SQL} AS t
            FROM documents)
        SELECT doc_id,
               {counts},
               md5({clean}) AS clean_md5
        FROM inj
    """


def q_split_assign(spark, sf):
    """Deterministic train/val/test assignment (90/5/5) by md5 bucket of
    (salt | doc_id) — stable across runs/partitionings/engines, unlike
    randomSplit. The oracle recomputes the same hash arithmetic, so a
    hash match proves every row's assignment, not just the proportions."""
    from kafka_plugins_spark.operators.sampling import split_assign

    return split_assign(_t(spark, sf, "documents").select("doc_id"))


def q_stratified_sample(spark, sf):
    """Exact per-stratum sampling, driver-verified row-for-row: take
    exactly ceil(0.25·n) documents of EVERY source stratum, selected by
    a salted md5 rank (a deterministic shuffle). The oracle replays the
    identical rank-and-cut in SQL, so a hash match proves the same rows
    are chosen — per-group exactness the hash-threshold sampler can't
    give, for eval slices that must represent small strata exactly."""
    from kafka_plugins_spark.operators.sampling import stratified_exact_sample

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return stratified_exact_sample(docs, "source", 0.25, "doc_id")


_STOP_EN_LIST = ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS["en"])


def _lang_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS[lang])


TEXT_ORACLES = {
    # same word n-grams rebuilt with list functions; ratios re-derived
    # with the identical short-doc NULL gate and 4-decimal rounding
    "doc_repetition": """
        WITH words AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS w
            FROM documents),
        grams AS (
            SELECT doc_id, len(w)::BIGINT AS n_words,
                   list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                                  i -> w[i] || ' ' || w[i + 1]) AS g2,
                   list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS g3
            FROM words)
        SELECT doc_id, n_words,
               CASE WHEN len(g2) > 0
                    THEN round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 4)
               END AS dup_2gram_frac,
               CASE WHEN len(g3) > 0
                    THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4)
               END AS dup_3gram_frac
        FROM grams
    """,
    # sequential-window recompute of the packing arithmetic: the Spark
    # side's bucketed two-phase prefix sum must land on the exact same
    # integer offsets a plain ORDER BY window produces.
    "seq_pack": """
        WITH toks AS (
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> ''))::BIGINT AS n_tok
            FROM documents),
        cum AS (
            SELECT doc_id, n_tok,
                   (sum(n_tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tok)::BIGINT AS start
            FROM toks WHERE n_tok > 0),
        spans AS (
            SELECT doc_id, n_tok, start, u.chunk_id
            FROM cum,
                 UNNEST(generate_series(start // 512, (start + n_tok - 1) // 512))
                     AS u(chunk_id))
        SELECT doc_id, n_tok,
               chunk_id::BIGINT                               AS chunk_id,
               greatest(0, chunk_id * 512 - start)::BIGINT    AS doc_begin,
               least(n_tok, (chunk_id + 1) * 512 - start)::BIGINT AS doc_end
        FROM spans
    """,
    # re-learns the merge list and re-tokenizes every doc in pure SQL
    "bpe_encode": _bpe_encode_oracle_sql(),
    # …then re-ranks the vocab and re-hashes every id sequence
    "bpe_token_ids": _bpe_token_ids_oracle_sql(),
    # identical injection + RE2 recount + full redaction chain re-hash
    "pii_scrub": _pii_scrub_oracle_sql(),
    # scrub -> dedup-on-clean -> quality gate, end-to-end in SQL
    "corpus_clean": _corpus_clean_oracle_sql(),
    # mirrors sampling.split_assign: bucket = int(md5('v1|'||id)[:4], 16) % 100
    # identical salted-md5 rank-and-cut per stratum: row-for-row match
    "stratified_sample": """
        WITH r AS (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR || chr(31) || 'v1'),
                                doc_id::VARCHAR) AS rk,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents)
        SELECT doc_id, source FROM r WHERE rk <= ceil(0.25 * n)
    """,
    "split_assign": f"""
        WITH h AS (
            SELECT doc_id, substr(md5('v1|' || doc_id::VARCHAR), 1, 4) AS hx
            FROM documents),
        v AS (
            SELECT doc_id,
                   (4096 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
                    + 256 * (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)
                    + 16 * (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)
                    + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS b
            FROM h)
        SELECT doc_id,
               CASE WHEN b < 90 THEN 'train'
                    WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM v
    """,
    # mirrors text.bpe_pair_counts: word-freq model, char symbols + </w>,
    # adjacent pairs weighted by word frequency
    "bpe_pair_counts": f"WITH {_WORDS_CTE}" + """,
        we AS (SELECT unnest(w) AS word FROM words),
        wf AS (SELECT word, count(*) AS freq FROM we GROUP BY word),
        syms AS (SELECT freq, list_append(string_split(word, ''), '</w>') AS s FROM wf),
        pairs AS (
            SELECT freq, s[t.i] AS lhs, s[t.i + 1] AS rhs
            FROM syms, UNNEST(generate_series(1, len(s) - 1)) AS t(i))
        SELECT lhs, rhs, sum(freq)::BIGINT AS n
        FROM pairs GROUP BY lhs, rhs
    """,
    # re-trains the add-1 char-trigram model and re-scores every doc:
    # p(gram) = (c(gram)+1) / (c(2-char ctx)+37), ppl = exp(-mean ln p)
    "doc_lm_perplexity": """
        WITH normd AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS t
            FROM documents),
        grams AS (
            SELECT doc_id, substr(t, p.i, 3) AS gram
            FROM normd,
                 UNNEST(generate_series(1, greatest(length(t) - 2, 0))) AS p(i)),
        gc AS (SELECT gram, count(*)::BIGINT AS c FROM grams GROUP BY gram),
        cc AS (SELECT substr(gram, 1, 2) AS ctx, sum(c)::BIGINT AS c
               FROM gc GROUP BY 1),
        scored AS (
            SELECT g.doc_id, count(*)::BIGINT AS n_grams,
                   sum(ln((gc.c + 1.0) / (cc.c + 37.0))) AS ll
            FROM grams g
            JOIN gc USING (gram)
            JOIN cc ON cc.ctx = substr(g.gram, 1, 2)
            GROUP BY g.doc_id)
        SELECT d.doc_id,
               coalesce(s.n_grams, 0)::BIGINT AS n_grams,
               round(exp(-s.ll / s.n_grams), 3) AS ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
    "doc_winnow": """
        WITH normd AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
            FROM documents),
        posd AS (
            SELECT doc_id, norm,
                   unnest(generate_series(1, greatest(length(norm) - 7, 0))) AS pos
            FROM normd),
        g AS (SELECT doc_id, pos, md5(substr(norm, pos, 8)) AS h FROM posd),
        mx AS (SELECT doc_id, max(pos) AS mp FROM g GROUP BY doc_id),
        wmin AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM g)
        SELECT DISTINCT w.doc_id, w.fp
        FROM wmin w JOIN mx ON w.doc_id = mx.doc_id
        WHERE w.pos <= mx.mp - 3
    """,
    "doc_stats": f"""
        WITH {_WORDS_CTE}
        SELECT d.doc_id,
               length(d.text)::BIGINT AS n_chars_actual,
               len(w.w)::BIGINT       AS n_tokens,
               (len(list_filter(string_split_regex(lower(d.text), '[^a-z]+'), x -> x <> ''))
                + len(list_filter(string_split_regex(d.text, '[^0-9]+'), x -> x <> ''))
                + length(regexp_replace(d.text, '[a-zA-Z0-9\\s]+', '', 'g')))::BIGINT AS n_tokens_bpe,
               md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        FROM documents d JOIN words w ON d.doc_id = w.doc_id
    """,
    "doc_quality": f"""
        WITH {_WORDS_CTE},
        base AS (
            SELECT d.doc_id,
                   length(d.text)::BIGINT AS n_chars,
                   length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g'))::BIGINT AS n_alpha,
                   length(regexp_replace(d.text, '[^.,;:!?]', '', 'g'))::BIGINT AS n_punct,
                   len(w.w)::BIGINT AS n_tokens,
                   len(list_filter(w.w, x -> x IN ({_STOP_EN_LIST})))::BIGINT AS n_stop
            FROM documents d JOIN words w ON d.doc_id = w.doc_id)
        SELECT doc_id, n_tokens,
               round(n_alpha / greatest(n_chars, 1), 4) AS alpha_ratio,
               round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
               round(n_stop / greatest(n_tokens, 1), 4) AS stopword_ratio,
               round(n_alpha / greatest(n_tokens, 1), 4) AS mean_word_len,
               round(n_alpha / greatest(n_chars, 1)
                     - (n_punct / greatest(n_chars, 1)) * 2
                     + least((n_stop / greatest(n_tokens, 1)) * 2, 0.4)
                     + CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.2 ELSE 0.0 END,
                     4) AS quality_score
        FROM base
    """,
    "doc_lang_id": f"""
        WITH {_WORDS_CTE},
        s AS (
            SELECT d.doc_id, d.text,
                   len(list_filter(w.w, x -> x IN ({_lang_list("en")})))::BIGINT AS score_en,
                   len(list_filter(w.w, x -> x IN ({_lang_list("es")})))::BIGINT AS score_es,
                   len(list_filter(w.w, x -> x IN ({_lang_list("de")})))::BIGINT AS score_de,
                   len(list_filter(w.w, x -> x IN ({_lang_list("fr")})))::BIGINT AS score_fr
            FROM documents d JOIN words w ON d.doc_id = w.doc_id)
        SELECT doc_id, score_en, score_es, score_de, score_fr,
               CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
                    WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
                    WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
                    WHEN score_de >= score_fr THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM s
    """,
}


# =========================================================================
# Dedup family (documents)
# =========================================================================

def q_dedup_exact(spark, sf):
    return dd.exact_duplicates(_t(spark, sf, "documents"))


def q_dedup_ngram_jaccard(spark, sf):
    return dd.ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.2)


def q_xdoc_dup(spark, sf):
    """Cross-document duplicated-passage fraction (Lee et al. 2021
    signal): per doc, the share of its word 5-gram occurrences that
    also appear in another document. The oracle re-derives every gram
    and the doc-count per gram in SQL, so a hash match proves the
    explode → two hash aggregates → equi-join pipeline end to end."""
    return dd.cross_doc_dup_fraction(_t(spark, sf, "documents"), k=5)


def q_dedup_minhash_lsh(spark, sf):
    return dd.minhash_lsh_pairs(_t(spark, sf, "documents"), threshold=0.2)


def q_decontaminate(spark, sf):
    """Benchmark decontamination, driver-verified: docs with doc_id%7==0
    play the eval set, the rest the training corpus; report (train, eval)
    pairs whose shingle containment |S(train)∩S(eval)|/|S(eval)| ≥ 0.5 —
    the asymmetric leak metric (a long train doc embedding a whole eval
    item has low Jaccard but containment ≈ 1). Candidates from sub-cap
    shingles, containment verified over full sets."""
    docs = _t(spark, sf, "documents")
    return dd.contamination_pairs(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        threshold=0.5,
    )


def q_dedup_clusters(spark, sf):
    """Connected components over the n-gram-Jaccard pair graph: each doc
    labeled with the min doc_id of its near-dup cluster — the step that
    turns pair detection into a keep-one-per-cluster dedup policy. The
    Spark side is iterative min-label propagation (join + groupBy-min
    per round, converged); the oracle computes the same closure with a
    recursive CTE, so a hash match proves the component labeling, not
    just the pair set."""
    docs = _t(spark, sf, "documents")
    return dd.dedup_clusters(docs, dd.ngram_jaccard_pairs(docs, threshold=0.2))


def q_dedup_simhash(spark, sf):
    return dd.simhash_duplicates(_t(spark, sf, "documents"))


def _minhash_sql_parts(num_hashes: int = 8, bands: int = 4) -> tuple[str, str]:
    rows = num_hashes // bands
    sig_cols = ", ".join(
        f"min(md5('{i}|' || shingle)) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return sig_cols, band_selects


_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b USING (shingle)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.n_common,
       round(i.n_common / (sa.sz + sb.sz - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""

_SIG_COLS, _BAND_SELECTS = _minhash_sql_parts()

_H16 = (
    "((strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(word), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(word), 4, 1)) - 1))"
)

_SIMHASH_BITSUMS = ", ".join(
    f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS s{k}" for k in range(16)
)
_SIMHASH_ASSEMBLE = " + ".join(f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16))

DEDUP_ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    # candidates come from sub-cap shingles only (mirrors the engine's
    # max_shingle_freq=128 skew defense); Jaccard is over the FULL sets
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        freq AS (SELECT shingle, count(*) AS f FROM shingles GROUP BY shingle),
        capped AS (SELECT s.doc_id, s.shingle FROM shingles s
                   JOIN freq USING (shingle) WHERE f <= 128),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b USING (shingle)
            WHERE a.doc_id < b.doc_id),
        {_JACCARD_TAIL.replace('FROM inter i', 'FROM inter i JOIN cand USING (doc_a, doc_b)', 1)}
        WHERE round(i.n_common / (sa.sz + sb.sz - i.n_common), 4) >= 0.2
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        sigs AS (SELECT doc_id, {_SIG_COLS} FROM shingles GROUP BY doc_id),
        bands AS ({_BAND_SELECTS}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band_id, band_key)
            WHERE a.doc_id < b.doc_id),
        {_JACCARD_TAIL.replace('FROM inter i', 'FROM inter i JOIN cand USING (doc_a, doc_b)', 1)}
        WHERE round(i.n_common / (sa.sz + sb.sz - i.n_common), 4) >= 0.2
    """,
    "dedup_simhash": f"""
        WITH {_WORDS_CTE},
        words_e AS (SELECT doc_id, unnest(w) AS word FROM words),
        h AS (SELECT doc_id, {_H16} AS h FROM words_e),
        bitsum AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM h GROUP BY doc_id),
        simt AS (SELECT doc_id, ({_SIMHASH_ASSEMBLE})::BIGINT AS simhash FROM bitsum)
        SELECT simhash, min(doc_id) AS canonical_doc_id, count(*) AS n_docs
        FROM simt GROUP BY simhash HAVING count(*) > 1
    """,
}

DEDUP_ORACLES["xdoc_dup"] = """
        WITH words AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS w
            FROM documents),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(w) - 4, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                            w[i+3] || ' ' || w[i+4])) AS gram
            FROM words),
        gd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram),
        pd AS (
            SELECT g.doc_id, count(*)::BIGINT AS n_grams,
                   round(sum(CASE WHEN gd.nd >= 2 THEN 1.0 ELSE 0.0 END)
                         / count(*), 4) AS xdoc_dup_frac
            FROM grams g JOIN gd USING (gram) GROUP BY g.doc_id)
        SELECT d.doc_id, coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
               pd.xdoc_dup_frac
        FROM documents d LEFT JOIN pd USING (doc_id)
"""

DEDUP_ORACLES["decontaminate"] = f"""
        WITH {_SHINGLES_CTE},
        tr AS (SELECT doc_id AS train_doc_id, shingle FROM shingles WHERE doc_id % 7 <> 0),
        ev AS (SELECT doc_id AS eval_doc_id, shingle FROM shingles WHERE doc_id % 7 = 0),
        freq AS (SELECT shingle, count(*) AS f FROM tr GROUP BY shingle),
        trc AS (SELECT t.train_doc_id, t.shingle FROM tr t
                JOIN freq USING (shingle) WHERE f <= 128),
        cand AS (SELECT DISTINCT c.train_doc_id, e.eval_doc_id
                 FROM trc c JOIN ev e USING (shingle)),
        inter AS (SELECT t.train_doc_id, e.eval_doc_id, count(*) AS n_common
                  FROM tr t JOIN ev e USING (shingle)
                  GROUP BY t.train_doc_id, e.eval_doc_id),
        sz AS (SELECT eval_doc_id, count(*) AS sz FROM ev GROUP BY eval_doc_id)
        SELECT i.train_doc_id, i.eval_doc_id, i.n_common,
               round(i.n_common / s.sz, 4) AS containment
        FROM inter i
        JOIN cand USING (train_doc_id, eval_doc_id)
        JOIN sz s USING (eval_doc_id)
        WHERE round(i.n_common / s.sz, 4) >= 0.5
    """

# connected components over the Jaccard pair graph, as a recursive CTE:
# reach(d, l) holds every label l that can reach doc d through the
# symmetric edge set, so min(l) per doc is the component minimum — the
# exact quantity the Spark min-label propagation converges to
DEDUP_ORACLES["dedup_clusters"] = f"""
        WITH RECURSIVE pairs AS ({DEDUP_ORACLES["dedup_ngram_jaccard"]}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(doc_id, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.label
            FROM reach r JOIN edges e ON e.src = r.doc_id)
        SELECT doc_id::BIGINT AS doc_id, min(label)::BIGINT AS cluster_id
        FROM reach GROUP BY doc_id
    """


# =========================================================================
# Similarity search (embeddings)
# =========================================================================

def q_ann_topk(spark, sf):
    # NOTE r7: unrolling the scoring dot/norms (dim=64 → dot_fixed) was
    # MEASURED 2.5-4× SLOWER here and in the LSH/IVF top-k scoring joins
    # (sf1sim best-of-2: 0.69s fold vs 2.1s unrolled) — the opposite of
    # the IVF near-dup verify, where the unroll wins. The top-k scoring
    # rows flow through BroadcastNestedLoopJoin / window stages where the
    # ~260-node unrolled tree evaluates interpreted per pair, while the
    # zip_with/aggregate fold is one tight interpreted loop. Keep the fold.
    return sim.brute_force_topk(_t(spark, sf, "embeddings"), n_queries=20, k=5)


def q_emb_neardup(spark, sf):
    # dim passed explicitly: no plan-time probe job (the testdata
    # embeddings are 64-d). t=0.45 is far below the exact grid's pruning
    # envelope (t ≳ 0.99 at 64-d) — result is exact and the plan an
    # equi-join, but the candidate set is ~all pairs; the loose-threshold
    # scale path is q_emb_neardup_ivf below.
    return sim.embedding_neardup_pairs(_t(spark, sf, "embeddings"), threshold=0.45, dim=64)


# k-means hyperparameters shared by BOTH trained-IVF driver queries and
# their oracles — the codebook is a function of (data, these params) only.
IVF_TRAIN_ITERS = 2
_IVF_CODEBOOKS: dict = {}


def _trained_codebook(spark, sf, n_cells=8, dim=64):
    """Train (or reuse) the k-means codebook for this sf's embeddings.
    Cached per (sf, params): both IVF driver queries share one training
    run per process, like a production job would broadcast one codebook."""
    key = (sf, n_cells, dim, IVF_TRAIN_ITERS)
    if key not in _IVF_CODEBOOKS:
        _IVF_CODEBOOKS[key] = sim.train_ivf_centroids(
            _t(spark, sf, "embeddings"), n_cells=n_cells, dim=dim, n_iters=IVF_TRAIN_ITERS
        )
    return _IVF_CODEBOOKS[key]


def _ivf_train_ctes(dim: int = 64, n_cells: int = 8, n_iters: int = IVF_TRAIN_ITERS) -> str:
    """CTE chain re-deriving :func:`similarity.train_ivf_centroids`'s
    codebook inside DuckDB, bit-for-bit: same deterministic init, same
    assign (argmax dot, ties → smaller cell), same fixed-point per-cell
    sums (order-independent, exact under 2^53), same IEEE double mean +
    normalize. Verified exact vs the Spark trainer at sf0.001/0.01/0.1.
    Ends with ``cents`` = the trained codebook."""
    cent_rows = ",\n            ".join(
        "({cid}, [{vals}]::DOUBLE[])".format(
            cid=cid, vals=", ".join(repr(x) for x in cent)
        )
        for cid, cent in enumerate(sim.ivf_centroids(n_cells, dim))
    )
    parts = [f"cents0(cid, v) AS (VALUES\n            {cent_rows})"]
    for t in range(n_iters):
        parts.append(f"""ass{t} AS (
            SELECT vec_id, cid AS cell FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(generate_series(1, {dim}),
                               i -> e.embedding[i]::DOUBLE * c.v[i])) DESC,
                           c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cents{t} c) WHERE rn = 1)""")
        parts.append(f"""agg{t} AS (
            SELECT a.cell, g.i,
                   sum(CAST(round(e.embedding[g.i]::DOUBLE * {float(sim.IVF_SCALE)!r}) AS BIGINT)) AS sm,
                   count(*) AS n
            FROM ass{t} a JOIN embeddings e USING (vec_id)
            CROSS JOIN generate_series(1, {dim}) AS g(i)
            GROUP BY a.cell, g.i)""")
        parts.append(f"""nw{t} AS (
            SELECT cell AS cid,
                   CASE WHEN sqrt(list_sum(list_transform(rv, x -> x * x))) > 0
                        THEN list_transform(rv, x -> x / sqrt(list_sum(list_transform(rv, y -> y * y))))
                        ELSE NULL END AS v
            FROM (SELECT cell, list((sm::DOUBLE / n::DOUBLE) / {float(sim.IVF_SCALE)!r} ORDER BY i) AS rv
                  FROM agg{t} GROUP BY cell))""")
        parts.append(f"""cents{t + 1} AS (
            SELECT c.cid, COALESCE(n.v, c.v) AS v
            FROM cents{t} c LEFT JOIN nw{t} n USING (cid))""")
    parts.append(f"cents AS (SELECT cid, v FROM cents{n_iters})")
    return ",\n        ".join(parts)


# single source of truth for the emb_neardup_ivf hyperparameters: the
# driver row, its oracle, AND bench.py's candidate-count observation all
# read this, so the published candidate count always measures the same
# query the timed row runs
EMB_NEARDUP_IVF_PARAMS = {"threshold": 0.45, "dim": 64, "n_cells": 8, "nprobe": 4}


def q_emb_neardup_ivf(spark, sf):
    """IVF-blocked near-dup — the loose-threshold scale path (approximate,
    recall dialed by nprobe; candidates exact-verified so output ⊆ the
    all-pairs result). TRAINED codebook (Spark-native k-means,
    :func:`similarity.train_ivf_centroids`); the DuckDB oracle re-derives
    the identical codebook in SQL and reproduces cell assignment +
    probing + verification exactly."""
    cents = _trained_codebook(spark, sf)
    return sim.embedding_neardup_pairs_ivf(
        _t(spark, sf, "embeddings"), centroids=cents, **EMB_NEARDUP_IVF_PARAMS
    )


def _emb_neardup_ivf_oracle_sql(
    threshold: float = EMB_NEARDUP_IVF_PARAMS["threshold"],
    dim: int = EMB_NEARDUP_IVF_PARAMS["dim"],
    n_cells: int = EMB_NEARDUP_IVF_PARAMS["n_cells"],
    nprobe: int = EMB_NEARDUP_IVF_PARAMS["nprobe"],
) -> str:
    return f"""
        WITH {_ivf_train_ctes(dim, n_cells)},
        cscore AS (
            SELECT e.vec_id, c.cid,
                   list_sum(list_transform(generate_series(1, {dim}),
                        i -> e.embedding[i]::DOUBLE * c.v[i])) AS d
            FROM embeddings e CROSS JOIN cents c),
        ranked AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
            FROM cscore),
        home AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
        probe AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn <= {nprobe}),
        cand AS (
            SELECT DISTINCT least(p.vec_id, h.vec_id) AS id_a,
                            greatest(p.vec_id, h.vec_id) AS id_b
            FROM probe p JOIN home h USING (cell)
            WHERE p.vec_id <> h.vec_id)
        SELECT id_a, id_b, score FROM (
            SELECT c.id_a, c.id_b, {_COS} AS score
            FROM cand c
            JOIN embeddings a ON a.vec_id = c.id_a
            JOIN embeddings b ON b.vec_id = c.id_b)
        WHERE score >= {threshold}
    """


def q_knn_label_vote(spark, sf):
    # fold scoring on purpose — see the measurement note on q_ann_topk
    return sim.knn_label_vote(_t(spark, sf, "embeddings"), n_queries=20, k=5)


def q_ann_lsh_topk(spark, sf):
    """LSH-bucketed ANN — the scale path. The md5-derived hyperplanes are
    deterministic Python literals, so the DuckDB oracle reproduces the
    bucketing + multiprobe + rank EXACTLY (see _ann_lsh_oracle_sql)."""
    return sim.ann_lsh_topk(_t(spark, sf, "embeddings"), n_queries=20, k=5)


def _ann_lsh_oracle_sql(n_queries: int = 20, k: int = 5, dim: int = 64, planes: int = 4) -> str:
    """Emit the LSH hyperplanes as SQL literals and rebuild the exact
    Spark algorithm in DuckDB: sign-projection bucket, 1-bit-flip
    multiprobe, within-bucket cosine, top-k by (score desc, id asc)."""
    plane_rows = ",\n            ".join(
        "({bit}, [{vals}]::DOUBLE[])".format(
            bit=1 << p,
            vals=", ".join(repr(x) for x in sim._hyperplane(p, dim)),
        )
        for p in range(planes)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << p})" for p in range(planes)])
    return f"""
        WITH planes(bit, v) AS (VALUES
            {plane_rows}),
        buckets AS (
            SELECT e.vec_id,
                   sum(CASE WHEN list_sum(list_transform(generate_series(1, {dim}),
                                i -> e.embedding[i]::DOUBLE * p.v[i])) > 0
                            THEN p.bit ELSE 0 END)::INT AS bucket
            FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id),
        b AS (SELECT e.vec_id, e.embedding, bk.bucket
              FROM embeddings e JOIN buckets bk USING (vec_id)),
        q AS (SELECT vec_id AS query_id, embedding AS qemb,
                     unnest([{probes}]) AS bucket
              FROM b WHERE vec_id < {n_queries}),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   round(list_sum(list_transform(generate_series(1, {dim}),
                             i -> q.qemb[i]::DOUBLE * c.embedding[i]::DOUBLE))
                         / (sqrt(list_sum(list_transform(q.qemb, x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                         4) AS score
            FROM q JOIN b c USING (bucket)
            WHERE c.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= {k}
    """


def q_ann_ivf_topk(spark, sf):
    """IVF ANN — coarse-quantizer cells + nprobe search (the second
    scale-path ANN besides LSH). TRAINED codebook (Spark-native k-means);
    the DuckDB oracle re-derives the identical codebook in SQL and
    reproduces assignment + probing + ranking exactly."""
    cents = _trained_codebook(spark, sf)
    return sim.ann_ivf_topk(
        _t(spark, sf, "embeddings"), n_queries=20, k=5, centroids=cents
    )


def _ann_ivf_oracle_sql(
    n_queries: int = 20, k: int = 5, dim: int = 64, n_cells: int = 8, nprobe: int = 2
) -> str:
    return f"""
        WITH {_ivf_train_ctes(dim, n_cells)},
        cscore AS (
            SELECT e.vec_id, c.cid,
                   list_sum(list_transform(generate_series(1, {dim}),
                        i -> e.embedding[i]::DOUBLE * c.v[i])) AS d
            FROM embeddings e CROSS JOIN cents c),
        ranked AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
            FROM cscore),
        b AS (SELECT e.vec_id, e.embedding, r.cid AS cell
              FROM embeddings e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1),
        q AS (SELECT e.vec_id AS query_id, e.embedding AS qemb, r.cid AS cell
              FROM embeddings e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= {nprobe}
              WHERE e.vec_id < {n_queries}),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   round(list_sum(list_transform(generate_series(1, {dim}),
                             i -> q.qemb[i]::DOUBLE * c.embedding[i]::DOUBLE))
                         / (sqrt(list_sum(list_transform(q.qemb, x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                         4) AS score
            FROM q JOIN b c USING (cell)
            WHERE c.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= {k}
    """


_COS = (
    "round(list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) "
    "/ (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) "
    "* sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4)"
)

SIM_ORACLES = {
    "ann_topk": f"""
        WITH scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS} AS score
            FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND b.vec_id <> a.vec_id)
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= 5
    """,
    "emb_neardup": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS score
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS} >= 0.45
    """,
    "emb_neardup_ivf": _emb_neardup_ivf_oracle_sql(),
    "knn_label_vote": f"""
        WITH scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS n_label, {_COS} AS score
            FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
        topk AS (
            SELECT query_id, n_label FROM (
                SELECT query_id, n_label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id ASC) AS rank
                FROM scored) WHERE rank <= 5),
        votes AS (
            SELECT query_id, n_label, count(*) AS n_votes
            FROM topk GROUP BY query_id, n_label)
        SELECT query_id, n_label AS predicted_label, n_votes FROM (
            SELECT query_id, n_label, n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, n_label ASC) AS r
            FROM votes) WHERE r = 1
    """,
    "ann_lsh_topk": _ann_lsh_oracle_sql(),
    "ann_ivf_topk": _ann_ivf_oracle_sql(),
}


# =========================================================================
# registry
# =========================================================================

# The external driver verifies at most 50 registry rows per round
# (observed: r5's registry had 57 entries and CORRECTNESS_r05.json holds
# exactly the first 50 — the tail went silently unverified). QUERIES is
# therefore capped at 50 driver-facing rows, at least one per operator
# family; variants subsumed by a richer row (exact ANN/near-dup baselines
# that already serve as conceptual oracles of the LSH/IVF/grid rows,
# simple projections covered by fuller ones) live in EXTRA_QUERIES below,
# which tests/test_entry_parity.py verifies against the SAME DuckDB
# oracles on every pytest run. A test gate asserts len(QUERIES) <= 50 so
# future growth fails a test instead of shedding driver verification.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_dedup": q_cdc_dedup,
    "cdc_lww": q_cdc_lww,
    "cdc_lww_salted": q_cdc_lww_salted,
    "cdc_final_state": q_cdc_final_state,
    "cdc_final_state_mor": q_cdc_final_state_mor,
    "cdc_final_state_bucketed": q_cdc_final_state_bucketed,
    "cdc_partition_offsets": q_cdc_partition_offsets,
    "cdc_changelog": q_cdc_changelog,
    "cdc_changelog_bucketed": q_cdc_changelog_bucketed,
    "cdc_incremental_agg": q_cdc_incremental_agg,
    "cdc_incremental_minmax": q_cdc_incremental_minmax,
    "cdc_partial_update": q_cdc_partial_update,
    "cdc_bootstrap": q_cdc_bootstrap,
    "cdc_decode_dlq": q_cdc_decode_dlq,
    "decode_avro_events": q_decode_avro_events,
    "media_png_decode": q_media_png_decode,
    "media_jpeg_decode": q_media_jpeg_decode,
    "media_wav_decode": q_media_wav_decode,
    "media_video_frames": q_media_video_frames,
    "media_png_resize": q_media_png_resize,
    "pricing_summary": q_pricing_summary,
    "customers_lapsed": q_customers_lapsed,
    "event_type_pivot": q_event_type_pivot,
    "lineitem_cube": q_lineitem_cube,
    "top_revenue_orders": q_top_revenue_orders,
    "nation_volume": q_nation_volume,
    "top_orders_per_customer": q_top_orders_per_customer,
    "sessionize": q_sessionize,
    "doc_quality": q_doc_quality,
    "doc_lang_id": q_doc_lang_id,
    "doc_winnow": q_doc_winnow,
    "doc_lm_perplexity": q_doc_lm_perplexity,
    "doc_repetition": q_doc_repetition,
    "seq_pack": q_seq_pack,
    "bpe_pair_counts": q_bpe_pair_counts,
    "bpe_token_ids": q_bpe_token_ids,
    "pii_scrub": q_pii_scrub,
    "corpus_clean": q_corpus_clean,
    "split_assign": q_split_assign,
    "stratified_sample": q_stratified_sample,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "decontaminate": q_decontaminate,
    "emb_neardup_ivf": q_emb_neardup_ivf,
    "knn_label_vote": q_knn_label_vote,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    # the one family with no scale-path variant above — keep its driver
    # row so every operator family re-proves each round (uses the 50th
    # and last slot under the driver cap)
    "dedup_simhash": q_dedup_simhash,
}

# Subsumed/baseline variants: pytest-verified against the same oracles
# (test_entry_parity), kept OUT of the driver registry so every family in
# QUERIES gets a CORRECTNESS row each round (driver cap: 50).
EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "media_byte_histogram": q_media_byte_histogram,
    "customers_without_orders": q_customers_without_orders,
    "event_counts": q_event_counts,
    # relational variants displaced by the round-6 CDC rows (partial
    # update, bootstrap handoff): filter-agg and rollup shapes already
    # represented in QUERIES by pricing_summary and lineitem_cube
    "active_customer_balance": q_active_customer_balance,
    "events_rollup": q_events_rollup,
    "doc_stats": q_doc_stats,
    "bpe_encode": q_bpe_encode,
    "ann_topk": q_ann_topk,
    "emb_neardup": q_emb_neardup,
    "xdoc_dup": q_xdoc_dup,
    # round-6 WAP flow: engine-drive row, pytest-verified against the
    # converged-state oracle (driver registry stays at its 50-row cap)
    "cdc_wap": q_cdc_wap,
    # round-6 GDPR purge: engine-drive row, pytest-verified — converged
    # state minus the purged keys must hash-match the filtered oracle
    "cdc_purge": q_cdc_purge,
}

ORACLES: dict[str, str] = {
    **CDC_ORACLES,
    **AVRO_ORACLES,
    **MEDIA_ORACLES,
    **REL_ORACLES,
    **TEXT_ORACLES,
    **DEDUP_ORACLES,
    **SIM_ORACLES,
}
