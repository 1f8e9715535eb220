"""Streaming CDC ingest: change-event tail → watermarked dedup → fenced MERGE.

The streaming equivalent of the reference's ``KafkaStreamingSource`` +
``KafkaDStream`` (``KafkaDStream.scala:41-76``): where the reference
captures per-RDD offset ranges before its map and hands them to a state
consumer after each batch (save is post-hoc and non-atomic —
``KafkaStreamingSource.java:124-141``), this pipeline runs the resolve +
merge inside ``foreachBatch`` and commits the per-partition offset ranges
*in the same atomic snapshot as the data*. Spark's checkpoint gives
at-least-once re-delivery of a failed epoch; the snapshot fence upgrades
the end-to-end contract to exactly-once.

In production the source is ``spark.readStream.format("kafka")`` with
options from :mod:`kafka_plugins_spark.sources.kafka`; in the sandbox the
same pipeline is driven by a file stream over event parquet (the guide's
recommended local harness), which exercises identical plan shapes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from kafka_plugins_spark.functions.decode import parse_transcript_wire, split_transcript_dlq
from kafka_plugins_spark.lake import CommitResult, ParquetSnapshotTable, compute_ranges
from kafka_plugins_spark.operators.resolve import DEDUP_KEY, last_writer_wins


@dataclass
class IngestStream:
    query: StreamingQuery
    table: ParquetSnapshotTable
    commits: list[CommitResult] = field(default_factory=list)
    compactions: list[CommitResult] = field(default_factory=list)
    #: one advance() info dict per (committed batch × maintained view)
    mv_advances: list[dict] = field(default_factory=list)

    def await_and_stop(self) -> None:
        """Drain everything currently available, then stop (test harness)."""
        self.query.processAllAvailable()
        self.query.stop()
        self.query.awaitTermination(30)


def _wire_ranges(parsed: DataFrame) -> tuple[dict[int, tuple[int, int]], int]:
    """:func:`compute_ranges` of a :func:`parse_transcript_wire` frame
    plus its dead-letter row count, in one aggregate job."""
    rows = (
        parsed.groupBy("partition")
        .agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count("reason").alias("dead"),
        )
        .collect()
    )
    ranges = {int(r["partition"]): (int(r["lo"]), int(r["hi"]) + 1) for r in rows}
    return ranges, sum(int(r["dead"]) for r in rows)


def dedup_stream(events: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Watermarked replay-dedup: state for ``(conv_id, turn_idx, offset)``
    is kept only within the watermark delay, so unbounded streams don't
    accumulate unbounded dedup state. Duplicates in Kafka replay arrive
    close to the original (same producer retry / micro-batch overlap), so
    a bounded window is the right contract.

    The delay must bound the *event-time disorder* of the stream: rows
    older than ``max(ts) - delay`` are late and silently dropped by the
    stateful operator. Payload timestamps of historical CDC replays can
    be arbitrarily disordered relative to offset order — for those,
    either widen the delay to cover the disorder, use the broker
    timestamp (near-monotone per partition) as the watermark column, or
    disable stateful dedup entirely (``dedup=False``): the LWW reduce +
    snapshot fence already collapse duplicates exactly.
    """
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(DEDUP_KEY)


def start_ingest_stream(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    checkpoint_path: str,
    salt_buckets: int | None = None,
    watermark_delay: str = "1 hour",
    dedup: bool = False,
    available_now: bool = True,
    mode: str | None = None,
    n_buckets: int | None = None,
    auto_compact_every: int | None = None,
    wire: bool = False,
    dlq_path: str | None = None,
    maintained_views: list | None = None,
    patch: bool = False,
) -> IngestStream:
    """Wire the streaming DAG and start it.

    ``source`` is any streaming DataFrame with CHANGE_EVENT columns —
    a file stream in tests, a decoded Kafka stream in production.

    ``mode="mor"`` makes each micro-batch commit an O(batch) delta append
    instead of a CoW table rewrite — the right shape for a long-running
    tail where the table dwarfs every micro-batch; schedule
    ``table.compact()`` periodically to fold deltas (same contract as
    Iceberg MoR maintenance).

    ``auto_compact_every=N`` runs that maintenance inline: whenever a
    commit leaves the table reading ≥N data dirs, the batch loop folds
    them with :meth:`ParquetSnapshotTable.compact` before the next batch,
    so a 10k-micro-batch tail that never schedules external maintenance
    still reads at most N dirs (read amplification bounded by config, not
    by operator vigilance). Compaction commits are recorded separately in
    ``IngestStream.compactions``. Safe under the same in-order contract
    as :meth:`compact` (always true for Kafka per-partition order).

    ``wire=True`` takes a RAW wire-frame source (``value`` JSON bytes +
    ``partition``/``offset`` envelope) and decodes INSIDE each batch with
    the dead-letter split (:func:`decode_transcript_events_with_dlq`):
    undecodable rows go to ``dlq_path`` (one overwrite-mode subdir per
    batch id, so a replayed epoch rewrites its quarantine idempotently
    instead of duplicating it) and the batch continues with the good
    rows. The payload is parsed once per batch: the cached parsed frame
    feeds one per-partition aggregate (offset ranges plus the
    dead-letter count), the DLQ write and the merge. A ``batch-NNNNNN``
    subdir is written only for a batch that quarantined at least one
    row, so a clean batch schedules no write job and leaves no empty
    subdir. Replay stays idempotent: the checkpoint's offset log pins a
    batch id's offsets, so a replayed epoch holds the same rows, counts
    the same dead letters, and either rewrites the same subdir or, clean
    again, writes none. The offset fence covers the FULL batch including
    quarantined offsets — they were processed (into the DLQ), so a replay
    skips them while the DLQ keeps the record; requires ``dedup=False``
    (stateful dedup needs decoded event time) and a non-None
    ``dlq_path``: without a quarantine sink the fence would still cover
    the dropped offsets, making the loss permanent AND unrecorded — the
    same silent-data-loss class as the dedup trap, so it is refused
    rather than defaulted.

    DLQ idempotence is **per-checkpoint**: batch ids (and thus the
    ``batch-NNNNNN`` overwrite targets) are assigned by the streaming
    checkpoint, so a replay under the SAME checkpoint rewrites its
    quarantine in place, while a fresh checkpoint over the same input may
    slice batches differently and would leave the prior run's subdirs
    stale beside its own. Point each fresh checkpoint at a fresh
    ``dlq_path`` (or clear it), or dedupe reads by (partition, offset) —
    offsets are unique per source, so the quarantined ROWS are identical
    either way.

    ``maintained_views=[mv, ...]`` (``MaintainedCountSum`` /
    ``MaintainedGroupAgg`` instances over the SAME table path) advances
    each view inside the batch loop right after its commit lands, so MVs
    stay current with the stream with no external scheduler — the
    production composition of ingest + incremental maintenance.
    Exactly-once falls out of the existing contracts: an advance targets
    the table's CURRENT snapshot and republishes idempotently per target
    id, so if an epoch fails mid-advance, Spark replays it, the fence
    skips the already-committed merge, and the retried advance converges
    on the same state bytes (crash-mid-advance covered in
    tests/test_incremental.py). Advances for batches the fence skipped
    are no-ops. Failures propagate — a silently stale MV is the worse
    outcome — and the retry path above makes propagation safe.

    ``patch=True`` treats the source as a PARTIAL-UPDATE (patch) stream:
    events carry a ``cols_set`` array naming the columns they set, each
    micro-batch resolves per-column
    (:func:`~kafka_plugins_spark.operators.resolve.resolve_partial_updates`
    with ``emit_sets=True``) and applies via
    :meth:`ParquetSnapshotTable.merge_patch`, so an update that only
    touched ``tool`` never nulls the stored ``text``. Requires a decoded
    source (``wire=False``) and CoW mode; Kafka's per-partition order
    satisfies the merge's in-order contract.

    ``dedup=False`` is the DEFAULT on purpose: the LWW reduce + snapshot
    fence already collapse replay duplicates *exactly*, with no state and
    no loss. ``dedup=True`` adds watermarked stateful dedup on the
    payload event time, which trims per-batch work but silently DROPS
    rows whose event time lags ``max(ts) - watermark_delay`` — while
    ``compute_ranges`` on the post-dedup batch still fences their
    offsets, making the drop permanent. Only enable it when the stream's
    event-time disorder is provably bounded by ``watermark_delay``.
    """
    if patch and wire:
        raise ValueError(
            "patch=True requires a decoded source carrying a cols_set column "
            "(the wire decoder emits full-row post-images)"
        )
    if patch and (mode or "cow") != "cow":
        raise ValueError("patch=True composes column-level state and requires CoW mode")
    if wire and dedup:
        raise ValueError("wire=True requires dedup=False (dedup needs decoded event time)")
    if wire and dlq_path is None:
        raise ValueError(
            "wire=True requires dlq_path: undecodable rows are dropped from the "
            "batch while compute_ranges still fences their offsets — without a "
            "quarantine the loss would be permanent and unrecorded"
        )
    table = ParquetSnapshotTable(spark, table_path, mode=mode, n_buckets=n_buckets)
    stream = IngestStream(query=None, table=table)  # type: ignore[arg-type]

    events = dedup_stream(source, watermark_delay) if dedup else source

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        if wire:
            # parse once: the ranges aggregate, the DLQ write and the
            # merge all read the cached parsed frame
            batch = parse_transcript_wire(batch)
        batch = batch.cache()
        try:
            if wire:
                ranges, n_dead = _wire_ranges(batch)
            else:
                ranges = compute_ranges(batch)
            if not ranges:
                return
            work = batch
            if wire:
                work, dlq = split_transcript_dlq(batch)
                if n_dead:
                    dlq.write.mode("overwrite").parquet(
                        os.path.join(dlq_path, f"batch-{batch_id:06d}")
                    )
            if patch:
                # patch streams: per-column batch resolve + column-level
                # merge against stored state (Kafka per-partition order
                # satisfies merge_patch's in-order contract)
                from kafka_plugins_spark.operators.resolve import (
                    resolve_partial_updates,
                )

                winners = resolve_partial_updates(work, emit_sets=True)
                res = table.merge_patch(winners, batch_id=batch_id, ranges=ranges)
            else:
                winners = last_writer_wins(work, salt_buckets=salt_buckets)
                res = table.merge_into(winners, batch_id=batch_id, ranges=ranges)
            res.wall_ms = int((time.monotonic() - t0) * 1000)
            stream.commits.append(res)
            # MoR only: its dir count IS read amplification. A bucketed
            # table legitimately reads n_buckets dirs with no resolution
            # cost — compacting on that count would rewrite the whole
            # table every batch; a CoW table never exceeds 1 dir.
            if (
                auto_compact_every is not None
                and table._write_mode() == "mor"
                and table.live_data_dirs() >= auto_compact_every
            ):
                stream.compactions.append(table.compact())
            for mv in maintained_views or ():
                stream.mv_advances.append(mv.advance())
        finally:
            batch.unpersist()

    writer = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    stream.query = writer.start()
    return stream


def file_event_source(
    spark: SparkSession,
    watch_path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream stand-in for the Kafka topic (sandbox/testing)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(watch_path)
