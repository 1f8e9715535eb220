"""resolve_partial_updates: per-column LWW for partial (patch) change events.

The reference replays whatever payload the producer wrote and leaves
duplicate/partial semantics to the consumer (KafkaBatchConfig.java:58-62);
the MySQL-minimal-row-image / Debezium-patch case — update events carrying
only changed columns — therefore needs an engine-owned resolver. Oracle
here is an imperative offset-order fold in pandas (apply I/U/D patch
semantics one event at a time), which the one-shuffle aggregate must
reproduce exactly.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from kafka_plugins_spark.operators.resolve import resolve_partial_updates

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("cols_set", T.ArrayType(T.StringType()), True),
    ]
)

PAYLOAD = ["role", "text", "tool", "ts"]


def _ev(conv, turn, op, offset, cols_set=None, **vals):
    row = {
        "conv_id": conv,
        "turn_idx": turn,
        "role": None,
        "text": None,
        "tool": None,
        "ts": None,
        "op": op,
        "partition": 0,
        "offset": offset,
        "cols_set": list(PAYLOAD) if op == "I" else (cols_set or []),
    }
    row.update(vals)
    return row


def _fold_oracle(rows: list[dict]) -> pd.DataFrame:
    """Imperative patch fold in offset order — the semantics spec."""
    state: dict[tuple, dict | None] = {}
    for r in sorted(rows, key=lambda r: r["offset"]):
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "I":
            state[k] = {c: r[c] for c in PAYLOAD}
        elif r["op"] == "D":
            state[k] = None
        elif r["op"] == "U":
            if state.get(k) is not None:
                for c in r["cols_set"] or []:
                    state[k][c] = r[c]
            # U on a non-existent key: buffer nothing — but a later
            # reinsert-free stream must still surface U columns if an I
            # exists at ANY offset below a later U (the aggregate is
            # order-free); the fold handles that naturally because events
            # are folded in offset order.
    out = [
        {"conv_id": k[0], "turn_idx": k[1], **v}
        for k, v in state.items()
        if v is not None
    ]
    return (
        pd.DataFrame(out, columns=["conv_id", "turn_idx", *PAYLOAD])
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, schema=SCHEMA)
    return resolve_partial_updates(df, **kw)


def _collect(df):
    return (
        df.select("conv_id", "turn_idx", *PAYLOAD)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_partial_update_composes_columns(spark):
    rows = [
        _ev("a", 0, "I", 0, role="user", text="hello", tool=None),
        _ev("a", 0, "U", 1, cols_set=["text"], text="hello, world"),
        _ev("a", 0, "U", 2, cols_set=["tool"], tool="search"),
    ]
    got = _collect(_run(spark, rows))
    # each column from ITS latest setter, not from the latest event
    assert got.loc[0, "role"] == "user"
    assert got.loc[0, "text"] == "hello, world"
    assert got.loc[0, "tool"] == "search"


def test_row_lww_would_null_unchanged_columns(spark):
    """The failure mode this operator exists for, pinned explicitly."""
    from kafka_plugins_spark.operators.resolve import final_state

    rows = [
        _ev("a", 0, "I", 0, role="user", text="hello"),
        _ev("a", 0, "U", 1, cols_set=["tool"], tool="search"),
    ]
    df = spark.createDataFrame(rows, schema=SCHEMA)
    row_lww = final_state(df.drop("cols_set")).toPandas().iloc[0]
    assert row_lww["text"] is None  # full-image LWW nulls the unchanged col
    got = _collect(resolve_partial_updates(df)).iloc[0]
    assert got["text"] == "hello" and got["tool"] == "search"


def test_delete_boundary_does_not_leak_stale_columns(spark):
    rows = [
        _ev("a", 0, "I", 0, role="user", text="old", tool="old-tool"),
        _ev("a", 0, "U", 1, cols_set=["tool"], tool="stale"),
        _ev("a", 0, "D", 2),
        _ev("a", 0, "I", 3, role="assistant", text="new"),  # tool NULL here
    ]
    got = _collect(_run(spark, rows))
    assert len(got) == 1
    assert got.loc[0, "role"] == "assistant"
    assert got.loc[0, "text"] == "new"
    assert got.loc[0, "tool"] is None  # pre-delete 'stale' must NOT survive


def test_explicit_set_to_null_vs_unchanged(spark):
    rows = [
        _ev("a", 0, "I", 0, role="user", text="x", tool="t"),
        # names 'tool' in cols_set with NULL value: explicit SET-to-NULL;
        # 'text' is absent from the set: unchanged even though NULL
        _ev("a", 0, "U", 1, cols_set=["tool"]),
    ]
    got = _collect(_run(spark, rows))
    assert got.loc[0, "tool"] is None
    assert got.loc[0, "text"] == "x"


def test_update_without_insert_yields_no_row(spark):
    rows = [_ev("a", 0, "U", 5, cols_set=["text"], text="orphan")]
    assert _run(spark, rows).count() == 0


def test_last_rowop_delete_drops_key_and_keep_deletes_emits_tombstone(spark):
    rows = [
        _ev("a", 0, "I", 0, role="user", text="x"),
        _ev("a", 0, "D", 1),
        _ev("b", 0, "I", 2, role="user", text="y"),
    ]
    live = _run(spark, rows)
    assert [r["conv_id"] for r in live.collect()] == ["b"]
    both = _run(spark, rows, keep_deletes=True)
    ops = {r["conv_id"]: r["op"] for r in both.collect()}
    assert ops == {"a": "D", "b": "I"}
    dead = [r for r in both.collect() if r["op"] == "D"][0]
    assert dead["text"] is None and dead["offset"] == 1


def test_randomized_patch_stream_matches_fold_oracle(spark):
    """200 keys × deterministic pseudo-random I/U/D patches, with
    out-of-order offsets and replay duplicates, vs the imperative fold."""
    rows: list[dict] = []
    offset = 0
    for k in range(200):
        conv = f"c{k:03d}"
        n = (k * 7919) % 9 + 1
        for i in range(n):
            h = (k * 31 + i * 17) % 10
            offset += 1
            if i == 0 or h == 7:
                rows.append(
                    _ev(conv, 0, "I", offset, role=f"r{h}", text=f"t{k}-{i}",
                        tool=(f"tool{h}" if h % 3 == 0 else None))
                )
            elif h == 9:
                rows.append(_ev(conv, 0, "D", offset))
            else:
                cols = [["text"], ["role"], ["tool"], ["text", "tool"]][h % 4]
                vals = {c: f"v{k}-{i}-{c}" for c in cols}
                if h % 5 == 0:
                    vals[cols[0]] = None  # explicit set-to-NULL
                rows.append(_ev(conv, 0, "U", offset, cols_set=cols, **vals))
    # replay duplicates: every 13th event re-delivered at the same offset
    rows += [dict(r) for i, r in enumerate(rows) if i % 13 == 0]
    got = _collect(_run(spark, rows))
    want = _fold_oracle(rows)
    pd.testing.assert_frame_equal(
        got.drop(columns=["ts"]), want.drop(columns=["ts"]), check_dtype=False
    )


def test_partial_resolve_plan_is_one_exchange_no_window(spark):
    rows = [_ev("a", 0, "I", 0, role="user", text="x")]
    df = spark.createDataFrame(rows, schema=SCHEMA)
    for kw in ({}, {"emit_sets": True}):
        plan = (
            resolve_partial_updates(df, **kw)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, (kw, plan)
        assert "Window" not in plan, (kw, plan)
        assert "BatchEvalPython" not in plan, (kw, plan)


def _chunked_patch_replay(spark, rows, tmp_path, n_chunks=3):
    """Split a patch stream into offset chunks, resolve each with
    emit_sets, merge_patch sequentially; return the table."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "patch_t"))
    hi = max(r["offset"] for r in rows) + 1
    step = hi // n_chunks + 1
    for i in range(n_chunks):
        lo, end = i * step, min((i + 1) * step, hi)
        chunk = [r for r in rows if lo <= r["offset"] < end]
        if not chunk:
            continue
        winners = _run(spark, chunk, emit_sets=True)
        table.merge_patch(winners, batch_id=i, ranges={0: (lo, end)})
    return table


def test_merge_patch_multi_commit_matches_fold_oracle(spark, tmp_path):
    """The cross-commit property: chunked patch ingest through
    merge_patch == the imperative fold over the whole stream. Covers
    patches landing in later commits than their insert, deletes and
    reinserts straddling commit boundaries, and orphan patches."""
    rows: list[dict] = []
    offset = 0
    for k in range(120):
        conv = f"c{k:03d}"
        n = (k * 5077) % 8 + 1
        for i in range(n):
            h = (k * 13 + i * 29) % 10
            offset += 1
            if i == 0 and h != 3:  # h==3 keys start with an orphan patch
                rows.append(_ev(conv, 0, "I", offset, role=f"r{h}", text=f"t{k}"))
            elif h == 9:
                rows.append(_ev(conv, 0, "D", offset))
            elif h == 8:
                rows.append(_ev(conv, 0, "I", offset, role="re", text=f"re{i}"))
            else:
                cols = [["text"], ["role"], ["tool"], ["role", "tool"]][h % 4]
                vals = {c: f"v{k}-{i}-{c}" for c in cols}
                rows.append(_ev(conv, 0, "U", offset, cols_set=cols, **vals))
    table = _chunked_patch_replay(spark, rows, tmp_path)
    got = _collect(table.read())
    want = _fold_oracle(rows)
    pd.testing.assert_frame_equal(
        got.drop(columns=["ts"]), want.drop(columns=["ts"]), check_dtype=False
    )


def test_merge_patch_patches_stored_row_across_commits(spark, tmp_path):
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    b1 = _run(spark, [_ev("a", 0, "I", 0, role="user", text="hello", tool="t0")],
              emit_sets=True)
    table.merge_patch(b1, batch_id=0, ranges={0: (0, 1)})
    # later commit patches ONLY tool — text must come from the stored row
    b2 = _run(spark, [_ev("a", 0, "U", 1, cols_set=["tool"], tool="t1")],
              emit_sets=True)
    table.merge_patch(b2, batch_id=1, ranges={0: (1, 2)})
    row = table.read().collect()[0]
    assert (row["text"], row["tool"], row["role"]) == ("hello", "t1", "user")


def test_merge_patch_orphan_and_dead_patches_dropped(spark, tmp_path):
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    table.merge_patch(
        _run(spark, [
            _ev("a", 0, "I", 0, role="user", text="x"),
            _ev("gone", 0, "U", 1, cols_set=["text"], text="orphan"),
        ], emit_sets=True),
        batch_id=0, ranges={0: (0, 2)},
    )
    table.merge_patch(
        _run(spark, [_ev("a", 0, "D", 2)], emit_sets=True),
        batch_id=1, ranges={0: (2, 3)},
    )
    # patch to the tombstoned key must not resurrect it
    table.merge_patch(
        _run(spark, [_ev("a", 0, "U", 3, cols_set=["text"], text="zombie")],
             emit_sets=True),
        batch_id=2, ranges={0: (3, 4)},
    )
    assert table.read().count() == 0


def test_merge_patch_fence_skips_and_enforces_order(spark, tmp_path):
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    b = _run(spark, [_ev("a", 0, "I", 5, role="user", text="x")], emit_sets=True)
    r1 = table.merge_patch(b, batch_id=0, ranges={0: (0, 10)})
    assert not r1.skipped
    # replay of the same range is a fence-skipped no-op
    assert table.merge_patch(b, batch_id=0, ranges={0: (0, 10)}).skipped
    # a straddling (partially delivered) batch must refuse, not guess
    b2 = _run(spark, [_ev("a", 0, "U", 12, cols_set=["text"], text="y")],
              emit_sets=True)
    with pytest.raises(ValueError, match="in-order"):
        table.merge_patch(b2, batch_id=1, ranges={0: (5, 15)})
    # the in-order continuation applies cleanly
    assert not table.merge_patch(b2, batch_id=1, ranges={0: (10, 15)}).skipped
    assert table.read().collect()[0]["text"] == "y"


def test_merge_patch_empty_ranges_still_enforce_order(spark, tmp_path):
    """``ranges={}`` is computed from the batch like ``ranges=None``, so
    a gap patch below the delivered interval still refuses."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    b = _run(spark, [_ev("a", 0, "I", 15, role="user", text="x")], emit_sets=True)
    table.merge_patch(b, batch_id=0, ranges={0: (10, 20)})
    gap = _run(spark, [_ev("a", 0, "U", 5, cols_set=["text"], text="stale")], emit_sets=True)
    with pytest.raises(ValueError, match="in-order"):
        table.merge_patch(gap, batch_id=1, ranges={})
    assert table.read().collect()[0]["text"] == "x"


def test_merge_patch_schema_evolution_new_column(spark, tmp_path):
    """A later patch batch introducing a NEW payload column widens the
    table (merge_schemas) and backfills older rows with NULL — the same
    evolution contract as merge_into."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    schema_v2 = T.StructType(
        list(SCHEMA.fields[:6])
        + [T.StructField("lang", T.StringType(), True)]
        + list(SCHEMA.fields[6:])
    )
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    table.merge_patch(
        _run(spark, [_ev("a", 0, "I", 0, role="user", text="x"),
                     _ev("b", 0, "I", 1, role="user", text="y")], emit_sets=True),
        batch_id=0, ranges={0: (0, 2)},
    )
    v2_rows = [
        {**_ev("a", 0, "U", 2, cols_set=["lang"]), "lang": "en"},
        {**_ev("c", 0, "I", 3), "role": "user", "text": "z", "lang": "de",
         "cols_set": ["role", "text", "tool", "ts", "lang"]},
    ]
    from kafka_plugins_spark.operators.resolve import resolve_partial_updates

    winners = resolve_partial_updates(
        spark.createDataFrame(v2_rows, schema=schema_v2), emit_sets=True
    )
    table.merge_patch(winners, batch_id=1, ranges={0: (2, 4)})
    got = {r["conv_id"]: (r["text"], r["lang"]) for r in table.read().collect()}
    assert got == {"a": ("x", "en"), "b": ("y", None), "c": ("z", "de")}


def test_bootstrap_differing_partition_starts(spark, tmp_path):
    """start_offsets need not be uniform: the dump envelope sits below
    min(start), so tail events of EVERY partition out-offset it; fence
    clips per partition independently."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable
    from kafka_plugins_spark.replay import bootstrap

    dump = spark.createDataFrame(
        [("a", 0, "user", "from-dump", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    table, res = bootstrap(
        spark, dump, str(tmp_path / "t"), {0: 100, 1: 7, 2: 0}
    )
    assert not res.skipped
    wm = table.watermarks()
    assert wm.get(0) == 100 and wm.get(1) == 7 and 2 not in wm
    stored_off = table._read_full().agg(F.max("_offset")).collect()[0][0]
    assert stored_off == -1  # min(start) - 1 with an empty partition present
    # a tail event at partition 2 offset 0 (below the other partitions'
    # cuts) must pass the fence and beat the dump row
    tail = _run(
        spark,
        [_ev("a", 0, "U", 0, cols_set=["text"], text="tail-wins")],
        emit_sets=True,
    )
    tail = tail.withColumn("partition", F.lit(2).cast("int"))
    table.merge_patch(tail, batch_id=1, ranges={2: (0, 1)})
    assert table.read().collect()[0]["text"] == "tail-wins"


def test_replay_patch_mode_chunked_matches_fold_oracle(spark, tmp_path):
    """replay(patch=True): chunked batch ingest of a patch log through
    merge_patch lands on the fold-oracle state, and a re-replay is
    entirely fence-skipped."""
    from kafka_plugins_spark.replay import replay

    rows: list[dict] = []
    offset = 0
    for k in range(60):
        conv = f"c{k:03d}"
        for i in range((k * 31) % 6 + 1):
            h = (k * 11 + i * 23) % 8
            offset += 1
            if i == 0:
                rows.append(_ev(conv, 0, "I", offset, role="user", text=f"t{k}"))
            elif h == 7:
                rows.append(_ev(conv, 0, "D", offset))
            else:
                cols = [["text"], ["role"], ["tool"]][h % 3]
                rows.append(
                    _ev(conv, 0, "U", offset, cols_set=cols,
                        **{c: f"v{k}-{i}" for c in cols})
                )
    ev_path = str(tmp_path / "patch_events")
    spark.createDataFrame(rows, schema=SCHEMA).write.partitionBy("partition").parquet(
        ev_path
    )
    table, results = replay(
        spark, ev_path, str(tmp_path / "t"), chunk_size=40, patch=True
    )
    assert len([r for r in results if not r.skipped]) >= 2
    got = _collect(table.read())
    want = _fold_oracle(rows)
    pd.testing.assert_frame_equal(
        got.drop(columns=["ts"]), want.drop(columns=["ts"]), check_dtype=False
    )
    _, again = replay(spark, ev_path, str(tmp_path / "t"), chunk_size=40, patch=True)
    assert all(r.skipped for r in again)


def test_compose_patch_plan_broadcasts_batch_no_full_outer(spark, tmp_path):
    """The 100 TB shape of merge_patch: a micro-batch against a stored
    table must NOT plan a full-outer sort-merge join (unbroadcastable —
    it would shuffle the whole wide table every commit). The stored side
    streams through a broadcast left join; the anti-join scan is pruned
    to key columns."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable, _compose_patch

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    rows = [_ev(f"k{i}", 0, "I", i, role="user", text=f"x{i}") for i in range(50)]
    table.merge_into(
        _run(spark, rows, keep_deletes=True), batch_id=0, ranges={0: (0, 50)}
    )
    stored = table._read_full()
    batch = _run(spark, [_ev("k1", 0, "U", 60, cols_set=["text"], text="p")],
                 emit_sets=True)
    payload = [
        c
        for c in stored.columns
        if c not in ("conv_id", "turn_idx", "_op", "_partition", "_offset")
    ]
    patched, inserts = _compose_patch(stored, batch, payload, "cols_set")
    merged = patched.unionByName(inserts.select(*patched.columns))
    merged.write.format("noop").mode("overwrite").save()  # finalize AQE
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_merge_patch_rejects_row_resolving_modes(spark, tmp_path):
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"), mode="mor")
    b = _run(spark, [_ev("a", 0, "I", 0, role="user", text="x")], emit_sets=True)
    with pytest.raises(NotImplementedError, match="CoW"):
        table.merge_patch(b, batch_id=0, ranges={0: (0, 1)})


def test_partial_resolve_feeds_merge_into(spark, tmp_path):
    """Output shape is merge-compatible: patch-resolve a stream, merge it,
    read back the converged table."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    rows = [
        _ev("a", 0, "I", 0, role="user", text="hello"),
        _ev("a", 0, "U", 1, cols_set=["text"], text="patched"),
        _ev("b", 0, "I", 2, role="user", text="bye"),
        _ev("b", 0, "D", 3),
    ]
    winners = _run(spark, rows, keep_deletes=True)
    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    table.merge_into(winners, batch_id=0, ranges={0: (0, 4)})
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got == {"a": "patched"}


def test_merge_patch_rejects_gap_backfill_below_watermark(spark, tmp_path):
    """A batch entirely inside an undelivered HOLE below the watermark
    overlaps no delivered interval, but composing its stale column
    values over newer stored state would regress the table — the
    in-order guard must fire even without overlap (code-review finding:
    the check used to be gated on fence_decision.needs_filter, which a
    non-overlapping backfill never sets)."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    b = _run(spark, [_ev("a", 0, "I", 12, role="user", text="new")], emit_sets=True)
    table.merge_patch(b, batch_id=0, ranges={0: (10, 20)})
    stale = _run(
        spark,
        [_ev("a", 0, "U", 5, cols_set=["text"], text="stale")],
        emit_sets=True,
    )
    with pytest.raises(ValueError, match="in-order"):
        table.merge_patch(stale, batch_id=1, ranges={0: (0, 10)})
    assert table.read().collect()[0]["text"] == "new"


def test_merge_patch_mixed_retry_partition_drops_only_covered_rows(spark, tmp_path):
    """A multi-partition batch where one partition is a fully-covered
    retry and the other is new in-order data must apply the new rows and
    drop the replayed ones (the partial-failure retry case), not raise."""
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    table = ParquetSnapshotTable(spark, str(tmp_path / "t"))
    first = [_ev("a", 0, "I", 0, role="user", text="x")]
    table.merge_patch(_run(spark, first, emit_sets=True), batch_id=0, ranges={0: (0, 2)})
    retry_plus_new = first + [
        dict(_ev("b", 0, "I", 0, role="user", text="y"), partition=1)
    ]
    res = table.merge_patch(
        _run(spark, retry_plus_new, emit_sets=True),
        batch_id=1,
        ranges={0: (0, 2), 1: (0, 2)},
    )
    assert not res.skipped
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got == {"a": "x", "b": "y"}
    assert table.delivered_ranges() == {0: [(0, 2)], 1: [(0, 2)]}
