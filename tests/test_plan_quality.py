"""Physical-plan quality gates — the 100 TB design assertions.

These tests pin the plan shapes that matter at scale: pushdown reaches
the parquet scan, small dims broadcast, the LWW reduce is partial-agg +
one shuffle, and nothing row-wise Python sneaks into hot paths.
"""

import re

from pyspark.sql import functions as F

from kafka_plugins_spark.entry_queries import (
    q_cdc_lww,
    q_nation_volume,
    q_pricing_summary,
)
from kafka_plugins_spark.operators.resolve import last_writer_wins

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes(spark):
    df = q_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns in the scan output
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and len(m.group(1).split(",")) == 7
    # AQE shows codegen spans only in the final plan of an executed
    # QueryExecution (write() clones it, so act on the df itself)
    df.collect()
    final = plan_of(df)
    # "*(N)" prefixes mark WholeStageCodegen spans in toString form
    assert "isFinalPlan=true" in final and re.search(r"\*\(\d+\)", final)


def test_nation_volume_broadcasts_dims(spark):
    plan = plan_of(q_nation_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4  # cust, supp, nation, region
    assert "BatchEvalPython" not in plan


def test_lww_is_partial_agg_single_shuffle(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    winners = ev.groupBy("user_id").agg(F.max_by("value", "event_id").alias("v"))
    plan = plan_of(winners)
    # partial (map-side) then final aggregate around exactly one exchange
    assert plan.count("Exchange") == 1
    assert re.search(r"(partial_max_by|ObjectHashAggregate|SortAggregate|HashAggregate)", plan)


def test_cdc_lww_no_python(spark):
    plan = plan_of(q_cdc_lww(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_engine_lww_shuffle_count(spark, events_path):
    ev = spark.read.parquet(events_path)
    single = plan_of(last_writer_wins(ev, salt_buckets=None))
    salted = plan_of(last_writer_wins(ev, salt_buckets=8))
    assert single.count("Exchange") == 1
    assert salted.count("Exchange") == 2  # documented cost of the salted path


def test_offset_scan_partition_pruning(spark, events_path):
    """Partition-directory pruning: a single-partition range scan reads
    only that partition's files."""
    from kafka_plugins_spark.sources.events import scan_events

    df = scan_events(spark, events_path, ranges={2: (0, 50)})
    plan = plan_of(df)
    # hive-partition filter on `partition` appears as a partition filter,
    # and the offset predicate is pushed to parquet
    assert "PushedFilters" in plan
    assert df.select("partition").distinct().count() == 1


def test_dedup_verify_no_forced_broadcast(spark):
    """The per-doc sizes relation is O(corpus) — verify_pairs must not
    carry a broadcast HINT on it (a forced broadcast of per-doc counts
    OOMs at 10⁹ docs). With no hints anywhere in the dedup plans, join
    strategy is AQE's runtime call — and the side it can choose to
    broadcast against sizes is the candidate aggregate, which is small
    by construction."""
    from kafka_plugins_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (minhash_lsh_pairs(docs), ngram_jaccard_pairs(docs)):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        # no user-forced broadcast hints anywhere in the dedup plans
        assert "strategy=broadcast" not in optimized


def test_emb_neardup_no_cartesian(spark):
    """Near-dup pairs must be a cell-key equi-join (+ exact verify), not
    an all-pairs cartesian — the shape that survives 100 TB."""
    from kafka_plugins_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(embedding_neardup_pairs(emb, threshold=0.45))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_emb_neardup_ivf_plan_has_no_dot_chain(spark):
    """IVF near-dup ranks cells and scores pairs in its Arrow kernels: the
    plan is cogroup-blocked (no cartesian, no row-wise Python) and its
    optimized form carries no unrolled literal dot chain — at 8 cells ×
    64 dims those multiplications (~1,300) cost the query ~0.8 s of
    analysis and planning."""
    from kafka_plugins_spark.operators.similarity import embedding_neardup_pairs_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = embedding_neardup_pairs_ivf(emb, threshold=0.45, dim=64, n_cells=8, nprobe=4)
    plan = plan_of(df)
    for node in ("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython"):
        assert node not in plan
    assert df._jdf.queryExecution().optimizedPlan().toString().count(" * ") < 16


def test_emb_neardup_grid_matches_exact(spark):
    """The grid blocking is EXACT (recall 1 by Cauchy–Schwarz), not
    probabilistic: identical pair set as the all-pairs cross join."""
    from kafka_plugins_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_exact,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {tuple(r) for r in embedding_neardup_pairs(emb, threshold=0.45).collect()}
    want = {tuple(r) for r in embedding_neardup_pairs_exact(emb, threshold=0.45).collect()}
    assert got == want and len(want) > 0


def test_customers_lapsed_pushes_date_filter(spark):
    """The anti-join's date predicate must reach the orders scan."""
    from kafka_plugins_spark.entry_queries import q_customers_lapsed

    plan = plan_of(q_customers_lapsed(spark, SF))
    assert re.search(r"PushedFilters:.*o_orderdate", plan)
    assert "BatchEvalPython" not in plan


def test_mor_read_is_single_window_resolution(spark, events_path, tmp_path):
    """MoR read = scan of all deltas + ONE key-window (shuffle) for LWW;
    a compacted (single-dir) table reads with no window at all."""
    from kafka_plugins_spark.replay import replay

    table, _ = replay(spark, events_path, str(tmp_path / "t"), chunk_size=400, mode="mor")
    plan = plan_of(table._read_full())
    # one key shuffle; the row_number()<=1 rewrite gives a PARTIAL
    # WindowGroupLimit (map-side top-1 per key BEFORE the exchange, so
    # per-key duplicates collapse in each task) + Final after it
    assert plan.count("Exchange") == 1
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert "BatchEvalPython" not in plan
    table.compact()
    assert "Window" not in plan_of(table._read_full())


def test_round4_operators_plan_shapes(spark):
    """Round-4 operators stay on the scale path: no CartesianProduct, no
    row-wise Python (BatchEvalPython) anywhere; split assignment is a
    pure projection (zero exchanges); contamination/cluster joins are
    equi-joins."""
    from kafka_plugins_spark.operators.dedup import contamination_pairs
    from kafka_plugins_spark.operators.sampling import split_assign
    from kafka_plugins_spark.operators.text import bpe_pair_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    split = split_assign(docs.select("doc_id"))
    p = plan_of(split)
    assert "Exchange" not in p and "BatchEvalPython" not in p

    contam = contamination_pairs(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        threshold=0.5,
    )
    p = plan_of(contam)
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    p = plan_of(bpe_pair_counts(docs))
    assert "BatchEvalPython" not in p
    # pair counting is partial-aggregated before its one shuffle
    assert p.index("HashAggregate") < p.index("Exchange")


def test_round5_operators_plan_shapes(spark):
    """Round-5 operators stay on the scale path: pii_scrub is a pure
    projection (zero exchanges, no Python); bpe_encode's corpus pass is
    an equi-join + one aggregation with no row-wise Python and no
    cartesian blowup."""
    from kafka_plugins_spark.operators.pii import scrub_pii
    from kafka_plugins_spark.operators.text import bpe_encode

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    p = plan_of(scrub_pii(docs))
    assert "Exchange" not in p and "BatchEvalPython" not in p

    p = plan_of(bpe_encode(docs, [("t", "h"), ("th", "e"), ("the", "</w>")]))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    # the end-to-end cleanup pipeline: inject+scrub+hash fuse into
    # projections, the dedup policy is ONE window exchange, no Python
    from kafka_plugins_spark.entry_queries import q_corpus_clean

    p = plan_of(q_corpus_clean(docs.sparkSession, SF))
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p
    assert p.count("Window") <= 2  # rn + count share one window spec


def test_changelog_mor_increment_is_pruned(spark, events_path, tmp_path):
    """The incremental changelog read on an uncompacted MoR table must be
    the increment-shaped plan: both join sides semi-joined to the changed
    keys of the NEW delta dirs only (the changed-key scan lists no base
    dir), classification in one full-outer join, zero row-wise Python."""
    from kafka_plugins_spark.replay import replay

    table, res = replay(
        spark, events_path, str(tmp_path / "t"), chunk_size=300, mode="mor"
    )
    snaps = [r.snapshot_id for r in res if not r.skipped]
    df = table.changes_between(snaps[-2], snaps[-1])
    p = plan_of(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p, "MoR increment must key-prune via semi-join"
    # the changed-key scan reads ONLY the newest delta dir (a 1-path file
    # index; both resolved sides scan >= 2 dirs) and ONLY the key columns
    assert len(table.current_snapshot()["data_paths"]) >= 3
    assert "InMemoryFileIndex(1 paths)" in p
    assert "ReadSchema: struct<conv_id:string,turn_idx:int>" in p


def test_round5b_operators_plan_shapes(spark):
    """Late round-5 operators stay on the scale path: repetition scores
    are a pure projection (zero exchanges, zero Python); stratified
    sampling is ONE hash exchange on the stratum (rank + size windows
    share it); the incremental delta apply has no Python and no
    cartesian; the LM scorer's model joins broadcast (model ≤ 37³
    rows must never shuffle the corpus on the gram key)."""
    from kafka_plugins_spark.operators import lm
    from kafka_plugins_spark.operators.sampling import stratified_exact_sample
    from kafka_plugins_spark.operators.text import repetition_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    p = plan_of(repetition_scores(docs))
    assert "Exchange" not in p and "BatchEvalPython" not in p

    p = plan_of(stratified_exact_sample(docs, "source", 0.25, "doc_id"))
    assert "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1, (
        "rank and stratum-size windows must share one exchange"
    )

    gc, cc = lm.char_ngram_model(docs)
    p = plan_of(lm.lm_perplexity(docs, gc, cc))
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p, "model relations must broadcast"
    assert "SortMergeJoin" not in p


def test_round6_operators_plan_shapes(spark):
    """Round-6 operators stay on the scale path: cross-doc dup fraction
    is explode + two hash aggregates + one equi-join — no windows, no
    cartesian, no Python; the quantile-bucketed packing keeps its
    SinglePartition-free window (re-pinned after the density fix)."""
    from kafka_plugins_spark.operators.dedup import cross_doc_dup_fraction
    from kafka_plugins_spark.operators.pack import with_global_offsets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(cross_doc_dup_fraction(docs, k=5))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "Window" not in p

    toks = docs.select("doc_id", F.col("n_chars").alias("n_tok"))
    p = plan_of(with_global_offsets(toks, "n_tok", "doc_id", n_buckets=8))
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_minhash_shingles_computed_once(spark):
    """r7 optimization pin: the minhash pipeline materializes the shingle
    table and the signature table once (localCheckpoint), so the final
    plan reads ONLY the materialized intermediates — before the change it
    scanned + re-tokenized + re-shingled documents.parquet SIX times
    (signature path x2 through the banded self-join, verify arms x2,
    sizes x2; plans/r07/dedup_minhash_lsh_before.txt)."""
    from kafka_plugins_spark.entry_queries import q_dedup_minhash_lsh

    plan = plan_of(q_dedup_minhash_lsh(spark, SF))
    assert "Scan parquet" not in plan, "a consumer re-derived the shingle pipeline"
    assert "ExistingRDD" in plan  # every arm reads the materialized rows


def test_xdoc_gram_table_computed_once(spark):
    """Same pin for the cross-doc duplicated-passage operator: the gram
    table feeds both the per-gram doc count and the membership join; only
    the final doc_id projection may rescan the parquet."""
    from kafka_plugins_spark.entry_queries import q_xdoc_dup

    plan = plan_of(q_xdoc_dup(spark, SF))
    assert plan.count("Scan parquet") <= 1  # the doc_id left-join side only
