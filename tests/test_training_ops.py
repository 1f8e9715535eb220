"""Training-data operator behaviors beyond oracle parity: LSH recall,
plan shapes (broadcast, Arrow-only Python), multimodal plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_plugins_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash16,
    word_shingles,
)
from kafka_plugins_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    sample_frames,
    synthesize_media,
)
from kafka_plugins_spark.operators.similarity import ann_lsh_topk, brute_force_topk

SF = "/root/testdata/sf0.001"


def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_lsh_pairs_subset_of_exact(spark):
    """LSH can only miss pairs, never invent them (verified candidates)."""
    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs(spark), 0.2).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs(spark), 0.2).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5  # reasonable recall on this corpus


def test_minhash_signature_width(spark):
    sh = word_shingles(docs(spark))
    sigs = minhash_signatures(sh, num_hashes=8)
    assert sigs.columns == ["doc_id"] + [f"mh{i}" for i in range(8)]
    # banding emits ≤ bands keys per doc and candidates are symmetric-free
    cands = lsh_candidate_pairs(sigs).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in cands)


def test_identical_docs_are_lsh_certain(spark):
    """A doc duplicated verbatim must always be found by MinHash-LSH."""
    d = docs(spark).limit(5)
    dup = d.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(dup)
    pairs = minhash_lsh_pairs(both, threshold=0.99).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for r in d.collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in found


def test_simhash_deterministic_and_close_for_dups(spark):
    a = simhash16(docs(spark)).orderBy("doc_id").collect()
    b = simhash16(docs(spark)).orderBy("doc_id").collect()
    assert [r["simhash"] for r in a] == [r["simhash"] for r in b]
    assert all(0 <= r["simhash"] < (1 << 16) for r in a)


def test_topk_plan_broadcasts_queries(spark):
    plan = brute_force_topk(emb(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # query side must broadcast, not shuffle
    assert "BatchEvalPython" not in plan  # dot product is JVM-side


def test_ann_lsh_recall_vs_exact(spark):
    exact = brute_force_topk(emb(spark), n_queries=20, k=5).collect()
    approx = ann_lsh_topk(emb(spark), n_queries=20, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # multi-probe ANN finds a meaningful share of true neighbors
    assert len(approx_set & exact_set) / len(exact_set) > 0.3
    # and every ANN hit shares the query's bucket — sanity on determinism
    again = {(r["query_id"], r["neighbor_id"]) for r in ann_lsh_topk(emb(spark), 20, 5).collect()}
    assert approx_set == again


def test_multimodal_feature_extraction(spark):
    media = synthesize_media(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-3  # normalized histogram
        assert r["n_bytes"] > 0
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_multimodal_frame_sampling(spark):
    media = synthesize_media(spark, n=30)
    frames = sample_frames(media, every_ms=1000)
    pdf = frames.toPandas()
    assert (pdf["frame_ts_ms"] % 1000 == 0).all()
    per_video = pdf.groupby("media_id").size()
    meta = {r["media_id"]: r["duration_ms"] for r in media.filter("kind='video'").collect()}
    for mid, n in per_video.items():
        assert n == (meta[mid] + 999) // 1000


def test_feature_extraction_deterministic(spark):
    a = extract_features(synthesize_media(spark, n=10)).orderBy("media_id").toPandas()
    b = extract_features(synthesize_media(spark, n=10)).orderBy("media_id").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_hot_shingle_skew_capped(spark):
    """One 3-gram shared by EVERY doc must not blow up the candidate join:
    with the cap engaged, docs whose only overlap is the degenerate
    shingle never pair, while true near-dups (many shared shingles,
    each sub-cap) are still found with their exact full-set Jaccard."""
    boiler = "the quick brown"  # appears in all docs
    rows = [(i, f"{boiler} doc {i} unique words alpha{i} beta{i} gamma{i}") for i in range(40)]
    # two true near-dups: same tail, differ in one word
    rows += [(100, f"{boiler} shared tail one two three four five six seven"),
             (101, f"{boiler} shared tail one two three four five six eight")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(d, threshold=0.3, max_shingle_freq=10)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(100, 101)}
    # jaccard is computed over FULL shingle sets, not the capped ones
    row = pairs.collect()[0]
    sh = word_shingles(d.filter("doc_id >= 100"))
    import collections
    per_doc = collections.Counter(r["doc_id"] for r in sh.collect())
    common = (
        {tuple(r) for r in sh.filter("doc_id = 100").select("shingle").collect()}
        & {tuple(r) for r in sh.filter("doc_id = 101").select("shingle").collect()}
    )
    expected_j = round(len(common) / (per_doc[100] + per_doc[101] - len(common)), 4)
    assert row["n_common"] == len(common)
    assert abs(row["jaccard"] - expected_j) < 1e-9


def test_ann_ivf_recall_dial(spark):
    """IVF: nprobe widens recall monotonically; nprobe=n_cells ≡ exact."""
    from kafka_plugins_spark.operators.similarity import ann_ivf_topk

    e = emb(spark)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(e, n_queries=10, k=5).collect()}
    last = -1.0
    for nprobe in (1, 4, 8):
        ivf = {(r.query_id, r.neighbor_id)
               for r in ann_ivf_topk(e, n_queries=10, k=5, n_cells=8, nprobe=nprobe).collect()}
        recall = len(ivf & bf) / len(bf)
        assert recall >= last - 1e-9, f"recall must not shrink as nprobe grows ({nprobe})"
        last = recall
    assert recall == 1.0, "probing every cell must reproduce the exact top-k"


def test_neardup_dim_param_and_empty_input(spark):
    """dim passed explicitly ⇒ no plan-time probe job; empty input with
    no dim ⇒ empty result, not a TypeError from first()."""
    from pyspark.sql import types as T

    from kafka_plugins_spark.operators.similarity import embedding_neardup_pairs

    e = emb(spark)
    with_dim = embedding_neardup_pairs(e, threshold=0.45, dim=64)
    no_dim = embedding_neardup_pairs(e, threshold=0.45)
    assert {tuple(r) for r in with_dim.collect()} == {tuple(r) for r in no_dim.collect()}

    empty = spark.createDataFrame(
        [], T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ])
    )
    assert embedding_neardup_pairs(empty, threshold=0.45).count() == 0


def test_neardup_grid_envelope(spark):
    """Pin the measured operating envelope of the exact grid blocking:
    INSIDE the envelope (t=0.99, auto k=4) the candidate ratio is
    bounded; at loose thresholds no recall-1 blocking can prune 64-d
    data (documented — the loose-t scale path is the IVF variant)."""
    from kafka_plugins_spark.operators.similarity import neardup_grid_candidates

    e = emb(spark)
    n = e.count()
    all_pairs = n * (n - 1) / 2
    n_k4 = neardup_grid_candidates(e, threshold=0.99, dim=64, k=4).count()
    assert n_k4 / all_pairs <= 0.60, f"candidate ratio {n_k4 / all_pairs:.2f} exceeds envelope"
    # the dial is monotone: more projections ⇒ no more candidates
    n_k2 = neardup_grid_candidates(e, threshold=0.99, dim=64, k=2).count()
    assert n_k4 <= n_k2


def test_neardup_ivf_subset_and_recall_dial(spark):
    """IVF near-dup: verified candidates ⇒ subset of exact; recall grows
    with nprobe; nprobe=n_cells reproduces the exact pair set."""
    from kafka_plugins_spark.operators.similarity import (
        embedding_neardup_pairs_exact,
        embedding_neardup_pairs_ivf,
    )

    e = emb(spark)
    exact = {(r.id_a, r.id_b) for r in embedding_neardup_pairs_exact(e, 0.45).collect()}
    assert exact
    last = -1.0
    for nprobe in (1, 4, 8):
        got = {
            (r.id_a, r.id_b)
            for r in embedding_neardup_pairs_ivf(e, 0.45, dim=64, n_cells=8, nprobe=nprobe).collect()
        }
        assert got <= exact
        recall = len(got & exact) / len(exact)
        assert recall >= last - 1e-9
        last = recall
    assert recall == 1.0, "probing every cell must reproduce the exact pair set"


def test_neardup_candidate_observation(spark):
    """candidate_obs rides the job (no second count) and reports the
    blocking's admitted candidate count."""
    from pyspark.sql import Observation

    from kafka_plugins_spark.operators.similarity import embedding_neardup_pairs

    obs = Observation()
    df = embedding_neardup_pairs(emb(spark), threshold=0.99, dim=64, candidate_obs=obs)
    df.count()
    n = emb(spark).count()
    ratio = obs.get["n_candidates"] / (n * (n - 1) / 2)
    assert 0 < ratio <= 0.60


def test_trained_ivf_beats_untrained_on_clustered_corpus(spark):
    """k-means training adapts the coarse quantizer to the data: on a
    synthetic corpus of well-separated clusters, trained-codebook IVF
    recall at nprobe=1 must be at least the untrained (pseudo-random
    codebook) recall, and high in absolute terms — the untrained
    codebook slices clusters arbitrarily (VERDICT r3 item 2)."""
    import numpy as np

    from kafka_plugins_spark.operators.similarity import (
        ann_ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    dim, n_clusters, per = 16, 6, 60
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + 0.12 * rng.normal(size=(per, dim))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    bf = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(e, n_queries=12, k=5).collect()}

    def recall(centroids):
        got = {(r.query_id, r.neighbor_id)
               for r in ann_ivf_topk(e, n_queries=12, k=5, dim=dim,
                                     n_cells=n_clusters, nprobe=1,
                                     centroids=centroids).collect()}
        return len(got & bf) / len(bf)

    trained = train_ivf_centroids(e, n_cells=n_clusters, dim=dim, n_iters=4)
    r_untrained = recall(None)
    r_trained = recall(trained)
    assert r_trained >= r_untrained, (r_trained, r_untrained)
    assert r_trained >= 0.9, f"trained codebook should align with clusters: {r_trained}"


def _expr_ranking(vec_col, centroids):
    """Reference cell ranking as a Spark expression: the structs
    (unrolled literal dot, -cell) sorted by ``array_sort`` and reversed,
    i.e. Spark's own NULL/NaN/±inf ordering, ties to the smaller cell."""
    from kafka_plugins_spark.operators.similarity import _dot_lit

    scored = F.array(*[
        F.struct(_dot_lit(vec_col, c).alias("d"), F.lit(-cid).alias("nc"))
        for cid, c in enumerate(centroids)
    ])
    return F.transform(F.reverse(F.array_sort(scored)), lambda s: -s["nc"])


def _arrow_ranking(df, centroids):
    from kafka_plugins_spark.operators.similarity import _rank_cells

    ranked = _rank_cells(df.select("vec_id", "embedding"), "embedding", centroids, len(centroids))
    rows = ranked.select("vec_id", "_home", "_probes").collect()
    assert all(r["_home"] == r["_probes"][0] for r in rows)
    return {r["vec_id"]: list(r["_probes"]) for r in rows}


def _codebooks():
    from kafka_plugins_spark.operators.similarity import ivf_centroids

    md5 = ivf_centroids(8, 64)
    # cells 2/4 duplicate cells 0/1: every vector ties on those pairs
    return {"md5": md5, "dup": [md5[0], md5[1], md5[0], md5[3], md5[1], *md5[5:]]}


def _special_vectors(spark):
    """Non-finite and degenerate rows (ids ≥ 100001) around one finite
    near-duplicate pair (100009, 100010)."""
    nan, inf = float("nan"), float("inf")
    base = [0.1 * ((i * 7) % 13 - 6) for i in range(64)]

    def put(i, v):
        return base[:i] + [v] + base[i + 1:]

    rows = [
        (100001, put(3, None)), (100002, put(5, nan)), (100003, put(0, inf)),
        (100004, put(9, -inf)), (100005, None), (100006, [0.0] * 64),
        (100007, put(0, inf)[:1] + [-inf] + base[2:]), (100008, [inf] * 32 + [-inf] * 32),
        (100009, base), (100010, [x * 1.0001 for x in base]), (None, base),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ivf_ranker_matches_oracle_ranked_order(spark, sf):
    """The Arrow ranker orders every vector's cells exactly as the DuckDB
    oracles' ``ranked`` CTE (dot DESC, cell ASC): for the trained codebook
    (the emb_neardup_ivf oracle, which re-derives it in SQL, cut at
    ``ranked``), the md5 codebook and one with duplicated centroids."""
    import duckdb

    from kafka_plugins_spark import entry_queries as eq

    path = f"/root/testdata/{sf}"
    e = spark.read.parquet(f"{path}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet'")
    oracle = eq._emb_neardup_ivf_oracle_sql()
    head = oracle[: oracle.index("home AS (")].rstrip().rstrip(",")
    ranked_ctes = head[head.index("cscore AS ("):]
    select = " SELECT vec_id, list(cid ORDER BY rn) AS r FROM ranked GROUP BY vec_id"

    def duck(sql):
        return {int(v): list(r) for v, r in con.execute(sql + select).fetchall()}

    assert _arrow_ranking(e, eq._trained_codebook(spark, path)) == duck(head)
    for cents in _codebooks().values():
        values = ", ".join(
            f"({cid}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])" for cid, c in enumerate(cents)
        )
        want = duck(f"WITH cents(cid, v) AS (VALUES {values}), {ranked_ctes}")
        assert _arrow_ranking(e, cents) == want


def test_ivf_ranker_non_finite_rows_match_spark_ordering(spark):
    """NULL/NaN/±inf elements, a NULL vector and a zero vector rank as
    Spark's own expression ranks them (NaN above every number, an all-NULL
    or all-NaN dot row in cell order); a vector of the wrong length and a
    non-finite centroid fail loudly."""
    from pyspark.errors import PythonException

    from kafka_plugins_spark.operators.similarity import _rank_cells

    sp = _special_vectors(spark)
    for cents in _codebooks().values():
        rows = sp.select("vec_id", _expr_ranking("embedding", cents).alias("rk")).collect()
        want = {r.vec_id: list(r.rk) for r in rows}
        assert _arrow_ranking(sp, cents) == want
    assert want[100001] == want[100002] == want[100005] == list(range(8))

    short = spark.createDataFrame([(1, [0.5] * 63)], "vec_id long, embedding array<float>")
    with pytest.raises(PythonException, match="exactly 64 elements"):
        _arrow_ranking(short, _codebooks()["md5"])
    bad = [list(c) for c in _codebooks()["md5"]]
    bad[3][7] = float("nan")
    with pytest.raises(ValueError, match="non-finite"):
        _rank_cells(sp, "embedding", bad, 4)


def test_neardup_ivf_paths_match_oracle_exactly(spark):
    """At sf0.01 the hot path, the candidate-observing path and the DuckDB
    oracle return the same (id_a, id_b, score) rows, scores compared
    exactly, and the observed candidate count equals the oracle's. With
    non-finite rows added, both paths still agree, no such row is in a
    pair, and the count equals the candidate pairs of Spark's own
    expression ranking."""
    import duckdb
    import numpy as np
    from pyspark.sql import Observation

    from kafka_plugins_spark import entry_queries as eq
    from kafka_plugins_spark.operators.similarity import embedding_neardup_pairs_ivf

    path = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{path}/embeddings.parquet").select("vec_id", "embedding")
    cents = eq._trained_codebook(spark, path)
    params = eq.EMB_NEARDUP_IVF_PARAMS

    def both(df):
        obs = Observation()
        hot = embedding_neardup_pairs_ivf(df, centroids=cents, **params).collect()
        seen = embedding_neardup_pairs_ivf(
            df, centroids=cents, candidate_obs=obs, **params
        ).collect()
        assert sorted(map(tuple, hot)) == sorted(map(tuple, seen))
        return {tuple(r) for r in hot}, obs.get["n_candidates"]

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet'")
    oracle = eq._emb_neardup_ivf_oracle_sql()
    got, n_cands = both(e)
    assert got == {tuple(r) for r in con.execute(oracle).fetchall()} and got
    head = oracle[: oracle.rindex("SELECT id_a, id_b, score FROM (")]
    assert n_cands == con.execute(head + "SELECT count(*) FROM cand").fetchone()[0]

    mixed = e.unionByName(_special_vectors(spark))
    got_mixed, n_mixed = both(mixed)
    assert {r for r in got_mixed if max(r[:2]) > 100000} == {(100009, 100010, 1.0)}
    assert {r for r in got_mixed if max(r[:2]) <= 100000} == got
    rk = mixed.filter("vec_id IS NOT NULL").select(
        "vec_id", _expr_ranking("embedding", cents).alias("rk")
    ).collect()
    home = np.array([r.rk[0] for r in rk])
    probes = np.array([r.rk[: params["nprobe"]] for r in rk])
    admits = (probes[:, :, None] == home[None, None, :]).any(axis=1)  # [a, b]: a probes home(b)
    assert n_mixed == int(np.triu(admits | admits.T, k=1).sum())


def test_dedup_clusters_chains_and_singletons(spark):
    """Min-label propagation must converge across multi-hop chains (the
    min reaches the far end only after diameter rounds), label merged
    components by their global min, and leave singletons alone."""
    from kafka_plugins_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id: long")
    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), triangle 7-8-9 plus bridge 9-10
        [(4, 5), (3, 4), (2, 3), (1, 2), (7, 8), (8, 9), (7, 9), (9, 10)],
        "doc_a: long, doc_b: long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6,
                   7: 7, 8: 7, 9: 7, 10: 7, 11: 11}

    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_iters=1)


def test_dedup_clusters_long_path_graph_pointer_doubling(spark):
    """Adversarial chain graph (VERDICT r4 item 5): a 1000-node path has
    diameter 999, so plain min-label propagation would need ~999 rounds.
    Pointer doubling must label it in O(log n) rounds — max_iters=15
    (≫ log₂ 1000 ≈ 10, ≪ 999) both proves the shortcutting works and
    would fail loudly if it regressed to linear propagation."""
    from kafka_plugins_spark.operators.dedup import dedup_clusters

    n = 1000
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = (
        spark.range(n - 1)
        .selectExpr("id as doc_a", "id + 1 as doc_b")
    )
    out = dedup_clusters(docs, pairs, max_iters=15)
    from pyspark.sql import functions as F

    agg = out.agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.max("cluster_id").alias("max_label"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg["n"] == n
    assert agg["n_clusters"] == 1 and agg["max_label"] == 0


def test_contamination_containment_asymmetry(spark):
    """A long train doc that fully embeds a short eval doc must be
    flagged (containment ≈ 1) even though its Jaccard is low — the case
    the asymmetric metric exists for; unrelated docs must not pair."""
    from kafka_plugins_spark.operators.dedup import contamination_pairs

    eval_text = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"tok{i} filler{i*7%13} pad{i*3%11}" for i in range(40))
    train = spark.createDataFrame(
        [(100, filler + " " + eval_text + " " + filler),
         (101, "completely unrelated content about databases and joins here")],
        "doc_id: long, text: string",
    )
    evalset = spark.createDataFrame([(1, eval_text)], "doc_id: long, text: string")
    got = contamination_pairs(train, evalset, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["train_doc_id"], r["eval_doc_id"]) == (100, 1)
    assert r["containment"] == 1.0


def _bpe_reference(word_freq: dict, n_merges: int):
    """Pure-Python Sennrich-style BPE reference for the golden test."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freq.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0][0]]))
        # deterministic tie-break: max count, then lexicographic smallest
        top_n = max(counts.values())
        cands = sorted(k for k, v in counts.items() if v == top_n)
        best = cands[0]
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    """The Spark-first BPE trainer (JVM fold merges, pair-count argmax
    per round) must learn the exact merge list of the textbook
    pure-Python implementation on the same corpus."""
    from collections import Counter

    from kafka_plugins_spark.operators.text import bpe_train, tokens as tok

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "low lower lowest in the lowlands",
        "new newer newest news",
        "the the the lowly cat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    wf = Counter(w for t in texts for w in t.lower().split())
    want = _bpe_reference(dict(wf), 12)
    got = bpe_train(docs, n_merges=12)
    assert got == want, (got, want)


def _bpe_reference_encode(word: str, merges) -> list:
    """Apply a merge list to one word, greedy left-to-right per merge —
    the Sennrich apply step, pure Python."""
    syms = list(word) + ["</w>"]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_reference(spark):
    """Corpus tokenization under the trained vocab: per-doc token
    SEQUENCES from bpe_encode must equal the pure-Python reference
    applying the same merges word by word in document order."""
    from kafka_plugins_spark.operators.text import bpe_encode, bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "low lower lowest in the lowlands",
        "new newer newest news",
        "the the the lowly cat",
        "",  # zero-word doc → no output row
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    merges = bpe_train(docs, n_merges=12)
    assert len(merges) > 5  # the corpus supports a real merge list
    got = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    for i, t in enumerate(texts[:5]):
        want_tokens = [
            tok for w in t.lower().split() for tok in _bpe_reference_encode(w, merges)
        ]
        assert got[i]["tokens"] == want_tokens, (i, got[i]["tokens"], want_tokens)
        assert got[i]["n_tokens"] == len(want_tokens)
        assert got[i]["n_words"] == len(t.split())


def test_bpe_pair_counts_first_round(spark):
    """First-round pair counts equal the reference's, including the
    frequency weighting and </w> markers."""
    from collections import Counter

    from kafka_plugins_spark.operators.text import bpe_pair_counts

    texts = ["aa ab", "aa aa b"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {(r["lhs"], r["rhs"]): r["n"] for r in bpe_pair_counts(docs).collect()}
    # words: aa×3, ab×1, b×1 → (a,a):3 (a,</w>):3 (a,b):1 (b,</w>):2
    assert got == {("a", "a"): 3, ("a", "</w>"): 3, ("a", "b"): 1,
                   ("b", "</w>"): 2}


def test_split_stability_and_sampling(spark):
    """Splits are a partition of the ids, stable under repartitioning,
    roughly proportioned, and disjoint from a different-salt sample's
    correlation; bad percents raise."""
    import pytest

    from kafka_plugins_spark.operators.sampling import (
        deterministic_sample,
        split_assign,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(docs.repartition(13)).collect()}
    assert a == b  # partitioning-independent
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] - 1800) < 100 and abs(c["val"] - 100) < 50
    s1 = {r["doc_id"] for r in deterministic_sample(docs, 10, salt="s1").collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(docs, 10, salt="s1").collect()}
    assert s1 == s2 and abs(len(s1) - 200) < 60
    with pytest.raises(ValueError):
        split_assign(docs, train=70, val=40)
    with pytest.raises(ValueError):
        deterministic_sample(docs, 101)


def test_scrub_pii_classes_and_redaction(spark):
    """Each PII class is counted on the original text and redacted in
    list order; clean text carries the placeholder tokens; PII-free text
    passes through untouched with zero counts."""
    from kafka_plugins_spark.operators.pii import scrub_pii

    docs = spark.createDataFrame(
        [
            (0, "mail a.user+x@corp.example.org and b@x.io please"),
            (1, "ssn 123-45-6789 phone (555) 123-4567 or 555-123-4567"),
            (2, "host 192.168.001.1 token sk_abcdefghij0123456789 "
                "hash 0123456789abcdef0123456789abcdef"),
            (3, "nothing sensitive here at all"),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[0]["n_email"] == 2
    assert out[0]["clean_text"] == "mail <EMAIL> and <EMAIL> please"
    assert out[1]["n_ssn"] == 1 and out[1]["n_phone"] == 2
    assert out[1]["clean_text"] == "ssn <SSN> phone <PHONE> or <PHONE>"
    assert out[2]["n_ipv4"] == 1 and out[2]["n_secret"] == 2
    assert out[2]["clean_text"] == "host <IP> token <KEY> hash <KEY>"
    assert out[3]["clean_text"] == "nothing sensitive here at all"
    assert all(out[3][f"n_{c}"] == 0 for c in ("email", "ssn", "phone", "ipv4", "secret"))


def test_bpe_encode_ids_frequency_ranked_and_consistent(spark):
    """Token ids are dense frequency ranks (count desc, token asc), and
    per-doc id sequences decode back to the token sequences."""
    from kafka_plugins_spark.operators.text import (
        bpe_encode,
        bpe_encode_ids,
        bpe_token_id_table,
        bpe_train,
    )

    texts = ["the cat sat on the mat", "the cats sat", "low lower lowest the"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    merges = bpe_train(docs, n_merges=8)
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(docs, merges).collect()}
    tbl = bpe_token_id_table(bpe_encode(docs, merges)).collect()
    by_tok = {r["token"]: r for r in tbl}
    # dense ids 0..V-1, ordered by (count desc, token asc)
    ordering = sorted(tbl, key=lambda r: (-r["n_occurrences"], r["token"]))
    assert [r["token_id"] for r in ordering] == list(range(len(tbl)))
    # id sequences decode to the token sequences
    got = {r["doc_id"]: r["token_ids"] for r in bpe_encode_ids(docs, merges).collect()}
    for d, toks in enc.items():
        assert got[d] == [by_tok[t]["token_id"] for t in toks]
        assert len(got[d]) == len(toks)


def test_scrub_pii_idempotent(spark):
    """Scrubbing is a fixpoint: placeholders match no PII class, so a
    second pass finds zero matches and changes nothing — the property
    that makes re-running the stage on partially-clean data safe."""
    from kafka_plugins_spark.entry_queries import _pii_inject_expr
    from kafka_plugins_spark.operators.pii import scrub_pii

    d = docs(spark).select("doc_id", _pii_inject_expr().alias("text"))
    once = scrub_pii(d)
    twice = scrub_pii(once.select("doc_id", F.col("clean_text").alias("text")))
    agg = twice.agg(
        *[F.sum(f"n_{c}").alias(c) for c in ("email", "ssn", "phone", "ipv4", "secret")]
    ).collect()[0]
    assert all(agg[c] == 0 for c in ("email", "ssn", "phone", "ipv4", "secret"))
    a = once.select("doc_id", F.col("clean_text").alias("t"))
    b = twice.select("doc_id", F.col("clean_text").alias("t"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_repetition_scores_edges(spark):
    from kafka_plugins_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),          # 5 bigrams, 2 distinct -> 0.6 dup
            (1, "all words differ here"),  # no dup
            (2, "one"),                   # no bigram -> NULL
            (3, ""),                      # empty -> NULLs, 0 words
            (4, "x x x x"),               # 3 bigrams 1 distinct; 2 trigrams 1 distinct
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.repetition_scores(docs).collect()}
    assert got[0]["dup_2gram_frac"] == 0.6
    assert got[1]["dup_2gram_frac"] == 0.0
    assert got[2]["dup_2gram_frac"] is None and got[2]["n_words"] == 1
    assert got[3]["n_words"] == 0 and got[3]["dup_3gram_frac"] is None
    assert got[4]["dup_2gram_frac"] == round(1 - 1 / 3, 4)
    assert got[4]["dup_3gram_frac"] == 0.5


def test_stratified_exact_sample_counts_and_determinism(spark):
    import math

    from kafka_plugins_spark.operators.sampling import stratified_exact_sample

    rows = [(i, "g%d" % (i % 3)) for i in range(100)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "id long, grp string")
    s1 = stratified_exact_sample(df, "grp", 0.3, "id")
    got = {r["grp"]: 0 for r in s1.collect()}
    for r in s1.collect():
        got[r["grp"]] = got.get(r["grp"], 0) + 1
    sizes = {"g0": 34, "g1": 33, "g2": 33, "tiny": 1}
    assert got == {g: math.ceil(0.3 * n) for g, n in sizes.items()}
    # deterministic: same rows every run; new salt redraws
    ids1 = sorted(r["id"] for r in s1.collect())
    ids2 = sorted(r["id"] for r in stratified_exact_sample(df, "grp", 0.3, "id").collect())
    assert ids1 == ids2
    ids3 = sorted(
        r["id"] for r in stratified_exact_sample(df, "grp", 0.3, "id", salt="v2").collect()
    )
    assert ids1 != ids3 and len(ids3) == len(ids1)
    import pytest

    with pytest.raises(ValueError, match="frac"):
        stratified_exact_sample(df, "grp", 0.0, "id")


def test_cross_doc_dup_fraction_golden(spark):
    """Hand-built corpus: a 5-gram shared verbatim between docs 1 and 2
    counts toward BOTH; intra-doc repetition alone does NOT (it is the
    other operator's job); short docs report 0 grams / NULL fraction."""
    from kafka_plugins_spark.operators.dedup import cross_doc_dup_fraction

    shared = "alpha beta gamma delta epsilon"         # the shared passage
    docs = spark.createDataFrame(
        [
            (1, shared + " one two three"),           # grams 1-4 of 8... see below
            (2, "zero " + shared),                    # shares the passage
            (3, "solo solo solo solo solo solo"),     # intra-doc repeats only
            (4, "too short"),                         # < 5 words → no grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["xdoc_dup_frac"])
        for r in cross_doc_dup_fraction(docs, k=5).collect()
    }
    # doc1: 8 words → 4 grams, ONLY gram[0] ("alpha..epsilon") is shared
    assert got[1] == (4, 0.25)
    # doc2: 6 words → 2 grams, gram[1] is the shared passage
    assert got[2] == (2, 0.5)
    # doc3: 6 words → 2 grams ("solo"x5 twice) — identical to each other
    # but present in no OTHER doc → 0.0 (intra-doc dup must not count)
    assert got[3] == (2, 0.0)
    assert got[4] == (0, None)
