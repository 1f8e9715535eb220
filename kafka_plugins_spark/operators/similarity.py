"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: broadcast the (small) query set against the
  candidate table; dot products are ``zip_with`` + ``aggregate`` fold —
  pure JVM, codegen'd, no Python. This is the exactness baseline.
- LSH-bucketed ANN: deterministic sign-random-projection buckets; the
  query only joins its own bucket — the 100 TB path (bucket join is an
  equi-join, prunes ~(1 - 1/2^planes) of candidates per probe).
- kNN label vote: majority label of the top-k (classification via search).

Hyperplanes are derived from md5 in plain Python, so they are identical
across runs/engines without shipping state.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _sq_norm(v: Column) -> Column:
    return F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic FP order, so the
    DuckDB oracle (list_sum over list_transform) reproduces it exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(_sq_norm(a)) * F.sqrt(_sq_norm(b)))


def dot_fixed(a: str, b: str, dim: int) -> Column:
    """:func:`dot` for a KNOWN dimensionality over two NAMED array
    columns, unrolled into a flat GetArrayItem/Multiply/Add chain.

    Bit-identical to :func:`dot`: the addition sequence is the same left
    fold ``((0.0 + a0·b0) + a1·b1) + …`` and each product the same
    ``cast(ai as double) * cast(bi as double)`` — but the unrolled tree
    contains no higher-order function, so it whole-stage-codegens instead
    of falling back to interpreted per-row eval (``zip_with``/
    ``aggregate`` are CodegenFallback expressions; on the IVF near-dup
    verify the interpreted fold dominated the whole operator at sf1
    scale). Built as ONE parsed SQL expression — constructing the ~450
    operator nodes through py4j calls costs seconds per plan, the parse
    costs microseconds; the resulting tree is identical. Requires
    ``len(a) == len(b) == dim`` — a shorter array yields NULL here where
    the fold would yield a partial sum. NOTE: the generated method of a
    stage containing this chain exceeds HotSpot's 8000-bytecode JIT cap;
    sessions must run with ``-XX:-DontCompileHugeMethods`` (set in
    session.get_spark) or the stage executes in the bytecode interpreter.
    """
    terms = " + ".join(
        f"CAST(`{a}`[{i}] AS DOUBLE) * CAST(`{b}`[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(f"0.0D + {terms}")


def _dot_lit(a: str, vals: list[float]) -> Column:
    """``dot(named column, literal vector)`` unrolled like
    :func:`dot_fixed` (same fold order; the literal side is already
    double, as after Catalyst's constant folding of the old zip_with
    form). Double literals are emitted with ``repr`` (shortest
    round-tripping form) and parsed by Java's Double.parseDouble — an
    exact round trip."""
    import math

    if not all(math.isfinite(float(v)) for v in vals):
        # repr() of nan/inf ("nan"/"inf") is not parseable SQL — fail with
        # a diagnosis instead of a ParseException deep in plan building
        # (a non-finite centroid means the embeddings feeding the trainer
        # were already poisoned)
        raise ValueError("_dot_lit: literal vector contains non-finite values")
    terms = " + ".join(
        f"CAST(`{a}`[{i}] AS DOUBLE) * {float(v)!r}D" for i, v in enumerate(vals)
    )
    return F.expr(f"0.0D + {terms}")


def _sq_norm_fixed(v: str, dim: int) -> Column:
    """Unrolled ``Σ vᵢ²`` over a NAMED array column — bit-identical to
    :func:`_sq_norm` (same left fold, same per-element cast·cast square)."""
    terms = " + ".join(
        f"CAST(`{v}`[{i}] AS DOUBLE) * CAST(`{v}`[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(f"0.0D + {terms}")


def _norm_col(vec_col: str, dim: int | None = None) -> Column:
    """‖v‖ as a column — computed ONCE per row before a candidate join,
    so scoring inside the join is dot/(na·nb) instead of re-folding both
    norms per PAIR (measured 1.55× on the IVF near-dup at sf0.1; values
    are bit-identical — same fold, same division). With ``dim`` the fold
    is unrolled (codegen, see :func:`dot_fixed`); values unchanged."""
    if dim is not None:
        return F.sqrt(_sq_norm_fixed(vec_col, dim))
    return F.sqrt(_sq_norm(F.col(vec_col)))


def brute_force_topk(
    emb: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of every candidate for query ids < n_queries.

    Plan shape: broadcast-nested-loop of |Q| queries × all candidates —
    the candidate scan parallelizes perfectly; per-query top-k is a
    window over ≤|candidates| rows. At cluster scale replace the window
    with a per-partition partial top-k + final top-k if |Q| is large.
    Pass ``dim`` when known: the per-pair dot unrolls into codegen
    (bit-identical values, see :func:`dot_fixed`).
    """
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), _norm_col(vec_col, dim).alias("_qn")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), _norm_col(vec_col, dim).alias("_cn")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from md5."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}_{d}".encode()).hexdigest()[:4]
        out.append(int(h, 16) / 32768.0 - 1.0)
    return out


def lsh_bucket_expr(vec_col: str, dim: int, planes: int = 8) -> Column:
    """Sign-random-projection bucket id in [0, 2^planes)."""
    bucket = F.lit(0)
    for p in range(planes):
        bit = F.when(_dot_lit(vec_col, _hyperplane(p, dim)) > 0, F.lit(1 << p)).otherwise(0)
        bucket = bucket + bit
    return bucket.cast("int")


def ann_lsh_topk(
    emb: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    dim: int = 64,
    planes: int = 4,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: search the query's LSH bucket (+ multi-probe).

    Multi-probe flips each sign bit once, so a query scans ``planes + 1``
    of the ``2^planes`` buckets — the standard recall/latency dial.
    Recall < 1 by construction; at scale the bucket column is a
    partition/cluster key so each probe touches one bucket's files only.
    """
    bucketed = emb.withColumn("_bucket", lsh_bucket_expr(vec_col, dim, planes))
    q = bucketed.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm_col(vec_col, dim).alias("_qn"),
        "_bucket",
    )
    if multiprobe:
        probes = F.array(
            F.col("_bucket"), *[F.col("_bucket").bitwiseXOR(1 << p) for p in range(planes)]
        )
        q = q.withColumn("_bucket", F.explode(probes))
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm_col(vec_col, dim).alias("_cn"),
        "_bucket",
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivf_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic unit-norm coarse-quantizer centroids from md5.

    Production IVF trains k-means offline and broadcasts the codebook;
    here the codebook is a fixed pseudo-random one so both engines (and
    the DuckDB oracle) share it without shipping state. The *structure*
    — assign to argmax-cosine centroid, probe nprobe cells — is the
    real IVF search plan."""
    out = []
    for c in range(n_cells):
        v = _hyperplane(2000 + c, dim)
        n = sum(x * x for x in v) ** 0.5
        out.append([x / n for x in v])
    return out


IVF_SCALE = 1 << 20  # fixed-point quantum for order-independent k-means sums


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    dim: int = 64,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Spark-native spherical k-means for the IVF coarse quantizer:
    ``n_iters`` rounds of assign-to-argmax-cosine-cell (one codegen'd
    projection) + per-cell per-dimension mean (one partial-aggregated
    groupBy collecting ``n_cells`` rows to the driver). Pure DataFrame
    ops — no MLlib, no Python row UDFs.

    Bit-reproducibility is part of the contract: per-dimension sums are
    taken over fixed-point longs (``round(x * 2^20)``), so the result is
    independent of partitioning and row order, and the DuckDB oracle
    (:func:`entry_queries._ivf_train_ctes`) re-derives the IDENTICAL
    centroids from the same parquet — which is what lets the trained-IVF
    driver queries stay hash-green. Multiplication by 2^20 is exact
    (exponent shift), both engines round half-away-from-zero, and sums
    stay far under 2^53 (exact BIGINT→DOUBLE). Empty cells keep their
    previous centroid, ties in assignment go to the smaller cell id.

    At 100 TB: train on a deterministic sample (filter on ``id_col``)
    and cache the input — each iteration is one scan + one O(n_cells)
    shuffle (map-side combine does the heavy lifting).
    """
    import math

    cents = ivf_centroids(n_cells, dim)  # deterministic unit-norm init
    scaled = [
        F.sum(
            F.round(F.col(vec_col)[i].cast("double") * F.lit(float(IVF_SCALE))).cast("long")
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    for _ in range(n_iters):
        assigned = _rank_cells(emb.select(vec_col), vec_col, cents, 1)
        rows = assigned.groupBy("_home").agg(F.count("*").alias("_n"), *scaled).collect()
        new = [list(c) for c in cents]
        for r in rows:
            v = [(r[f"s{i}"] / r["_n"]) / IVF_SCALE for i in range(dim)]
            nrm = math.sqrt(sum(x * x for x in v))
            if nrm > 0:
                new[r["_home"]] = [x / nrm for x in v]
        cents = new
    return cents


def _matrix(vectors: pa.Array, dim: int) -> np.ndarray:
    """A list column as an (n, dim) float64 matrix. A NULL vector or
    element reads as NaN (Spark makes each dot it enters NULL): either
    way the vector ties on every cell and passes no score threshold.
    Any other vector must have exactly ``dim`` elements (``ValueError``)."""
    if pc.any(pc.not_equal(pc.list_value_length(vectors), dim)).as_py():
        raise ValueError(f"every embedding vector must have exactly {dim} elements")
    out = np.full((len(vectors), dim), np.nan)
    out[np.asarray(vectors.is_valid())] = np.asarray(vectors.flatten(), np.float64).reshape(-1, dim)
    return out


def _fold_dot(a: np.ndarray, b: np.ndarray, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """``a[:, ia[k]] · b[:, ib[k]]`` for every k over dimension-major
    matrices, as the left fold ``((0.0 + x0·y0) + x1·y1) + …``: the same
    rounded multiply-then-add sequence (no FMA) as :func:`dot` and
    :func:`dot_fixed`, so every value is bit-identical to Spark's."""
    acc = np.zeros(len(ia))
    for x, y in zip(a, b):
        acc += x[ia] * y[ib]
    return acc


def _rank_cells(
    df: DataFrame, vec_col: str, centroids: list[list[float]], nprobe: int
) -> DataFrame:
    """``df`` plus ``_home`` (int) and ``_probes`` (array<int>: the
    ``nprobe`` best cells, best first), ranked per Arrow batch
    (``mapInArrow``) by the :func:`_fold_dot` centroid dot, descending,
    ties to the smaller cell id — the oracles' ``ranked`` CTE order. A
    NaN dot ranks above every number, as Spark and DuckDB sort it.
    Centroids must be finite (``ValueError``); vectors see :func:`_matrix`."""
    cents = np.asarray(centroids, dtype=np.float64)
    if not np.isfinite(cents).all():
        # a non-finite centroid means the embeddings feeding the trainer
        # were already poisoned
        raise ValueError("_rank_cells: centroids contain non-finite values")
    n_cells, dim = cents.shape
    k = min(nprobe, n_cells)
    schema = T.StructType([
        *df.schema.fields,
        T.StructField("_home", T.IntegerType()),
        T.StructField("_probes", T.ArrayType(T.IntegerType())),
    ])

    def rank(batches):
        for batch in batches:
            n = batch.num_rows
            d = _fold_dot(
                _matrix(batch.column(vec_col), dim).T, cents.T,
                np.repeat(np.arange(n), n_cells), np.tile(np.arange(n_cells), n),
            ).reshape(n, n_cells)
            # stable, and the LAST key is the primary one
            order = np.lexsort((-d, ~np.isnan(d))).astype(np.int32)
            probes = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * k), pa.array(order[:, :k].ravel())
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(order[:, 0]), probes],
                names=[*batch.schema.names, "_home", "_probes"],
            )

    return df.mapInArrow(rank, schema)


def ann_ivf_topk(
    emb: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    dim: int = 64,
    n_cells: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize every vector to its
    argmax-cosine centroid cell, search only the query's ``nprobe``
    nearest cells. The candidate join is an equi-join on ``_cell``;
    at scale the cell is a partition/cluster key so each probe touches
    one cell's files (same pruning story as the LSH variant, but the
    cells adapt to the data distribution once the codebook is trained —
    pass ``centroids`` from :func:`train_ivf_centroids`). Recall < 1 by
    construction — the nprobe dial trades recall for touched cells."""
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim)
    ranked = _rank_cells(emb.select(id_col, vec_col), vec_col, cents, nprobe)
    q = ranked.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm_col(vec_col, dim).alias("_qn"),
        F.explode("_probes").alias("_cell"),
    )
    c = ranked.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm_col(vec_col, dim).alias("_cn"),
        F.col("_home").alias("_cell"),
    )
    scored = (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def embedding_neardup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold — all-pairs cross join.

    O(n²) test oracle ONLY. The production entry point is
    :func:`embedding_neardup_pairs` (grid-blocked equi-join, identical
    result set, no CartesianProduct in the plan)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(cosine(F.col("_va"), F.col("_vb")), 4))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def _grid_cells(vec_col: str, dim: int, threshold: float, k: int) -> list[Column]:
    """Deterministic-projection grid cell indices with PROVABLE recall.

    For unit vectors, cos(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ d = √(2(1−t)). For any
    projection u: |u·â − u·b̂| ≤ ‖u‖·d (Cauchy–Schwarz) — so with cell
    width w = ‖u‖·d, a qualifying pair's cell indices differ by at most
    1 in every projection. Probing the 3^k neighbor cells therefore
    finds EVERY pair with cosine ≥ t: unlike sign-LSH this blocking is
    exact, not probabilistic (sign-LSH at t≈0.45 ⇒ 63° ⇒ per-bit
    disagreement 0.35 — hopeless for recall 1). Width carries a 2%
    margin so the rounded-score boundary (round(cos,4) ≥ t admits
    cos = t−5e-5) and projection FP error can't break the bound.
    """
    d = (2.0 * (1.0 - (threshold - 1e-3))) ** 0.5
    nrm = F.sqrt(_sq_norm_fixed(vec_col, dim))
    cells = []
    for j in range(k):
        u = _hyperplane(1000 + j, dim)
        u_norm = sum(x * x for x in u) ** 0.5
        w = 1.02 * u_norm * d
        proj = _dot_lit(vec_col, u) / nrm  # projection of the UNIT vector
        cells.append(F.floor(proj / F.lit(w)).cast("long").alias(f"_cell{j}"))
    return cells


def neardup_grid_candidates(
    emb: DataFrame,
    threshold: float,
    dim: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Grid-blocked candidate pairs (id_a < id_b) — every pair with
    cosine ≥ threshold is guaranteed present (recall 1, see
    :func:`_grid_cells`). Exposed separately so tests and capacity
    planning can measure the candidate ratio |cands| / (n·(n−1)/2)
    directly — the blocking's pruning power."""
    cells = _grid_cells(vec_col, dim, threshold, k)
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), *cells)

    # probe side: explode to the 3^k neighboring cells
    probed = base
    for j in range(k):
        probed = probed.withColumn(
            f"_cell{j}", F.explode(F.array(*[F.col(f"_cell{j}") + o for o in (-1, 0, 1)]))
        )
    cell_keys = [f"_cell{j}" for j in range(k)]
    return (
        probed.select(F.col("_id").alias("id_a"), *cell_keys)
        .join(base.select(F.col("_id").alias("id_b"), *cell_keys), cell_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    dim: int | None = None,
    candidate_obs=None,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold — grid-blocked, exact.

    The scale shape: each vector lands in one k-dim grid cell (see
    :func:`_grid_cells`); one side multiprobes its 3^k neighbor cells and
    the candidate join is a plain equi-join on the composite cell key —
    no CartesianProduct, bounded fan-out, and provably every qualifying
    pair collides. Candidates are verified with the exact rounded cosine,
    so output ≡ the all-pairs cross join.

    ``dim``: pass the vector dimensionality explicitly (pipelines know
    it) — when omitted, a one-row probe job runs at plan-construction
    time, an extra Spark job the hot path shouldn't pay; an empty input
    returns an empty frame rather than failing the probe.

    OPERATING ENVELOPE (measured, tests/test_training_ops.py): the
    recall-1 cell width is the worst-case (Cauchy–Schwarz) bound
    w ∝ √(1−t), while 64-d unit vectors concentrate their projections in
    a ±3/√dim band — so exact blocking only *prunes* when
    √(2(1−t)) ≲ 1/√dim, i.e. t ≳ 0.99 at dim=64 (candidate ratio ~0.37
    at t=0.99/k=4, ~0.03 at t=0.999/k=4, ~1.0 for every k at t ≤ 0.95 on
    an isotropic corpus). That is the true near-duplicate regime — byte-
    near-identical docs embed at cosine ≈ 1. The plan stays an equi-join
    at any threshold (never a CartesianProduct), but below the envelope
    the candidate set itself degenerates toward all-pairs: for loose
    thresholds use :func:`embedding_neardup_pairs_ivf` (approximate,
    recall dial) instead — exactness below the envelope is inherently
    quadratic on high-dim data.

    ``k`` (projection count): each projection multiplies candidate
    occupancy down but costs 3^k probe fan-out; auto-policy pays k=4
    only inside the envelope (t ≥ 0.98) where projections actually
    prune, and the minimal k=2 outside it.

    ``candidate_obs``: optional ``pyspark.sql.Observation`` — records
    ``n_candidates`` on the run for capacity planning (read it after the
    action; divide by n·(n−1)/2 for the blocking's admitted fraction),
    riding the job instead of costing a second one.
    """
    if k is None:
        k = 4 if threshold >= 0.98 else 2
    if dim is None:
        row = emb.select(vec_col).first()
        if row is None or row[0] is None:
            return emb.sparkSession.createDataFrame(
                [], f"id_a {emb.schema[id_col].dataType.simpleString()}, "
                    f"id_b {emb.schema[id_col].dataType.simpleString()}, score double"
            )
        dim = len(row[0])
    cands = neardup_grid_candidates(emb, threshold, dim, k, vec_col=vec_col, id_col=id_col)
    if candidate_obs is not None:
        cands = cands.observe(candidate_obs, F.count(F.lit(1)).alias("n_candidates"))
    # exact rounded-cosine verify; norms ride the per-vector side of the
    # join (see _norm_col) and the per-pair dot is unrolled (dot_fixed)
    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), _norm_col(vec_col, dim).alias("_na")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), _norm_col(vec_col, dim).alias("_nb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "score", F.round(dot_fixed("_va", "_vb", dim) / (F.col("_na") * F.col("_nb")), 4)
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def embedding_neardup_pairs_ivf(
    emb: DataFrame,
    threshold: float = 0.45,
    dim: int = 64,
    n_cells: int = 8,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    candidate_obs=None,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold — IVF-blocked,
    APPROXIMATE (recall < 1 by construction, dialable via ``nprobe``).

    The loose-threshold companion to :func:`embedding_neardup_pairs`:
    below that operator's exactness envelope (t ≲ 0.98 at dim=64) any
    recall-1 blocking admits ~all pairs, so the scale path trades recall
    for a bounded candidate set. Candidates are pairs sharing an IVF
    cell — (a, b) survives iff b's home cell is among a's ``nprobe``
    nearest cells or vice versa (:func:`_rank_cells`) — scored with the
    exact rounded cosine of :func:`embedding_neardup_pairs_exact`, so
    output ⊆ the all-pairs result; ``nprobe = n_cells`` is exact. At
    scale the cell is a partition/cluster key and a trained codebook
    replaces the deterministic one (``centroids`` from
    :func:`train_ivf_centroids`).

    Contract: ``id_col`` integral (emitted as long) and every vector
    exactly ``dim`` elements, else the stage fails (``ValueError``).
    Rows with a NULL id or vector are dropped; a vector with a NULL, NaN
    or infinite element, or a zero vector, is in no pair.

    ``candidate_obs``: optional ``pyspark.sql.Observation`` recording
    ``n_candidates`` — the number of DISTINCT pairs the blocking admits,
    the cost driver of this operator (a trained codebook balances cells,
    and balanced cells can admit MORE pairs at the same nprobe). Observe
    it to attribute wall-time shifts to candidate volume vs host
    weather. That variant counts every co-occurrence once and returns
    the same rows as the hot path.
    """
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim)
    if candidate_obs is not None:
        # Capacity-accounting path. A pair can arrive by ≤2 directions
        # (a probes b's home cell / b probes a's home cell); instead of
        # a distinct over O(n²/cells) rows, keep one CANONICAL row per
        # admitted pair: drop direction (a→b) iff the reverse direction
        # also exists (home(a) ∈ probes(b)) and id_a > id_b. The count
        # of surviving rows is exactly |distinct candidates|; the result
        # rows come from an inner join against the hot path's output
        # (every output pair is a candidate). Both sides grow with the
        # pair count, so neither is forced to broadcast.
        ranked = _rank_cells(emb.select(id_col, vec_col), vec_col, cents, nprobe)
        home = ranked.select(
            F.col(id_col).alias("id_b"),
            F.col("_home").alias("_cell"),
            F.col("_probes").alias("_probes_b"),
        )
        probes = ranked.select(
            F.col(id_col).alias("id_a"),
            F.col("_home").alias("_home_a"),
            F.explode("_probes").alias("_cell"),
        )
        cands = (
            probes.join(home, "_cell")
            .filter(F.col("id_a") != F.col("id_b"))
            .filter(
                (F.col("id_a") < F.col("id_b"))
                | ~F.array_contains(F.col("_probes_b"), F.col("_home_a"))
            )
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        cands = cands.observe(candidate_obs, F.count(F.lit(1)).alias("n_candidates"))
        verified = embedding_neardup_pairs_ivf(
            emb, threshold, dim, n_cells, nprobe, vec_col, id_col, centroids=cents
        )
        return cands.join(verified, ["id_a", "id_b"]).select("id_a", "id_b", "score")

    # Hot path: Spark distributes, numpy/BLAS does the per-group math.
    # Probes and homes are cogrouped by (cell, salt), so the O(n²/cells)
    # co-occurrence set is never rows, and each group arrives as ARROW
    # tables (applyInArrow: the embedding ListArray reshapes straight into
    # a matrix; pandas' per-row objects cost 5-7 s vs 1.8-2.4 s at sf1sim).
    # Per group, one BLAS product over unit vectors prefilters at
    # threshold − 5e-5 − 1e-9 (5e-5: round(x,4) ≥ t admits x ≥ t−5e-5;
    # 1e-9 dwarfs the ~1e-13 BLAS-reassociation + unitization error vs
    # the fold → no false negatives), and only its survivors get the raw
    # cosine from _fold_dot. round(·,4), the threshold and the distinct
    # stay in Spark, so the rounding is Spark's own. As Spark expressions
    # (eight unrolled 64-term literal dots, two verify joins) the ranking
    # and the score cost ~0.8 s of Catalyst analysis and planning per
    # query on the 500-vector curate slice.
    # The salt splits each cell's probe side so one hot cell cannot pin
    # the stage to one task; the home side is replicated per salt (cells
    # are small relative to the pair count this avoids).
    spark = emb.sparkSession
    n_salts = max(4, (2 * spark.sparkContext.defaultParallelism) // max(n_cells, 1))
    prefilter_thr = threshold - 5e-5 - 1e-9

    clean = emb.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
    ranked = _rank_cells(clean.select(id_col, vec_col), vec_col, cents, nprobe)
    probes = ranked.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode("_probes").alias("_cell"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int").alias("_salt"),
    )
    homes = ranked.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col("_home").alias("_cell"),
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("_salt"),
    )

    out_schema = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64()), ("cos", pa.float64())])

    def _score_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return out_schema.empty_table()
        pa_ids, hb_ids = left.column("_id").to_numpy(), right.column("_id").to_numpy()
        P = _matrix(left.column("_v").combine_chunks(), dim)
        H = _matrix(right.column("_v").combine_chunks(), dim)
        rows_p, rows_h = np.arange(len(P)), np.arange(len(H))
        pn = np.sqrt(_fold_dot(P.T, P.T, rows_p, rows_p))
        hn = np.sqrt(_fold_dot(H.T, H.T, rows_h, rows_h))
        # unit vectors; a zero row stays zero and a NaN row NaN
        Pu = P / np.where(pn > 0, pn, 1.0)[:, None]
        Hu = H / np.where(hn > 0, hn, 1.0)[:, None]
        outs = []
        # slab the matmul so one giant cell cannot blow task memory
        slab = max(1, int(64 * 1024 * 1024 // (8 * max(left.num_rows, 1))))
        for lo in range(0, right.num_rows, slab):
            ii, jj = np.nonzero(Pu @ Hu[lo : lo + slab].T >= prefilter_thr)
            jj += lo
            ga, gb = pa_ids[ii], hb_ids[jj]
            den = pn[ii] * hn[jj]
            m = (ga != gb) & (den != 0)  # Spark's x / 0 is NULL: no pair
            if m.any():
                cos = _fold_dot(P.T, H.T, ii[m], jj[m]) / den[m]
                outs.append((np.minimum(ga[m], gb[m]), np.maximum(ga[m], gb[m]), cos))
        if not outs:
            return out_schema.empty_table()
        id_a, id_b, cos = (np.concatenate(c) for c in zip(*outs))
        return pa.table({"id_a": id_a, "id_b": id_b, "cos": cos}, schema=out_schema)

    return (
        probes.groupBy("_cell", "_salt")
        .cogroup(homes.groupBy("_cell", "_salt"))
        .applyInArrow(_score_group, "id_a long, id_b long, cos double")
        .select("id_a", "id_b", F.round("cos", 4).alias("score"))
        .filter(F.col("score") >= threshold)
        .distinct()
    )


def knn_label_vote(
    emb: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Predict each query's label by majority vote of its top-k neighbors
    (tie → smallest label)."""
    topk = brute_force_topk(
        emb, n_queries=n_queries, k=k, vec_col=vec_col, id_col=id_col, dim=dim
    )
    labeled = topk.join(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "n_label").agg(F.count("*").alias("n_votes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("n_label"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("n_label").alias("predicted_label"), "n_votes")
    )
