"""``curate`` workload: the training-data operator rows over a testdata slice.

One closed-loop client runs six ``entry_queries`` rows in turn --
``doc_quality``, ``pii_scrub``, ``dedup_minhash_lsh``, ``ann_topk``,
``knn_label_vote`` and ``emb_neardup_ivf`` -- each into a ``noop`` sink. It
is the only workload that runs ``operators/{text,pii,dedup,similarity}``; the
CDC layers do no work here.

The corpus is a fixed slice of the engine's sf0.1 testdata (``CORPUS``:
1,250 of its 5,000 documents and 500 of its 2,000 embeddings, rows
unchanged), so every run reads the same tables whatever its seed. The rows
run in the fixed order of ``ROWS``, in whole passes: the timed window holds
at least ``WINDOW_PASSES`` passes and lasts at least ``--seconds``. The
first, cold pass is the warm-up: it collects each row's result, and after
the timed window each result is compared with its ``entry_queries.ORACLES``
SQL in DuckDB. In that pass the IVF row runs through
``embedding_neardup_pairs_ivf(..., candidate_obs=...)`` with the row's own
parameters and codebook, which returns the same rows as
``q_emb_neardup_ivf`` and also counts the candidate pairs; that count must
equal both the oracle's candidate set and ``IVF_CANDIDATES``.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

from perfbench.harness import Outcome, median, summary
from perfbench.trace import span_stats

#: a fixed slice of the engine's sf0.1 testdata: the ``documents`` rows with
#: ``doc_id < 1250`` and the ``embeddings`` rows with ``vec_id < 500``
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1-slice")
#: candidate pairs the IVF row verifies on this corpus with its parameters
#: and trained codebook (the oracle's candidate set must agree)
IVF_CANDIDATES = 88_278

#: the window holds at least this many passes, so each row's figure is a
#: median over more than one run of it
WINDOW_PASSES = 2

#: row name -> span (layer) name, in pass order
ROWS = {
    "doc_quality": "operators.text.quality",
    "pii_scrub": "operators.pii.scrub",
    "dedup_minhash_lsh": "operators.dedup.minhash",
    "ann_topk": "operators.similarity.topk",
    "knn_label_vote": "operators.similarity.knn",
    "emb_neardup_ivf": "operators.similarity.ivf",
}


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Column- and row-order-free form, floats to 4 places (the rounding
    contract of the entry_queries oracles)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(4)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return True


def _ivf_candidates_sql() -> str:
    """The emb_neardup_ivf oracle cut at its candidate set."""
    from kafka_plugins_spark import entry_queries as eq

    head, sep, _tail = eq._emb_neardup_ivf_oracle_sql().rpartition("SELECT id_a, id_b, score FROM (")
    if not sep:
        raise ValueError("emb_neardup_ivf oracle no longer has the expected shape")
    return head + "SELECT count(*) FROM cand"


def run(ctx) -> Outcome:
    from pyspark.sql import Observation

    from kafka_plugins_spark import entry_queries as eq
    from kafka_plugins_spark.operators import similarity as sim

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    corpus = CORPUS
    order = list(ROWS.items())
    queries = {**eq.QUERIES, **eq.EXTRA_QUERIES}

    def execute(name: str, observe: bool = False):
        """The row's DataFrame; with ``observe``, the IVF row runs through
        ``candidate_obs`` (same rows) and its Observation comes back too."""
        if not (observe and name == "emb_neardup_ivf"):
            return queries[name](spark, corpus), None
        obs = Observation("perfbench_ivf_candidates")
        df = sim.embedding_neardup_pairs_ivf(
            spark.read.parquet(f"{corpus}/embeddings.parquet"),
            centroids=eq._trained_codebook(spark, corpus), candidate_obs=obs,
            **eq.EMB_NEARDUP_IVF_PARAMS,
        )
        return df, obs

    # --- warm-up: the cold pass, whose results are checked after the window
    got: dict[str, pd.DataFrame] = {}
    for name, layer in order:
        with tr.span(layer, row=name):
            df, obs = execute(name, observe=True)
            got[name] = df.toPandas()
        if obs is not None:
            seen_candidates = int(obs.get["n_candidates"])

    # --- timed window: whole passes over the rows, so every row runs as
    # often as every other ----------------------------------------------------
    ctx.mark_timed_start()
    per_row: dict[str, list[float]] = {n: [] for n in ROWS}
    deadline = time.monotonic() + ctx.seconds
    passes = 0
    while passes < WINDOW_PASSES or time.monotonic() < deadline:
        passes += 1
        for name, layer in order:
            out.attempted += 1
            t0 = time.monotonic()
            try:
                with tr.span(layer, row=name):
                    execute(name)[0].write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted; the run goes on
                out.fail(f"{name}: {exc!r}")
                continue
            per_row[name].append((time.monotonic() - t0) * 1e3)
    ctx.mark_timed_end()

    # --- correctness gates: a row shown wrong fails each of its timed runs
    duck = duckdb.connect()
    for t in ("documents", "embeddings"):
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    want_candidates = int(duck.execute(_ivf_candidates_sql()).fetchone()[0])
    for name in ROWS:
        wrong = []
        if not _matches(got[name], duck.execute(eq.ORACLES[name]).df()):
            wrong.append(f"{name} differs from its oracle")
        if name == "emb_neardup_ivf" and not (
                seen_candidates == want_candidates == IVF_CANDIDATES):
            wrong.append(f"IVF candidates {seen_candidates}, oracle {want_candidates},"
                         f" expected {IVF_CANDIDATES}")
        if wrong:
            out.fail("; ".join(wrong), n=max(1, len(per_row[name])))
    rows_out = {name: len(df) for name, df in got.items()}

    row_p50 = [median(v) for v in per_row.values() if v]
    out.metrics = {
        "op_p50_ms": (median(row_p50), "ms"),
        "batch_p50_ms": (sum(row_p50), "ms"),
    }
    out.detail = {
        "rows": {n: summary(v) for n, v in per_row.items()},
        "rows_out": rows_out,
        "ivf_candidates": seen_candidates,
    }
    if tr.enabled:
        out.fold = lambda log: _fold(tr.spans, log, rows_out, seen_candidates)
    return out


def _fold(spans: list[dict], log: dict, rows_out: dict[str, int], candidates: int) -> dict:
    s = {name: span_stats(spans, log, layer, "timed") for name, layer in ROWS.items()}

    def per_op(name: str, key: str) -> float:
        return s[name][key] / max(1, s[name]["n"])

    sim_rows = ("ann_topk", "knn_label_vote", "emb_neardup_ivf")
    return {
        "operators.text.quality_ms": s["doc_quality"]["ms"],
        "operators.text.cpu_ms": s["doc_quality"]["cpu_ms"],
        "operators.pii.scrub_ms": s["pii_scrub"]["ms"],
        "operators.pii.cpu_ms": s["pii_scrub"]["cpu_ms"],
        "operators.dedup.minhash_ms": s["dedup_minhash_lsh"]["ms"],
        "operators.dedup.cpu_ms": s["dedup_minhash_lsh"]["cpu_ms"],
        "operators.dedup.shuffle_write_bytes": per_op("dedup_minhash_lsh", "shuffle_write_bytes"),
        "operators.dedup.pairs_out": rows_out["dedup_minhash_lsh"],
        "operators.similarity.topk_ms": s["ann_topk"]["ms"],
        "operators.similarity.knn_ms": s["knn_label_vote"]["ms"],
        "operators.similarity.ivf_ms": s["emb_neardup_ivf"]["ms"],
        "operators.similarity.cpu_ms": sum(s[n]["cpu_ms"] for n in sim_rows),
        "operators.similarity.shuffle_write_bytes": sum(
            per_op(n, "shuffle_write_bytes") for n in sim_rows),
        "operators.similarity.ivf_candidates": candidates,
    }
