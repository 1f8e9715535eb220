"""Driver-contract parity: every queries() entry matches its oracle_sql()
on row count, column names, and (order-insensitively) values — the same
comparison the external driver makes, run here at sf0.001 so regressions
never reach the driver."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(4)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _all_queries():
    """Driver registry + the pytest-only EXTRA_QUERIES variants: every
    implemented query is oracle-verified here even when kept out of the
    driver's capped registry."""
    from kafka_plugins_spark.entry_queries import EXTRA_QUERIES

    return {**entry_mod.queries(), **EXTRA_QUERIES}


ALL = sorted(_all_queries().keys())


def test_registry_within_driver_cap():
    """The external driver verifies at most 50 registry rows per round
    (r5: 57 registered, only the first 50 got CORRECTNESS entries — the
    ANN/similarity tail went silently unverified). Grow EXTRA_QUERIES,
    not QUERIES, past this cap."""
    assert len(entry_mod.queries()) <= 50
    # and the driver-facing oracle map must cover exactly those rows
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, duck, name):
    from kafka_plugins_spark.entry_queries import ORACLES

    q = _all_queries()[name]
    got = normalize(q(spark, SF).toPandas())
    oracle = ORACLES.get(name)
    if oracle is None:
        # rows-only contract for non-SQL-expressible ops
        assert len(got) >= 0
        return
    want = normalize(duck.execute(oracle).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    # The driver hashes raw values, so int64 1 vs float64 1.0 is a FAIL
    # there — mirror that: numeric KIND must agree per column (DuckDB
    # HUGEINT → float64 drift is the classic trap; round1's sessionize).
    for c in got.columns:
        got_f = pd.api.types.is_float_dtype(got[c])
        want_f = pd.api.types.is_float_dtype(want[c])
        assert got_f == want_f, (
            f"{name}.{c}: int/float dtype drift (spark={got[c].dtype}, "
            f"oracle={want[c].dtype}) — would hash-mismatch in the driver"
        )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


@pytest.mark.parametrize("name", ["bpe_encode", "bpe_token_ids"])
def test_bpe_oracle_fits_small_memory_limit(name):
    """The BPE oracles re-learn BPE_N_MERGES merges in unrolled SQL; each
    round's word-freq CTE is read twice, so unless those CTEs are
    materialized DuckDB inlines them into a plan 2^n copies wide and
    runs out of memory on 500 documents. Pinned under a 512 MB limit."""
    from kafka_plugins_spark.entry_queries import ORACLES

    con = duckdb.connect()
    con.execute("SET memory_limit='512MB'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    assert len(con.execute(ORACLES[name]).df()) == 500


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "user_id" in df.columns


def test_every_query_has_result_rows(spark):
    """Queries shouldn't be vacuously green: all but threshold-filtered
    pair queries must return rows at sf0.001."""
    may_be_empty = {
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "emb_neardup",
        "customers_without_orders",  # sf0.001: every customer has orders
    }
    for name, q in _all_queries().items():
        if name in may_be_empty:
            continue
        assert q(spark, SF).limit(1).count() == 1, f"{name} returned no rows"


def test_failed_engine_drive_row_leaves_no_scratch(spark, tmp_path, monkeypatch):
    """An engine-drive row stages its table under SPARK_LOCAL_DIRS and
    removes it even when the build raises; a base without enough free
    space falls back to the default tmp dir."""
    from kafka_plugins_spark import entry_queries as eq
    from kafka_plugins_spark.lake import ParquetSnapshotTable

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    monkeypatch.setattr(eq, "_SCRATCH_MIN_FREE_BYTES", 0)
    assert eq._scratch_base() == str(tmp_path)
    seen = []

    def boom(self, *args, **kwargs):
        seen.append(self.path)
        raise RuntimeError("injected merge failure")

    monkeypatch.setattr(ParquetSnapshotTable, "merge_into", boom)
    with pytest.raises(RuntimeError, match="injected"):
        eq.q_cdc_final_state_mor(spark, SF)
    assert seen and seen[0].startswith(str(tmp_path))
    assert list(tmp_path.iterdir()) == []

    monkeypatch.setattr(eq, "_SCRATCH_MIN_FREE_BYTES", 1 << 62)
    assert eq._scratch_base() is None
