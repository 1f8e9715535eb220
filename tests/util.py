"""Shared oracle helpers: DuckDB arg_max + pandas groupby-last (FIXTURES.md §3)."""

from __future__ import annotations

import uuid

import duckdb
import pandas as pd

FINAL_STATE_SQL = """
SELECT conv_id, turn_idx,
       arg_max(role, "offset")  AS role,
       arg_max(text, "offset")  AS text,
       arg_max(tool, "offset")  AS tool,
       arg_max(ts,   "offset")  AS ts
FROM events
GROUP BY conv_id, turn_idx
HAVING arg_max(op, "offset") <> 'D'
ORDER BY conv_id, turn_idx
"""


def duckdb_final_state(events_path: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}/**/*.parquet', hive_partitioning=true)"
    )
    return con.execute(FINAL_STATE_SQL).df()


def pandas_final_state(events_path: str) -> pd.DataFrame:
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT * FROM read_parquet('{events_path}/**/*.parquet', hive_partitioning=true)"
    ).df()
    pdf = pdf.sort_values("offset").groupby(["conv_id", "turn_idx"], as_index=False).last()
    pdf = pdf[pdf["op"] != "D"]
    return (
        pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out["turn_idx"] = out["turn_idx"].astype("int64")
    if "ts" in out.columns:
        out["ts"] = pd.to_datetime(out["ts"]).dt.tz_localize(None)
    return out


def assert_tables_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    a, e = normalize(actual), normalize(expected)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    cols = [c for c in cols if c in a.columns and c in e.columns]
    pd.testing.assert_frame_equal(a[cols], e[cols], check_dtype=False)


def spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs it scheduled)``. Counted by a fresh
    job group after draining the async listener bus: the status store
    keeps only ``spark.ui.retainedJobs`` jobs, so comparing its total size
    before and after stops seeing new jobs once that cap is reached, while
    the newest jobs of a group are always retained."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, len(sc.statusTracker().getJobIdsForGroup(group))
