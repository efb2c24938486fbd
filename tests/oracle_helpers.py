"""Shared helpers for the oracle-parity and plan-shape tests: DuckDB
oracle execution, the normalization used to compare Spark results
against oracles, and the flagship batch pipeline both suites smoke.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from quanta_contrib import queries as q


def duck_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run oracle SQL on a fresh DuckDB connection with every parquet
    table in ``sf_dir`` registered as a view."""
    con = duckdb.connect()
    for t in q.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).df()


def normalize(df: pd.DataFrame, *, strict_tz: bool = False) -> pd.DataFrame:
    """Column-sorted, value-normalized, row-sorted frame for an
    order-insensitive compare. ``strict_tz=True`` (oracle side) fails
    loudly on tz-aware datetime columns: a DuckDB oracle emitting
    TIMESTAMPTZ (e.g. bare to_timestamp()) does not match Spark's plain
    TimestampType schema, so the compare must reject it rather than
    normalize it away."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if strict_tz and isinstance(s.dtype, pd.DatetimeTZDtype):
                raise AssertionError(
                    f"oracle column {c!r} is tz-aware ({s.dtype}); use "
                    "make_timestamp(us) or CAST(... AS TIMESTAMP) in the oracle"
                )
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = np.round(s.astype("float64"), 9)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        else:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship batch pipeline: derived transcripts -> uppercase stage
    chain -> session windows."""
    from pyspark.sql import functions as F

    from quanta_spark.operators.stages import apply_chain
    from quanta_spark.operators.windows import sessionize

    q._prepare(spark, sf_dir)
    t = q.transcripts_df(spark)
    upper = apply_chain(t, ["uppercase"]).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    return sessionize(upper, gap="30 minutes").orderBy(
        F.col("conv_id"), F.col("session_start")
    )
