"""Data-quality monitoring on the ingest stream (Deequ-style checks):
per event-time window, one row per constraint —
(window_start, check_name, n_violations, n_rows, passed) — so the
report is O(#checks) per window regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stream_quality_monitor(
    df: DataFrame,
    checks: dict[str, Column],
    window: str = "1 day",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Data-quality monitoring ON THE INGEST STREAM: per event-time
    tumbling window, per check, violation counts — the alert feed that
    catches a schema-drifted producer within one window instead of one
    training run. Each check is a violation predicate (NULL = not a
    violation).

    Shape: ONE windowed aggregate in append mode (all checks are
    conditional sums inside it, map-side partial; state is O(open
    windows), each holding one row of counters — the stack() unpivot
    into (window_start, check_name, ...) rows runs AFTER the aggregate,
    so per-check fan-out never touches state). Watermark closes and
    emits windows exactly once."""
    if not checks:
        raise ValueError("stream_quality_monitor needs at least one check")
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(name)
        for name, pred in checks.items()
    ]
    agg = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("_w"))
        .agg(F.count(F.lit(1)).cast("long").alias("_n"), *aggs)
    )
    stack_args = ", ".join(f"'{n}', `{n}`" for n in checks)
    return agg.select(
        F.col("_w.start").alias("window_start"),
        F.expr(f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)"),
        F.col("_n").alias("n_rows"),
    ).withColumn("passed", F.col("n_violations") == 0)
