"""Row-level session labels and windowed distinct counts — the window
helpers the pipeline does not use (``quanta_spark.operators.windows``
holds the rest)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quanta_spark.operators.windows import DEFAULT_WATERMARK, with_watermark


def label_sessions(
    df: DataFrame, gap: str = "30 minutes", key_col: str = "conv_id"
) -> DataFrame:
    """Per-TURN session labels — the row-level flavor of sessionize:
    every turn gets its conversation-local session index (0-based),
    incremented whenever the event-time gap to the previous turn
    exceeds ``gap``. The classic lag-gap-cumsum rewrite: one shuffle on
    the conversation key, two window passes, pure codegen — this is
    how you attach session ids to 10^12 rows without a join back to
    the session aggregates."""
    from pyspark.sql.window import Window

    # parse "<n> <unit>" into microseconds without a Python date parser
    n, unit = gap.split()
    mult = {
        "second": 1_000_000, "seconds": 1_000_000,
        "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
    }[unit]
    gap_us = int(n) * mult
    w = Window.partitionBy(key_col).orderBy("turn_idx")
    # ts may arrive as TIMESTAMP_NTZ (parquet-derived); session TZ is
    # pinned UTC so the cast is value-preserving
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    is_new = F.when(prev_us.isNull() | (ts_us - prev_us > gap_us), 1).otherwise(0)
    run = Window.partitionBy(key_col).orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_idx", (F.sum(is_new).over(run) - 1).cast("int"))


def windowed_distinct(
    df: DataFrame,
    value_col: str = "conv_id",
    window: str = "6 hours",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """EXACT distinct count per tumbling window, streaming-capable:
    COUNT(DISTINCT) is not allowed in a streaming aggregation, so the
    stream path chains two stateful operators — watermark-bounded
    dedup on (window, value), then a plain windowed count (the Spark
    3.5+ multiple-stateful-operator pattern). State is O(distinct
    values per open window), evicted with the watermark. The batch
    path is the same plan with ordinary dropDuplicates (used by the
    DuckDB oracle)."""
    d = with_watermark(df, watermark)
    # the window struct inherits the event-time mark; keeping ts too
    # would leave TWO event-time columns (AnalysisException)
    keyed = d.select(F.window("ts", window).alias("win"), F.col(value_col))
    # classic dropDuplicates, NOT dropDuplicatesWithinWatermark: the
    # within-watermark variant re-admits a value whose occurrences in
    # the SAME window are separated by more than the watermark delay
    # (measured: 2 of 120 windows over-counted at 6h windows / 1h
    # watermark). With the event-time win struct in the key, classic
    # dedup state is still evicted once the watermark passes the
    # window, so state stays O(distinct values per open window).
    deduped = keyed.dropDuplicates(["win", value_col])
    out = deduped.groupBy("win").agg(F.count(F.lit(1)).alias("n_distinct"))
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )
