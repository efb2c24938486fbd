"""Event-time windowing over transcript streams.

The reference carries an event timestamp on every frame but never uses
it (frame.proto:40 — ts is round-tripped, no windowing exists). The
target spec (BASELINE.json north_rule) requires tumbling / sliding /
session windows with watermark-driven late-data handling; these are
pure built-in Structured Streaming operators — Catalyst plans them,
the state store holds open windows, and the SAME functions work on
batch DataFrames (used by the DuckDB-oracle parity tests).

Scale notes (100 TB posture):
- window aggregation is a shuffle on (window, keys): partial
  aggregation (map-side combine) is automatic for the count/sum/min/max
  aggregates used here;
- ``collect_list`` is deliberately NOT used in any headline pipeline —
  a mega-conversation would concentrate its whole text in one task;
- watermark bounds state: open windows older than the watermark are
  evicted, so state size is O(active windows), not O(history).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_WATERMARK = "1 hour"
DEFAULT_SESSION_GAP = "30 minutes"

# Standard per-window transcript aggregates, aliased stably so Spark
# results match the DuckDB oracle (compared by column name).
# Built lazily — Column exprs need an active SparkContext.
def _turn_aggs() -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct("conv_id").alias("n_convs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("n_assistant"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool"),
    ]


def with_watermark(df: DataFrame, delay: str = DEFAULT_WATERMARK) -> DataFrame:
    """Late rows beyond ``delay`` are dropped deterministically — the
    correctness contract fixes (input stream, watermark) so the output
    is reproducible. Batch DataFrames pass through unchanged."""
    return df.withWatermark("ts", delay) if df.isStreaming else df


def tumbling_turn_stats(
    df: DataFrame,
    window: str = "10 minutes",
    watermark: str = DEFAULT_WATERMARK,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window turn statistics. Works streaming and batch."""
    df = with_watermark(df, watermark)
    keys = [F.window("ts", window).alias("win")] + [
        F.col(k) for k in (extra_keys or [])
    ]
    out = df.groupBy(*keys).agg(*_turn_aggs())
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(extra_keys or []),
        "n_turns",
        "n_convs",
        "n_chars",
        "n_user",
        "n_assistant",
        "n_tool",
    )


def sliding_turn_stats(
    df: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Sliding-window turn statistics: each row lands in window/slide
    overlapping windows (Spark expands this internally — no explicit
    self-cross-join needed)."""
    df = with_watermark(df, watermark)
    out = df.groupBy(F.window("ts", window, slide).alias("win")).agg(*_turn_aggs())
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n_turns",
        "n_convs",
        "n_chars",
        "n_user",
        "n_assistant",
        "n_tool",
    )


def sessionize(
    df: DataFrame,
    gap: str = DEFAULT_SESSION_GAP,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Session windows per conversation: a session closes after ``gap``
    of event-time silence (BASELINE.json north_star: 'sessionizing
    conversations on ts gaps'). Built-in ``session_window`` — the state
    store merges adjacent windows; watermark closes + evicts sessions.

    Output: one row per (conv_id, session) with span and turn stats.
    """
    df = with_watermark(df, watermark)
    out = df.groupBy(
        F.session_window("ts", gap).alias("win"), F.col("conv_id")
    ).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool"),
    )
    return out.select(
        "conv_id",
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_turns",
        "first_turn",
        "last_turn",
        "n_chars",
        "n_tool",
    )
