"""Time-series downsampling: M4 (first / last / min / max per key and
time bucket), in batch or on a watermarked stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKET_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
}


def _bucket_to_us(bucket: str) -> int:
    parts = bucket.strip().split()
    if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) < 1:
        raise ValueError(
            f"bucket must look like '6 hours', got {bucket!r}"
        )
    if parts[1] not in _BUCKET_US:
        raise ValueError(
            f"unsupported bucket unit {parts[1]!r}; use "
            "seconds/minutes/hours/days"
        )
    return int(parts[0]) * _BUCKET_US[parts[1]]


def m4_downsample(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "6 hours",
    watermark: str | None = None,
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per key
    and time bucket keep the FOUR actual rows a pixel-perfect line
    plot needs — first, last, min-value and max-value — plus the row
    count. The error-free visualization reduction: a line chart drawn
    from the M4 rows is pixel-identical to one drawn from all rows at
    bucket-per-pixel resolution, at 4/n the data.

    All four points are genuine input rows selected by lexicographic
    struct min/max (partial-aggregable, map-side combined), never
    interpolated values, with deterministic tie-breaks so two engines
    / two partitionings pick identical rows:

    - first:  min ts, then min value     - last: max ts, then max value
    - v_min:  min value, then EARLIEST ts
    - v_max:  max value, then EARLIEST ts (via max(struct(v, -ts))).

    Scale: ONE exchange on (key, bucket) with map-side partial structs
    — the reduction from n rows to 4 happens inside the scan stage, so
    at 100 TB the shuffle carries O(keys x buckets) structs, not rows.
    Works unchanged on a streaming input: pass ``watermark`` and each
    bucket emits exactly once when the watermark proves it final
    (append-mode windowed aggregation, built-in state store).

    NaN values are rejected by filter (Spark orders NaN greatest,
    breaking cross-engine determinism); null key/ts/value rows are
    dropped as in any M4 implementation.
    """
    _bucket_to_us(bucket)  # validate unit/format
    # cast BEFORE the watermark: Spark tracks the watermark on the
    # exact attribute, and windowing over cast(ts) of a watermarked ts
    # silently loses it (append-mode aggregation then rejects the plan)
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    elif df.isStreaming:
        raise ValueError(
            "m4_downsample on a streaming input needs a watermark to "
            "finalize buckets; pass watermark='1 hour' etc."
        )
    ts = F.col(ts_col)
    v = F.col(value_col).cast("double")
    rows = df.filter(
        F.col(key_col).isNotNull() & ts.isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(
        F.col(key_col).alias("key"),
        F.window(ts, bucket).alias("_w"),
        F.unix_micros(ts).alias("_tus"),
        v.alias("_v"),
    )
    agg = rows.groupBy("key", "_w").agg(
        F.min(F.struct(F.col("_tus").alias("t"), F.col("_v").alias("v"))).alias("_first"),
        F.max(F.struct(F.col("_tus").alias("t"), F.col("_v").alias("v"))).alias("_last"),
        F.min(F.struct(F.col("_v").alias("v"), F.col("_tus").alias("t"))).alias("_min"),
        F.max(
            F.struct(F.col("_v").alias("v"), (-F.col("_tus")).alias("nt"))
        ).alias("_max"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        F.col("key").alias(key_col),
        F.col("_w.start").alias("bucket"),
        F.timestamp_micros(F.col("_first.t")).alias("t_first"),
        F.col("_first.v").alias("v_first"),
        F.timestamp_micros(F.col("_min.t")).alias("t_min"),
        F.col("_min.v").alias("v_min"),
        F.timestamp_micros(-F.col("_max.nt")).alias("t_max"),
        F.col("_max.v").alias("v_max"),
        F.timestamp_micros(F.col("_last.t")).alias("t_last"),
        F.col("_last.v").alias("v_last"),
        F.col("n").cast("long").alias("n"),
    )
