"""Batch time-series operators: per-key EWMA, PSI drift, gap-filling
and SCD2 history. M4 downsampling lives in
``quanta_spark.operators.timeseries``."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quanta_spark.operators.timeseries import _bucket_to_us


def ewma_by_key(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Final-state EWMA of ``value_col`` per key, rows ordered by
    (ts, tiebreak). Returns one row per key: n_events, last value and
    the EWMA, both reported in basis points (floor(x*1e4 + 0.5) as
    BIGINT) so a SQL oracle hash-matches despite float summation-order
    noise."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    wall = Window.partitionBy(key_col)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wall)
    one_m_a = F.lit(1.0 - alpha)
    weight = F.when(rn == 1, F.pow(one_m_a, n - 1)).otherwise(
        F.lit(alpha) * F.pow(one_m_a, n - rn)
    )
    x = F.col(value_col).cast("double")
    bp = lambda c: F.floor(c * 10_000 + F.lit(0.5)).cast("long")  # noqa: E731
    return (
        df.select(
            F.col(key_col),
            (weight * x).alias("_wx"),
            F.when(rn == n, x).alias("_last"),
        )
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            bp(F.max("_last")).alias("last_value_bp"),
            bp(F.sum("_wx")).alias("ewma_bp"),
        )
    )


def psi_drift(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "event_type",
    ts_col: str = "ts",
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 10,
) -> DataFrame:
    """Population-stability-index drift monitor: per key and 1-day
    window, the PSI of ``value_col``'s binned distribution against the
    PREVIOUS day's —

        PSI = sum_i (p_i - q_i) * ln(p_i / q_i)

    with add-one smoothing (p_i = (c_i + 1) / (n + n_bins)), the
    standard alarm for feature/score drift between a model's training
    window and live traffic. Days with no predecessor emit NULL psi.

    Scale: ONE scan, ONE (key, day) hash aggregate — each bin is a
    conditional sum INSIDE that aggregate (map-side partial), so the
    corpus is never re-read and the count table is never self-joined
    (a naive counts-CTE formulation re-scans the input once per
    consumer — measured 4 scans). The stack() unpivot, the per-(key,
    bin) lag window, and the log-sum all run on the O(keys x days x
    bins) table that aggregate emits. Values clamp into [lo, hi); psi
    is reported in basis points (floor(x*1e4+0.5), x >= 0) so
    ULP-level ln noise cannot flip a hash compare."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    width = (hi - lo) / n_bins
    bin_c = F.least(
        F.greatest(
            F.floor((F.col(value_col).cast("double") - lo) / width).cast("int"),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    day = F.date_trunc("day", F.col(ts_col))
    wide = (
        df.select(F.col(key_col).alias("key"), day.alias("day"), bin_c.alias("bin"))
        .groupBy("key", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("bin") == i).cast("long")).alias(f"_b{i}")
                for i in range(n_bins)
            ],
        )
    )
    stack_args = ", ".join(f"{i}, `_b{i}`" for i in range(n_bins))
    probs = wide.select(
        "key",
        "day",
        "n",
        F.expr(f"stack({n_bins}, {stack_args}) AS (bin, c)"),
    ).select(
        "key",
        "day",
        "bin",
        "n",
        ((F.col("c") + 1) / (F.col("n") + n_bins)).alias("p"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key", "bin").orderBy("day")
    lagged = probs.select(
        "key",
        "day",
        "bin",
        "n",
        "p",
        F.lag("p").over(w).alias("q"),
        (F.datediff("day", F.lag("day").over(w)) == 1).alias("_adj"),
    )
    term = F.when(
        F.col("q").isNotNull() & F.col("_adj"),
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")),
    )
    return (
        lagged.groupBy("key", "day")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.floor(F.sum(term) * 10_000 + F.lit(0.5)).cast("long").alias("psi_bp"),
        )
        .withColumnRenamed("key", key_col)
    )


def gapfill(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
) -> DataFrame:
    """Time-bucket gap fill (the TimescaleDB ``time_bucket_gapfill`` +
    ``locf``/``interpolate`` shape): regularize an irregular event
    series onto a fixed tick grid per key, marking gaps and filling
    them two ways — last-observation-carried-forward and linear
    interpolation between the surrounding observations. The step every
    feature pipeline needs between raw event logs and anything that
    assumes a regular time axis (EWMA above, drift monitors, model
    features).

    Semantics (deterministic, engine-portable):
    - tick(key) = floor(epoch_us / step) * step; per (key, tick) the
      observed value is MAX(value) — an explicit, portable reducer
      (pre-aggregate differently upstream if you need last-by-ts).
    - the spine spans each key's OWN [min(tick), max(tick)] — no key
      is extrapolated beyond where it has data.
    - value_locf: last non-null at or before the tick (null before the
      first observation).
    - value_linear: for gaps strictly between two observations,
      prev + (next - prev) * elapsed/spanned (exact integer tick
      arithmetic feeding one double multiply, floor-rounded to 4dp); equal to
      the observation elsewhere, null in lead-in/tail-out gaps.

    Scale shape: one (key, tick) aggregate, one per-key MIN/MAX
    aggregate whose output is |keys| rows, a per-key sequence() explode
    (spine size = range/step per key — bounded by construction of the
    grid), and ONE key-partitioned window pass computing both fills.
    The window grain is per-key ticks, not raw events: a hot key costs
    range/step rows regardless of its event count. Zero Python."""
    step = _bucket_to_us(bucket)
    # cast via TIMESTAMP: unix_micros rejects TIMESTAMP_NTZ (parquet-
    # derived); session TZ is pinned UTC so the wall-clock is unchanged
    tick = F.timestamp_micros(
        F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {step}")
        * F.lit(step)
    )
    obs = (
        df.select(
            F.col(key_col).alias("key"),
            tick.alias("tick"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy("key", "tick")
        .agg(F.max("_v").alias("value"))
    )
    rng = obs.groupBy("key").agg(
        F.min("tick").alias("_mn"), F.max("tick").alias("_mx")
    )
    n, unit = bucket.strip().split()
    spine = rng.select(
        "key",
        F.explode(
            F.sequence("_mn", "_mx", F.expr(f"interval {n} {unit}"))
        ).alias("tick"),
    )
    base = spine.join(obs, ["key", "tick"], "left")
    w = Window.partitionBy("key").orderBy("tick")
    obs_pt = F.when(
        F.col("value").isNotNull(), F.struct(F.col("tick").alias("t"), F.col("value").alias("v"))
    )
    prev = F.last(obs_pt, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    nxt = F.first(obs_pt, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    elapsed = F.unix_micros(F.col("tick")) - F.unix_micros(prev["t"])
    spanned = F.unix_micros(nxt["t"]) - F.unix_micros(prev["t"])
    # floor(x*1e4+0.5)/1e4, NOT round(x, 4): Spark's round() rounds the
    # shortest-decimal repr (BigDecimal.valueOf) while DuckDB rounds
    # the binary double — they disagree on ~0.05% of interpolated
    # values; the floor idiom is pure double arithmetic, identical
    # everywhere (repo-wide *_bp precedent)
    linear = F.when(F.col("value").isNotNull(), F.col("value")).otherwise(
        F.floor(
            (prev["v"] + (nxt["v"] - prev["v"]) * (elapsed / spanned))
            * 10_000
            + F.lit(0.5)
        )
        / 10_000
    )
    return (
        base.select(
            F.col("key").alias(key_col),
            "tick",
            "value",
            prev["v"].alias("value_locf"),
            linear.alias("value_linear"),
            F.col("value").isNull().alias("is_gap"),
        )
    )


def scd2_history(
    changes: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    attr_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history from a changelog: turn
    a stream of (key, ts, attributes) observations into versioned
    validity intervals — the warehouse-standard shape every
    point-in-time-correct join needs (feed the result to the as-of
    join for "the user's plan AS OF this order's timestamp", or to the
    interval join for overlap analytics).

    Semantics (deterministic):
    - rows ordered per key by (ts, tiebreak);
    - consecutive observations with IDENTICAL attributes collapse into
      one version (null-safe comparison — a no-op upsert never cuts a
      new version, the property that distinguishes SCD2 from a raw
      changelog);
    - version n: valid_from = its first observation's ts, valid_to =
      the NEXT version's valid_from (null on the current version),
      version numbered from 1, is_current flag.

    Scale shape: one key-partitioned window pass to detect change
    points, a second over the (much smaller) change-point rows for
    valid_to/version — both share the same partitioning, so ONE
    exchange on the key. Zero Python, zero joins. Per-key history is
    the window grain; an unbounded hot key should be pre-bucketed by a
    coarser epoch upstream (same caveat as ewma_by_key)."""
    if not attr_cols:
        raise ValueError("attr_cols must name at least one attribute column")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    is_change = F.lit(False)
    for a in attr_cols:
        # null-safe: a version cut happens iff some attr is NOT
        # null-safe-equal to its predecessor
        is_change = is_change | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    first_row = F.row_number().over(w) == 1
    cuts = changes.withColumn(
        "_cut", first_row | is_change
    ).filter(F.col("_cut"))
    w2 = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    valid_to = F.lead(F.col(ts_col)).over(w2)
    return cuts.select(
        F.col(key_col),
        *[F.col(a) for a in attr_cols],
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w2).cast("int").alias("version"),
        valid_to.isNull().alias("is_current"),
    )
