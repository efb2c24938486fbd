"""Incremental rollup maintenance — continuous aggregates kept fresh
by merging DELTAS, never rescanning raw history.

The 100 TB pattern (TimescaleDB continuous aggregates / Iceberg
incremental MERGE, and the fold behind sinks/rollup.py::RollupSink):
a persisted rollup table holds one row of
MERGEABLE aggregate state per group — count, fixed-point sum, min,
max, and an optional Datasketches HLL for distinct counts — and each
ingest cycle folds the new batch in as

    rollup(history UNION delta) == rollup_merge(rollup_history,
                                                rollup_aggregate(delta))

which touches O(delta rows + groups), not O(history rows).

Every stored statistic is chosen for merge-exactness across engines
and partitionings:

- ``n``      row count (BIGINT, associative +)
- ``sum_e6`` sum of floor(value*1e6 + 0.5) (BIGINT — per-row quantize
  THEN integer sum, so two engines / any shuffle order agree exactly;
  float sums would drift per partitioning)
- ``min_v`` / ``max_v`` actual input values (least/greatest skip
  nulls, so a group absent from one side passes through unchanged)
- ``hll``    Spark Datasketches HLL binary (``hll_union`` is the
  sketch's native merge; estimates are checked against exact counts,
  never hash-compared)

``rollup_merge`` is a FULL OUTER JOIN on the group keys, not a
union+groupBy: with the history rollup persisted bucketed on the keys,
the scan's hash distribution already satisfies the join requirement,
so the only exchange in the merge plan is the (small) delta side —
history never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "rollup_aggregate",
    "rollup_merge",
    "ROLLUP_METRICS",
]

#: metric columns every rollup row carries (hll/hist only when requested)
ROLLUP_METRICS = ("n", "sum_e6", "min_v", "max_v")
#: HLL sketch precision (log2 of its bucket count); merged sketches
#: must share it
_HLL_LG_K = 12


def _floor_div(num: Column, den: int) -> Column:
    """Exact floor division of a non-negative long Column by a positive
    int, portable to DuckDB's ``//``: ``(num - num % den) / den`` is an
    exactly-divisible quotient, so the double division is exact below
    2^53 — no float-rounding divergence between engines."""
    return ((num - F.pmod(num, F.lit(den))) / F.lit(den)).cast("long")


def rollup_aggregate(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    value_col: str = "value",
    distinct_col: str | None = None,
    hist: tuple[int, int, int] | None = None,
) -> DataFrame:
    """One mergeable-rollup row per group of ``keys``. Null/NaN values
    and null keys are dropped (a rollup over them is undefined in
    every engine pair).

    ``hist=(lo, hi, n_bins)`` additionally maintains a fixed-bin
    LONG-domain histogram per group as an array<long> of bin counts —
    the mergeable quantile unit:
    cell-wise sums of per-batch histograms equal the full-scan
    histogram EXACTLY, so p50/p95/p99 per group can be read off the
    maintained rollup without touching raw rows
    (``quanta_contrib.operators.rollup.rollup_quantiles``).
    Values bin by their floor(value) long (out-of-range clamps into
    the edge bins)."""
    keys = list(keys)
    if not keys:
        raise ValueError("rollup_aggregate: keys must be non-empty")
    v = F.col(value_col).cast("double")
    cond = v.isNotNull() & ~F.isnan(v)
    for k in keys:
        cond = cond & F.col(k).isNotNull()
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(v * 1e6 + F.lit(0.5)).cast("long")).alias("sum_e6"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(F.col(distinct_col), F.lit(_HLL_LG_K)).alias("hll"))
    if hist is not None:
        lo, hi, n_bins = hist
        if hi <= lo:
            raise ValueError(f"hist needs hi > lo, got ({lo}, {hi})")
        if not 1 <= n_bins <= 256:
            raise ValueError(
                f"hist n_bins must be in [1, 256] (one SUM per bin), got {n_bins}"
            )
        # _floor_div divides in double, so (value-lo)*n_bins beyond 2^52
        # would bin WRONG instead of raising
        if (hi - lo) * n_bins >= (1 << 52):
            raise ValueError(
                f"hist range too wide: ({hi} - {lo}) * {n_bins} must stay "
                "below 2^52 (double-precision floor division)"
            )
        vc = F.greatest(F.least(v.cast("long"), F.lit(hi - 1)), F.lit(lo))
        bin_idx = _floor_div((vc - F.lit(lo)) * F.lit(n_bins), hi - lo)
        aggs.append(
            F.array(
                *[
                    F.sum(
                        F.when(bin_idx == i, F.lit(1)).otherwise(F.lit(0))
                    ).cast("long")
                    for i in range(n_bins)
                ]
            ).alias("hist")
        )
    return df.filter(cond).groupBy(*keys).agg(*aggs)


def _merged(h: Column, d: Column, combine) -> Column:
    return (
        F.when(h.isNull(), d).when(d.isNull(), h).otherwise(combine(h, d))
    )


def rollup_merge(history: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta rollup into the history rollup (both produced by
    :func:`rollup_aggregate` with the same keys/options). Groups only
    in one side pass through bit-unchanged; shared groups combine each
    metric by its native merge (+, +, least, greatest, hll_union).
    Associative and commutative, so any ingest order and any shuffle
    partitioning computes the same table."""
    if set(history.columns) != set(delta.columns):
        raise ValueError(
            "rollup_merge: history and delta schemas differ: "
            f"{sorted(history.columns)} vs {sorted(delta.columns)}"
        )
    has_hll = "hll" in history.columns
    has_hist = "hist" in history.columns
    metrics = (
        set(ROLLUP_METRICS)
        | ({"hll"} if has_hll else set())
        | ({"hist"} if has_hist else set())
    )
    keys = [c for c in history.columns if c not in metrics]
    if not keys:
        raise ValueError("rollup_merge: no key columns found")
    h, d = history.alias("h"), delta.alias("d")
    out = [
        F.coalesce(F.col(f"h.{k}"), F.col(f"d.{k}")).alias(k) for k in keys
    ] + [
        _merged(F.col("h.n"), F.col("d.n"), lambda a, b: a + b).alias("n"),
        _merged(
            F.col("h.sum_e6"), F.col("d.sum_e6"), lambda a, b: a + b
        ).alias("sum_e6"),
        F.least(F.col("h.min_v"), F.col("d.min_v")).alias("min_v"),
        F.greatest(F.col("h.max_v"), F.col("d.max_v")).alias("max_v"),
    ]
    if has_hll:
        out.append(
            _merged(F.col("h.hll"), F.col("d.hll"), F.hll_union).alias("hll")
        )
    if has_hist:
        out.append(
            _merged(
                F.col("h.hist"),
                F.col("d.hist"),
                lambda a, b: F.zip_with(a, b, lambda x, y: x + y),
            ).alias("hist")
        )
    cond = F.lit(True)
    for k in keys:  # keys are non-null by construction (rollup_aggregate)
        cond = cond & (F.col(f"h.{k}") == F.col(f"d.{k}"))
    return h.join(d, cond, "full_outer").select(*out)
