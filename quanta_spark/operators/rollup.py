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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "rollup_aggregate",
    "rollup_merge",
    "rollup_quantiles",
    "latest_aggregate",
    "latest_merge",
    "ROLLUP_METRICS",
]

#: metric columns every rollup row carries (hll/hist only when requested)
ROLLUP_METRICS = ("n", "sum_e6", "min_v", "max_v")


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
    lg_k: int = 12,
    hist: tuple[int, int, int] | None = None,
) -> DataFrame:
    """One mergeable-rollup row per group of ``keys``. Null/NaN values
    and null keys are dropped (a rollup over them is undefined in
    every engine pair).

    ``hist=(lo, hi, n_bins)`` additionally maintains a fixed-bin
    LONG-domain histogram per group as an array<long> of bin counts —
    the mergeable quantile unit:
    cell-wise sums of per-batch histograms equal the full-scan
    histogram EXACTLY, so :func:`rollup_quantiles` answers p50/p95/p99
    per group from the maintained rollup without touching raw rows.
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
        aggs.append(F.hll_sketch_agg(F.col(distinct_col), F.lit(lg_k)).alias("hll"))
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


def rollup_quantiles(
    rollup: DataFrame,
    qs_bp: list[int],
    lo: int,
    hi: int,
    n_bins: int,
) -> DataFrame:
    """Per-group quantiles from a maintained rollup's ``hist`` column
    — the read path of incremental percentiles: p50/p95/p99 per group
    straight off the O(groups) rollup table, raw rows never touched.

    Integer-exact arithmetic (ceil target ``(q*n + 9999) div 10000``, upper edge
    ``lo + ((bin+1)*span) div n_bins``), applied per group: posexplode
    the bin array, one cumulative window per group (<= n_bins rows per
    partition — bounded by construction), first bin whose cumulative
    count reaches the target. Output: group keys + (q_bp, bin_idx,
    bin_upper, cum_cnt, total_cnt) — all longs, oracle-checkable
    value-for-value."""
    if "hist" not in rollup.columns:
        raise ValueError("rollup_quantiles: rollup has no 'hist' column")
    span = hi - lo
    metrics = set(ROLLUP_METRICS) | {"hll", "hist"}
    keys = [c for c in rollup.columns if c not in metrics]
    ex = rollup.select(
        *keys, F.col("n").alias("total_cnt"), F.posexplode("hist").alias("bin_idx", "cnt")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("bin_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ex.withColumn("cum_cnt", F.sum("cnt").over(w))
    qlit = F.explode(F.array(*[F.lit(int(q)) for q in qs_bp])).alias("q_bp")
    qd = cum.select(*cum.columns, qlit)
    target = _floor_div(F.col("q_bp") * F.col("total_cnt") + F.lit(9999), 10_000)
    sel = (
        qd.filter(F.col("cum_cnt") >= target)
        .groupBy(*keys, "q_bp", "total_cnt")
        .agg(F.min("bin_idx").alias("bin_idx"))
    )
    upper = F.lit(lo).cast("long") + _floor_div(
        (F.col("bin_idx") + 1).cast("long") * F.lit(span).cast("long"), n_bins
    )
    cum_small = cum.select(*keys, "bin_idx", "cum_cnt")
    return sel.join(cum_small, keys + ["bin_idx"]).select(
        *keys,
        F.col("q_bp").cast("int"),
        F.col("bin_idx").cast("int"),
        upper.alias("bin_upper"),
        F.col("cum_cnt").cast("long"),
        F.col("total_cnt").cast("long"),
    )


def latest_aggregate(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    ts_col: str = "ts",
    seq_col: str = "event_id",
    payload_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Last-writer-wins snapshot of a changelog: one row per key
    carrying the payload of its latest upsert, ordered by
    ``(ts, seq)`` — seq (a unique changelog id) totalizes ts ties, so
    any engine and any partitioning picks the identical winner. The
    CDC serving-table reducer: with :func:`latest_merge` it is
    mergeable state, so FoldSink materializes a continuously-fresh
    snapshot at O(batch + keys)/batch — the dependency-free analog of
    an Iceberg/Delta MERGE-on-key."""
    keys = list(keys)
    if not keys:
        raise ValueError("latest_aggregate: keys must be non-empty")
    cond = F.lit(True)
    for k in keys + [ts_col, seq_col]:
        cond = cond & F.col(k).isNotNull()
    ordk = F.struct(
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(seq_col).cast("long").alias("seq"),
    )
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return (
        df.filter(cond)
        .groupBy(*keys)
        .agg(
            F.max(ordk).alias("_ord"),
            F.max_by(payload, ordk).alias("_p"),
            F.count(F.lit(1)).cast("long").alias("n_upserts"),
        )
        .select(
            *keys,
            F.col("_ord.ts").alias(ts_col),
            F.col("_ord.seq").alias(seq_col),
            *[F.col(f"_p.{c}").alias(c) for c in payload_cols],
            "n_upserts",
        )
    )


def latest_merge(
    history: DataFrame,
    delta: DataFrame,
    keys: list[str] | tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Merge two last-writer-wins snapshots (latest_aggregate outputs
    with the same keys/columns): per key keep the side with the
    greater (ts, seq); n_upserts adds. Associative and commutative —
    replay boundaries and arrival order cannot change the winner."""
    if set(history.columns) != set(delta.columns):
        raise ValueError(
            "latest_merge: history and delta schemas differ: "
            f"{sorted(history.columns)} vs {sorted(delta.columns)}"
        )
    if "n_upserts" not in history.columns:
        raise ValueError("latest_merge: inputs must come from latest_aggregate")
    keys = list(keys)
    h, d = history.alias("h"), delta.alias("d")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"h.{k}") == F.col(f"d.{k}"))
    h_ord = F.struct(F.col(f"h.{ts_col}"), F.col(f"h.{seq_col}"))
    d_ord = F.struct(F.col(f"d.{ts_col}"), F.col(f"d.{seq_col}"))
    h_wins = F.col(f"d.{ts_col}").isNull() | (
        F.col(f"h.{ts_col}").isNotNull() & (h_ord >= d_ord)
    )
    out = [F.coalesce(F.col(f"h.{k}"), F.col(f"d.{k}")).alias(k) for k in keys]
    for c in history.columns:
        if c in keys:
            continue
        if c == "n_upserts":
            out.append(
                (
                    F.coalesce(F.col("h.n_upserts"), F.lit(0))
                    + F.coalesce(F.col("d.n_upserts"), F.lit(0))
                ).cast("long").alias("n_upserts")
            )
        else:
            out.append(
                F.when(h_wins, F.col(f"h.{c}")).otherwise(F.col(f"d.{c}")).alias(c)
            )
    return h.join(d, cond, "full_outer").select(*out)
