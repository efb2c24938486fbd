"""Rollup read path and the last-writer-wins fold, on the engine's
mergeable rollup state (``quanta_spark.operators.rollup``):

- ``rollup_quantiles`` answers per-group percentiles from a rollup's
  ``hist`` column without touching raw rows;
- ``latest_aggregate`` / ``latest_merge`` are a mergeable
  last-writer-wins snapshot of a changelog, for ``FoldSink``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quanta_spark.operators.rollup import ROLLUP_METRICS, _floor_div


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
