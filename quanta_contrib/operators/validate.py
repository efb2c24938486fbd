"""Batch data-quality reports: row constraints, uniqueness and
referential checks folded into one (check_name, n_violations, n_rows,
passed) frame. The streaming monitor lives in
``quanta_spark.operators.validate``."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_REPORT_COLS = ["check_name", "n_violations", "n_rows", "passed"]


def _finish(df: DataFrame) -> DataFrame:
    return df.select(
        "check_name",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def validate_rows(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Row-level checks: ``checks`` maps check_name -> VIOLATION
    predicate (true = row violates; a NULL predicate result is NOT a
    violation — SQL three-valued logic, so a null column fails its
    explicit isNull check, not every range check it appears in). All
    checks evaluate in one scan — a single aggregate of conditional
    sums (map-side partial), then a stack() unpivot of the 1-row
    result into the report shape."""
    if not checks:
        raise ValueError("validate_rows needs at least one check")
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(name)
        for name, pred in checks.items()
    ]
    row = df.agg(F.count(F.lit(1)).cast("long").alias("_n"), *aggs)
    stack_args = ", ".join(f"'{n}', `{n}`" for n in checks)
    return _finish(
        row.select(
            F.expr(
                f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)"
            ),
            F.col("_n").alias("n_rows"),
        )
    )


def uniqueness_check(df: DataFrame, cols: list[str], name: str | None = None) -> DataFrame:
    """Key-uniqueness: n_violations = rows beyond the first per
    distinct key (count - count(distinct key)). One shuffle on the
    key; both counts partial-aggregate map-side."""
    name = name or "unique_" + "_".join(cols)
    row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols])).alias(
            "_v"
        ),
    )
    return _finish(
        row.select(
            F.lit(name).alias("check_name"),
            F.col("_v").alias("n_violations"),
            F.col("_n").alias("n_rows"),
        )
    )


def referential_check(
    df: DataFrame,
    key: str,
    ref: DataFrame,
    ref_key: str,
    name: str | None = None,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Referential integrity: n_violations = rows whose ``key`` has no
    match in ``ref.ref_key`` (NULL keys count as violations — an
    orphan is an orphan). Left-anti join; the reference side is
    broadcast by default (dimensions) — pass broadcast_ref=False for a
    fact-sized reference and let AQE pick the strategy."""
    name = name or f"ref_{key}_in_{ref_key}"
    ref_keys = ref.select(F.col(ref_key).alias("_rk")).distinct()
    if broadcast_ref:
        ref_keys = F.broadcast(ref_keys)
    orphans = df.join(ref_keys, df[key] == F.col("_rk"), "left_anti")
    row = df.agg(F.count(F.lit(1)).alias("_n")).crossJoin(
        orphans.agg(F.count(F.lit(1)).alias("_v"))
    )
    return _finish(
        row.select(
            F.lit(name).alias("check_name"),
            F.col("_v").alias("n_violations"),
            F.col("_n").alias("n_rows"),
        )
    )


def constraint_report(parts: list[DataFrame]) -> DataFrame:
    """Union per-check report fragments (each already in the report
    shape) into one suite result. Each fragment is O(1) rows, so the
    union is driver-cheap no matter the input scale."""
    if not parts:
        raise ValueError("constraint_report needs at least one fragment")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*_REPORT_COLS)
