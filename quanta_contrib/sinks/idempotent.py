"""Iceberg MERGE variant of the idempotent sink: the statement builder
is unit-testable without the runtime jar; the writer raises cleanly
when the Iceberg extensions are not configured."""

from __future__ import annotations

from pyspark.sql import DataFrame


def build_merge_sql(table: str, source_view: str, key_cols: tuple[str, ...]) -> str:
    """The MERGE statement used by the Iceberg writer — factored so the
    generated SQL is unit-testable without the runtime jar. Idempotent
    under replay: matched keys update to identical values, unmatched
    insert; replaying a batch is a no-op rewrite."""
    if not key_cols:
        raise ValueError("MERGE requires at least one key column")
    on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def merge_write_iceberg(  # pragma: no cover - requires iceberg runtime jar
    batch_df: DataFrame, batch_id: int, table: str, key_cols: tuple[str, ...]
) -> None:
    """Cluster-grade variant: MERGE INTO an Iceberg table keyed by
    ``key_cols`` (statement built by build_merge_sql). Requires
    iceberg-spark-runtime on the classpath; raises cleanly when
    absent."""
    spark = batch_df.sparkSession
    if "org.apache.iceberg" not in spark.conf.get(
        "spark.sql.extensions", ""
    ):
        raise NotImplementedError(
            "Iceberg runtime jar not on classpath in this environment; "
            "use IdempotentSink (parquet-by-batch-dir) which provides the "
            "same exactly-once contract."
        )
    view = f"_merge_src_{batch_id}"
    batch_df.createOrReplaceTempView(view)
    spark.sql(build_merge_sql(table, view, key_cols))
