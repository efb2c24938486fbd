"""Source builders — the engine's scan operators.

The reference's source layer is a pluggable adapter registry
(source/kafka/registry.go:5-18) whose only real driver is a Sarama
Kafka consumer (source/kafka/driver_sarama.go:71-214) with
``start_from: oldest|newest`` (driver_sarama.go:57-62) and
token-bucket admission control (backpressure.go:9-85). Spark
equivalents:

- adapter registry            -> ``format(...)`` strings + this factory
- start_from oldest/newest    -> startingOffsets earliest/latest
- backpressure token bucket   -> maxFilesPerTrigger / maxOffsetsPerTrigger
  (pull-based micro-batches are inherently backpressured; the knob
  bounds per-batch intake exactly like the capped tracker,
  checkpoint.go:64-98)

File-stream sources attach ``_src_file`` (from the file-source
``_metadata`` column) so the sink can record per-partition lineage —
the Spark analog of the CheckpointToken round-trip (frame.proto:24).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quanta_spark.schema import TRANSCRIPT_SCHEMA


def read_transcripts_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of a transcript parquet directory/table."""
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)


def stream_transcripts_files(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
    schema: T.StructType | None = None,
    with_lineage: bool = True,
) -> DataFrame:
    """File-based streaming source over a parquet directory.

    ``max_files_per_trigger`` is the admission-control knob (reference:
    capped tracker, checkpoint.go:64-98 — bounds the in-flight window).
    """
    reader = spark.readStream.schema(schema or TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("latestFirst", "false").parquet(path)
    if with_lineage:
        df = df.withColumn("_src_file", F.col("_metadata.file_path"))
    return df


def stream_transcripts_json(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
    with_lineage: bool = True,
) -> DataFrame:
    """JSON-lines streaming source with the transcript schema enforced
    (no inference — schema drift fails loudly instead of silently
    widening types). Same admission-control and lineage contract as
    the parquet stream."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("latestFirst", "false").json(path)
    if with_lineage:
        df = df.withColumn("_src_file", F.col("_metadata.file_path"))
    return df


def stream_transcripts_csv(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
    with_lineage: bool = True,
) -> DataFrame:
    """CSV streaming source (header, enforced schema, proper timestamp
    parse)."""
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("latestFirst", "false").csv(path)
    if with_lineage:
        df = df.withColumn("_src_file", F.col("_metadata.file_path"))
    return df


def kafka_source_options(
    bootstrap: str,
    topics: str,
    start_from: str = "oldest",
    max_offsets_per_trigger: int | None = 30000,
) -> dict[str, str]:
    """The exact DataStreamReader options map for the Kafka source —
    factored out so the option wiring is contract-testable without a
    broker or the connector jar.

    ``start_from`` uses the reference's vocabulary and default
    (oldest/newest, source/kafka/config.go:86-88 — default oldest);
    unknown values are REJECTED like the reference's config loader
    rejects bad enums rather than guessing. The offsets cap default
    mirrors the reference's backpressure capacity of 30,000 in-flight
    frames (config.go:74-76).
    """
    if start_from not in ("oldest", "newest"):
        raise ValueError(
            f"start_from must be oldest|newest, got {start_from!r} "
            "(reference vocabulary, driver_sarama.go:57-62)"
        )
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topics,
        "startingOffsets": "earliest" if start_from == "oldest" else "latest",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def stream_kafka(  # pragma: no cover - kafka connector jar not in this image
    spark: SparkSession,
    bootstrap: str,
    topics: str,
    start_from: str = "oldest",
    max_offsets_per_trigger: int | None = 30000,
) -> DataFrame:
    """Kafka source matching the reference's consumer semantics
    (option map built and pinned by kafka_source_options)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        bootstrap, topics, start_from, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def stream_rate_transcripts(
    spark: SparkSession, rows_per_second: int = 1000, n_convs: int = 100
) -> DataFrame:
    """Synthetic unbounded transcript stream from the rate source —
    useful for soak/throughput tests without pre-generated files.
    Text is a deterministic function of the row value."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return rate.select(
        F.format_string("conv-%08d", (F.col("value") % n_convs)).alias("conv_id"),
        (F.col("value") / n_convs).cast("int").alias("turn_idx"),
        F.when((F.col("value") / n_convs).cast("int") % 2 == 0, "user")
        .otherwise("assistant")
        .alias("role"),
        F.format_string("msg %d", F.col("value")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("timestamp").alias("ts"),
    )
