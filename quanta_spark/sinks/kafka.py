"""Kafka producer sink (reference: sink/kafka/driver_sarama.go:21-48 —
async fire-and-forget producer, notably NOT ack-aware). The Spark
equivalent is ``writeStream.format("kafka")``, which IS commit-gated:
the batch's offsets commit only after the producer flush succeeds, so
this sink is strictly stronger than the reference's.

The spark-sql-kafka connector jar is not present in this environment;
the builder is import-gated and raises a clear error when absent.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# what a write to format("kafka") raises without the connector jar
# ("Failed to find data source: kafka.", Spark 4.1)
_NO_KAFKA_SOURCE = "_LEGACY_ERROR_TEMP_1140"


def kafka_payload(batch_df: DataFrame, key_col: str = "conv_id") -> DataFrame:
    """Serialize rows to the Kafka writer's (key, value) contract:
    key = the partitioning key column (preserves the reference's
    per-key partitioning, frame.proto:36), value = JSON of the full
    row. Factored out so the serialization is contract-testable on a
    plain batch DataFrame without the connector jar."""
    return batch_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*batch_df.columns)).alias("value"),
    )


def kafka_writer_options(bootstrap: str, topic: str) -> dict[str, str]:
    """The exact DataFrameWriter options map for the Kafka sink —
    factored out (like readers.kafka_source_options) so the writer
    wiring is contract-testable without a broker or the connector jar.
    Empty bootstrap/topic are rejected eagerly: the producer would
    otherwise fail at flush time, after the batch's work is done."""
    if not bootstrap or not topic:
        raise ValueError("kafka sink requires non-empty bootstrap and topic")
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
    }


def kafka_batch_writer(bootstrap: str, topic: str):
    """foreachBatch writer serializing transcript rows to Kafka via
    kafka_payload (options pinned by kafka_writer_options)."""
    opts = kafka_writer_options(bootstrap, topic)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        payload = kafka_payload(batch_df)
        try:
            payload.write.format("kafka").options(**opts).save()
        except AnalysisException as exc:
            # only a missing connector; a broker or option error propagates
            if exc.getCondition() != _NO_KAFKA_SOURCE:
                raise
            raise NotImplementedError(
                "spark-sql-kafka connector jar is not on the classpath in "
                "this environment; add org.apache.spark:spark-sql-kafka-0-10 "
                "to spark.jars.packages to enable the Kafka sink"
            ) from exc

    return write
