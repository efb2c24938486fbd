"""Contract tests for the Kafka source/sink wiring and the Iceberg
MERGE statement — no broker, no connector/runtime jar needed. These
pin the option mapping against the reference's consumer semantics
(source/kafka/driver_sarama.go:57-62, config.go:74-88) and the
producer's key contract (frame.proto:36), so the untestable-in-sandbox
paths are at least wired exactly as specified."""

from __future__ import annotations

import json

import pytest

from quanta_contrib.sinks.idempotent import build_merge_sql
from quanta_spark.sinks.kafka import kafka_payload
from quanta_spark.sources.readers import kafka_source_options


def test_kafka_source_options_oldest_maps_to_earliest():
    opts = kafka_source_options("broker:9092", "turns,events")
    assert opts == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "turns,events",
        "startingOffsets": "earliest",  # oldest -> earliest
        "maxOffsetsPerTrigger": "30000",  # reference backpressure default
    }


def test_kafka_source_options_newest_and_uncapped():
    opts = kafka_source_options(
        "b:9092", "t", start_from="newest", max_offsets_per_trigger=None
    )
    assert opts["startingOffsets"] == "latest"
    assert "maxOffsetsPerTrigger" not in opts


def test_kafka_source_rejects_unknown_start_from():
    with pytest.raises(ValueError, match="oldest|newest"):
        kafka_source_options("b:9092", "t", start_from="beginning")


def test_kafka_payload_key_and_json_value(spark):
    df = spark.createDataFrame(
        [("conv-1", 0, "user", "hi")],
        "conv_id string, turn_idx int, role string, text string",
    )
    row = kafka_payload(df).first()
    assert row["key"] == "conv-1"  # per-key partitioning preserved
    assert json.loads(row["value"]) == {
        "conv_id": "conv-1",
        "turn_idx": 0,
        "role": "user",
        "text": "hi",
    }


def test_merge_sql_composite_key():
    sql = build_merge_sql("lake.transcripts", "_merge_src_7", ("conv_id", "turn_idx"))
    assert sql == (
        "MERGE INTO lake.transcripts t USING _merge_src_7 s "
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_merge_sql_requires_keys():
    with pytest.raises(ValueError, match="key column"):
        build_merge_sql("t", "s", ())


def test_kafka_writer_options_map():
    """Writer option map pinned like the source's: broker list + topic,
    empties rejected eagerly (a producer would otherwise only fail at
    flush time, after the batch's work is done)."""
    from quanta_spark.sinks.kafka import kafka_writer_options

    opts = kafka_writer_options("broker1:9092,broker2:9092", "transcripts-out")
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "topic": "transcripts-out",
    }
    with pytest.raises(ValueError):
        kafka_writer_options("", "t")
    with pytest.raises(ValueError):
        kafka_writer_options("b:9092", "")


def test_kafka_payload_roundtrips_through_json(spark):
    """The serialization leg of a broker round-trip, minus the broker
    (no jar exists in this sandbox): rows -> kafka (key, value JSON) ->
    from_json must reproduce every row bit-for-bit, so a consumer of
    the produced topic sees exactly the sink's input."""
    from pyspark.sql import functions as F

    from quanta_spark.sinks.kafka import kafka_payload

    rows = [
        ("conv-1", 0, "user", "hello — ünïcode", None),
        ("conv-1", 1, "assistant", 'quotes "and" commas, too', "search"),
        ("conv-2", 0, "user", "", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    payload = kafka_payload(df)
    assert payload.columns == ["key", "value"]
    back = payload.select(
        F.from_json("value", df.schema).alias("r"), "key"
    ).select("r.*", "key")
    got = {tuple(r[c] for c in df.columns) for r in back.collect()}
    assert got == set(rows)
    # key IS the partitioning column (per-conv ordering contract)
    keys = {r["key"] for r in back.collect()}
    assert keys == {"conv-1", "conv-2"}
