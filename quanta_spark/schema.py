"""Fixed schemas for the engine.

The reference's unit of data is the schemaless ``Frame`` protobuf
envelope (reference: api/proto/v1/frame.proto:35-42 — key/value bytes,
headers map, ts, checkpoint token). We replace the opaque payload with
a typed transcript row (BASELINE.json input_hint) and keep the
envelope as an explicit typed schema so tests can pin it down.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input: multi-turn conversation / agent transcripts.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Frame-envelope analog of the reference Frame proto, used by the
# ported runner-semantics tests (reference: frame.proto:35-42 and the
# canonical test fixture runner_test.go:65-67).
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
    ]
)
