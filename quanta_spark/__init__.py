"""quanta_spark — a PySpark-native streaming/CEP analytics engine.

A from-scratch rebuild of the capabilities of the reference engine
(mohsanabbas/quanta, a Go/Kafka/gRPC event-pipeline runner — see
/root/reference) on Apache Spark Structured Streaming, plus the
relational / windowed / stateful operator surface the target spec
requires (BASELINE.json north_rule).

Design stance (SURVEY.md §7): keep the reference's *pipeline
semantics* — ordered transform stages with status routing
(OK/DROP/ERROR), ack-gated exactly-once commits, bounded in-flight,
per-key ordering — and realize them with idiomatic Spark primitives:

- reference gRPC plugin stage  -> vectorized pandas/Arrow UDF stage
  (reference: internal/pipeline/runner.go:120-200)
- reference checkpoint tracker -> Structured Streaming offset/commit
  log + idempotent foreachBatch sink with per-partition lineage
  (reference: source/kafka/checkpoint.go:17-135)
- reference backpressure       -> maxFilesPerTrigger / maxOffsetsPerTrigger
  (reference: source/kafka/backpressure.go:9-85)
"""

__version__ = "0.1.0"

import sys

from quanta_spark.session import get_spark, pin_zip_directories  # noqa: F401

if "pyspark.worker" in sys.modules:
    # inside a pyspark Python worker: one pin per worker process
    pin_zip_directories()
