"""Stdout sink — the reference's debugging sink
(sink/stdout/driver.go:50-89: logs topic/partition/offset/seq plus a
truncated value per frame; acks are batched by size or timer,
flushLocked :106-116). Spark analog: one foreachBatch print per
micro-batch — ack batching IS the micro-batch (offsets commit after
this returns), and the truncated row dump mirrors the reference's
``value`` truncation (driver.go:60-66)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from quanta_spark.streaming.engine import PROGRESS_RING


class StdoutSink:
    """foreachBatch writer printing a bounded, truncated batch view.

    ``delay_ms`` per batch mirrors the reference's optional per-frame
    delay knob (driver.go:51-53, used to exercise backpressure in
    demos) at batch granularity."""

    def __init__(self, max_rows: int = 20, truncate: int = 60, delay_ms: int = 0) -> None:
        self.max_rows = max_rows
        self.truncate = truncate
        self.delay_ms = delay_ms
        # (batch_id, n_rows) of the last PROGRESS_RING batches
        self.batches: list[tuple[int, int]] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        if self.delay_ms:
            time.sleep(self.delay_ms / 1000.0)
        # count and show read one computation of the batch; a batch
        # FanoutSink already cached keeps its cache
        owned = batch_df.storageLevel == StorageLevel.NONE
        if owned:
            batch_df.persist()
        try:
            n = batch_df.count()
            self.batches.append((batch_id, n))
            del self.batches[:-PROGRESS_RING]
            print(f"[stdout-sink] batch={batch_id} rows={n}")
            batch_df.show(self.max_rows, truncate=self.truncate)
        finally:
            if owned:
                batch_df.unpersist()
