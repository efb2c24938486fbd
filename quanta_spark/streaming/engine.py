"""Streaming runtime — run/stop/resume + observability.

Maps the reference's control surface and telemetry:

- Bootstrap/Run/graceful stop (internal/engine/bootstrap.go:11-35,
  engine.go:14-25)             -> start_pipeline / StreamingQuery.stop
- Control RPC Ping/Deploy/Pause (api/proto/v1/control.proto:6-19,
  registered Unimplemented)    -> QueryHandle.status / stop / resume
- Prometheus /metrics endpoint (internal/telemetry/metrics.go:10-15 —
  registry only, no counters)  -> MetricsListener: per-batch rows/sec,
  state rows, watermark, recorded to a JSONL metrics file

Restart/resume: a new query started with the SAME checkpoint dir
resumes from the last committed batch — the Spark analog of the
reference redelivering uncommitted records after a rebalance
(driver_sarama.go:100-112), upgraded to exactly-once by the
idempotent sink.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Per-batch metrics -> JSONL (the target's 'lineage + metrics')."""

    def __init__(self, out_path: str | None = None) -> None:
        self.out_path = out_path
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "id": str(p.id),
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "durationMs": dict(p.durationMs) if p.durationMs else {},
            "stateOperators": [
                {
                    "operatorName": getattr(s, "operatorName", None),
                    "numRowsTotal": s.numRowsTotal,
                    "numRowsUpdated": s.numRowsUpdated,
                    "numRowsRemoved": getattr(s, "numRowsRemoved", None),
                    "memoryUsedBytes": getattr(s, "memoryUsedBytes", None),
                }
                for s in (p.stateOperators or [])
            ],
            "eventTime": dict(p.eventTime) if p.eventTime else {},
        }
        with self._lock:
            self.progress.append(rec)
            if self.out_path:
                with open(self.out_path, "a") as f:
                    f.write(json.dumps(rec) + "\n")

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


@dataclass
class QueryHandle:
    """Thin control handle (≙ the reference's Control service intent:
    Ping -> status, PausePipeline -> stop, DeployPipeline -> start).

    ``children`` carries companion queries started alongside the main
    one (e.g. a DLQ tee when a terminal operator consumes the main
    flow); control operations fan out to them — the analog of the
    reference's one-runner-many-sinks ownership (runner.go:192-198)."""

    query: StreamingQuery
    checkpoint_dir: str
    children: list["QueryHandle"] = field(default_factory=list)

    def status(self) -> dict:
        return {
            "isActive": self.query.isActive,
            "status": self.query.status,
            "lastProgress": self.query.lastProgress,
        }

    def process_all_available(self) -> None:
        self.query.processAllAvailable()
        for c in self.children:
            c.process_all_available()

    def stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination(60)
        for c in self.children:
            c.stop()


def checkpoint_checksum_enabled(checkpoint_dir: str) -> bool:
    """Whether Spark 4.1's checkpoint-file checksum layer should be on
    for this checkpoint location.

    The layer (ChecksumCheckpointFileManager) wraps EVERY checkpoint
    file write/read in a 2-thread pool + synchronous awaitResult; with
    32 partitions x up to 4 state stores per stateful operator it
    measured 2-3s of pure wait per micro-batch (jstack: all 32 tasks
    parked in ChecksumCheckpointFileManager$.awaitResult) — composite
    18.4s -> 8.7s with it off. On local, file:// and HDFS checkpoints
    it is also REDUNDANT: Hadoop's ChecksumFileSystem already CRCs
    every file. Object stores (s3a://, gs://, abfs://, ...) have no
    such layer, so it stays on there."""
    return urlparse(checkpoint_dir).scheme.lower() not in ("", "file", "hdfs")


def start_pipeline(
    df: DataFrame,
    sink_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    query_name: str = "quanta_pipeline",
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> QueryHandle:
    """Assemble and start: transformed stream -> foreachBatch sink.

    The trigger interval is the commit cadence — the Spark analog of
    the reference's commit_interval throttle (checkpoint.go:126-134,
    default 5s config.go:80-82): offsets commit once per batch, after
    the sink write completes (ack-gated commit, for free).
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    writer = (
        df.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    df.sparkSession.conf.set(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled",
        str(checkpoint_checksum_enabled(checkpoint_dir)).lower(),
    )
    return QueryHandle(query=writer.start(), checkpoint_dir=checkpoint_dir)


def run_to_completion(handle: QueryHandle) -> None:
    """Drain all available input then stop (test/bench helper)."""
    handle.query.processAllAvailable()
    handle.query.stop()
    handle.query.awaitTermination(120)
    for c in handle.children:
        run_to_completion(c)


def attach_metrics(spark: SparkSession, out_path: str | None = None) -> MetricsListener:
    listener = MetricsListener(out_path)
    spark.streams.addListener(listener)
    return listener


class MetricsHttpServer:
    """Pull-based /metrics endpoint over a MetricsListener — the
    working realization of the reference's Prometheus handler
    (internal/telemetry/metrics.go:10-15, an EMPTY registry: the
    endpoint exists but no counter is ever registered). Serves:

    - ``/metrics``: Prometheus text format — per-query-id gauges for
      batch id, input rows, rates, and state rows from the listener's
      LATEST progress per query;
    - ``/metrics.json``: the same, raw.

    Driver-local observability (one process serves one driver), daemon
    thread, zero cost when unused. start() picks a free port when
    ``port=0`` and returns it."""

    def __init__(self, listener: MetricsListener, port: int = 0) -> None:
        self.listener = listener
        self.port = port
        self._httpd = None
        self._thread: threading.Thread | None = None

    def _latest_by_query(self) -> dict[str, dict]:
        with self.listener._lock:
            latest: dict[str, dict] = {}
            for rec in self.listener.progress:
                latest[rec["id"]] = rec
        return latest

    def _render_prom(self) -> str:
        lines = [
            "# HELP quanta_batch_id Last completed micro-batch id",
            "# TYPE quanta_batch_id gauge",
        ]
        gauges = [
            ("quanta_batch_id", "batchId"),
            ("quanta_input_rows", "numInputRows"),
            ("quanta_input_rows_per_second", "inputRowsPerSecond"),
            ("quanta_processed_rows_per_second", "processedRowsPerSecond"),
        ]
        latest = self._latest_by_query()
        for qid, rec in sorted(latest.items()):
            for metric, key in gauges:
                val = rec.get(key)
                if val is not None:
                    lines.append(f'{metric}{{query="{qid}"}} {val}')
            state_ops = rec.get("stateOperators", [])
            state_rows = sum(s.get("numRowsTotal") or 0 for s in state_ops)
            lines.append(f'quanta_state_rows_total{{query="{qid}"}} {state_rows}')
            state_mem = sum(s.get("memoryUsedBytes") or 0 for s in state_ops)
            lines.append(f'quanta_state_memory_bytes{{query="{qid}"}} {state_mem}')
            # per-operator breakdown: the observable form of the 100 TB
            # state-size argument (SCALE.md) — watch each stateful
            # operator's rows/bytes instead of a blended total
            for i, s in enumerate(state_ops):
                op = s.get("operatorName") or str(i)
                lbl = f'query="{qid}",operator="{op}",index="{i}"'
                for metric, key in (
                    ("quanta_state_operator_rows", "numRowsTotal"),
                    ("quanta_state_operator_rows_updated", "numRowsUpdated"),
                    ("quanta_state_operator_rows_removed", "numRowsRemoved"),
                    ("quanta_state_operator_memory_bytes", "memoryUsedBytes"),
                ):
                    if s.get(key) is not None:
                        lines.append(f"{metric}{{{lbl}}} {s[key]}")
            for phase, ms in (rec.get("durationMs") or {}).items():
                lines.append(
                    f'quanta_batch_duration_ms{{query="{qid}",phase="{phase}"}} {ms}'
                )
        return "\n".join(lines) + "\n"

    def start(self) -> int:
        from http.server import BaseHTTPRequestHandler, HTTPServer

        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802
                if self.path == "/metrics":
                    body = server._render_prom().encode()
                    ctype = "text/plain; version=0.0.4"
                elif self.path == "/metrics.json":
                    body = json.dumps(server._latest_by_query()).encode()
                    ctype = "application/json"
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a) -> None:  # silence per-request noise
                pass

        self._httpd = HTTPServer(("127.0.0.1", self.port), Handler)
        self.port = self._httpd.server_port
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
