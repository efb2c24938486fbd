"""End-to-end slice (SURVEY.md §7 step 1): file-stream source ->
uppercase/annotate stage -> idempotent sink, verified against a
plain-pandas oracle (exact per-turn text equality) and across a
forced restart (exactly-once: no dup, no loss).

Oracle semantics: the reference example plugin uppercases non-JSON
payloads (examples/transformers/uppercase/main.go:61-97).
"""

from __future__ import annotations

import os

import pandas as pd

from quanta_spark.datagen import GenSpec, generate
from quanta_spark.operators.stages import apply_chain
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sources.readers import stream_transcripts_files
from quanta_spark.streaming.engine import (
    checkpoint_checksum_enabled,
    run_to_completion,
    start_pipeline,
)


def _oracle(spec: GenSpec) -> pd.DataFrame:
    """Plain-pandas reference semantics: uppercase every text."""
    df = generate(spec).drop(columns=["arrival_ts"])
    df["text"] = df["text"].str.upper()
    return df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_uppercase_pipeline_matches_oracle(spark, transcripts_dir, small_spec, tmp_workdir):
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=4)
    out = apply_chain(src, ["uppercase"])
    handle = start_pipeline(
        out, sink, os.path.join(tmp_workdir, "ckpt"), trigger_available_now=False
    )
    # a local checkpoint runs without Spark's redundant checksum layer
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false"
    run_to_completion(handle)

    got = (
        sink.read_data(spark)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = _oracle(small_spec)

    assert len(got) == len(want), "row count mismatch"
    # exact per-turn text equality under stable (conv_id, turn_idx) order
    pd.testing.assert_series_equal(
        got["text"].astype(str), want["text"].astype(str), check_names=False
    )
    pd.testing.assert_series_equal(
        got["conv_id"].astype(str), want["conv_id"].astype(str), check_names=False
    )
    # no duplicate keys
    assert not got.duplicated(["conv_id", "turn_idx"]).any()


def test_checkpoint_checksum_follows_uri_scheme():
    """Hadoop-backed checkpoints already CRC every file; object stores
    do not, so only they keep Spark's checkpoint checksum layer."""
    assert checkpoint_checksum_enabled("/tmp/x") is False
    assert checkpoint_checksum_enabled("file:///tmp/x") is False
    assert checkpoint_checksum_enabled("hdfs://nn:8020/ckpt") is False
    assert checkpoint_checksum_enabled("s3a://bucket/ckpt") is True


def test_restart_resumes_exactly_once(spark, transcripts_dir, small_spec, tmp_workdir):
    """Process part of the stream, stop, restart from the same
    checkpoint, drain — assert no duplicates and no loss (the
    reference's commit-semantics contract, upgraded to exactly-once:
    checkpoint.go contiguity at batch granularity)."""
    ckpt = os.path.join(tmp_workdir, "ckpt")
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))

    # phase 1: one file per trigger, stop after a couple of batches
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=1)
    out = apply_chain(src, ["uppercase"])
    h1 = start_pipeline(out, sink, ckpt, processing_time="0 seconds")
    import time as _t

    deadline = _t.time() + 120
    while len(sink.batches_seen) < 3 and _t.time() < deadline:
        _t.sleep(0.1)
    h1.stop()
    assert len(sink.batches_seen) >= 3

    # phase 2: resume from the same checkpoint, drain everything
    src2 = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=4)
    out2 = apply_chain(src2, ["uppercase"])
    h2 = start_pipeline(out2, sink, ckpt)
    run_to_completion(h2)

    got = sink.read_data(spark).select("conv_id", "turn_idx").toPandas()
    want = generate(small_spec)
    assert not got.duplicated(["conv_id", "turn_idx"]).any(), "duplicates after restart"
    assert len(got) == len(want), "loss after restart"

    # lineage: every source file appears in exactly one committed batch
    lin = sink.read_lineage(spark).toPandas()
    per_file = lin.groupby("src_partition")["batch_id"].nunique()
    assert (per_file == 1).all(), "a source file was committed in two batches"
    n_files = len([f for f in os.listdir(transcripts_dir) if f.endswith(".parquet")])
    assert lin["src_partition"].nunique() == n_files, "missing source files in lineage"
    assert int(lin["n_rows"].sum()) == len(want)


def test_metrics_http_endpoint_scrapes(spark, transcripts_dir, tmp_workdir):
    """Pull-based /metrics: after a drained run, the endpoint serves
    Prometheus gauges (and raw JSON) from the listener's latest
    per-query progress — the working realization of the reference's
    empty /metrics registry (internal/telemetry/metrics.go:10-15)."""
    import json as _json
    import urllib.request

    from quanta_spark.streaming.engine import MetricsHttpServer, attach_metrics

    listener = attach_metrics(spark)
    server = MetricsHttpServer(listener)
    port = server.start()
    try:
        sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
        src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=4)
        run_to_completion(
            start_pipeline(apply_chain(src, ["uppercase"]), sink,
                           os.path.join(tmp_workdir, "ckpt"))
        )
        text = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=10
        ).read().decode()
        assert "quanta_batch_id{" in text
        assert "quanta_input_rows{" in text
        assert "quanta_state_memory_bytes{" in text
        assert "quanta_batch_duration_ms{" in text
        raw = _json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics.json", timeout=10
        ).read().decode())
        assert raw and all("batchId" in rec for rec in raw.values())
        assert sum(rec["numInputRows"] for rec in raw.values()) >= 0
        # 404 for anything else
        import urllib.error
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/other", timeout=10)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.stop()
        spark.streams.removeListener(listener)


def test_metrics_state_operator_gauges(spark, transcripts_dir, tmp_workdir):
    """Stateful queries must surface per-operator state rows/bytes as
    Prometheus gauges — the observable form of the 100 TB state-size
    argument (SCALE.md)."""
    import urllib.request

    from quanta_spark.operators.windows import sessionize
    from quanta_spark.streaming.engine import MetricsHttpServer, attach_metrics

    listener = attach_metrics(spark)
    server = MetricsHttpServer(listener)
    port = server.start()
    try:
        rows: list = []
        src = stream_transcripts_files(
            spark, transcripts_dir, max_files_per_trigger=4, with_lineage=False
        )
        h = start_pipeline(
            sessionize(src, gap="30 minutes", watermark="1 hour"),
            lambda b, i: rows.extend(b.collect()),
            os.path.join(tmp_workdir, "ckpt_state"),
        )
        run_to_completion(h)
        text = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=10
        ).read().decode()
        assert 'quanta_state_operator_rows{' in text
        assert 'quanta_state_operator_memory_bytes{' in text
        assert 'operator="' in text
    finally:
        server.stop()
        spark.streams.removeListener(listener)
