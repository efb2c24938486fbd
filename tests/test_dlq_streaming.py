"""Dead-letter routing end to end in a STREAMING pipeline: a stage that
fails on a subset of rows must route EXACTLY those rows (payload
intact) to the DLQ in the same commit while every innocent row in the
same Arrow batch flows to the data sink — the engine's explicit
upgrade of the reference's silent drop+ack (runner.go:147-156,
README.md:75), at the reference's single-frame granularity via
bisection."""

from __future__ import annotations

import os

import pandas as pd

from quanta_spark.datagen import generate
from quanta_spark.operators.stages import RetryPolicy, Stage, apply_chain, register
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sources.readers import stream_transcripts_files
from quanta_spark.streaming.engine import run_to_completion, start_pipeline

POISON = "conv-00000007"


def test_partial_failure_dead_letters_only_poison_rows(
    spark, transcripts_dir, small_spec, tmp_workdir
):
    def picky(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic partial failure: any batch slice containing a
        # poison-conversation turn blows up (like a plugin crashing on
        # a malformed payload) — bisection must isolate those rows.
        if (pdf["conv_id"] == POISON).any():
            raise ValueError("poison conversation")
        return pdf

    register(Stage(name="picky", batch_fn=picky, retry=RetryPolicy(attempts=1, backoff_ms=1)))
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=2)
    h = start_pipeline(
        apply_chain(src, ["picky"]), sink, os.path.join(tmp_workdir, "ckpt")
    )
    run_to_completion(h)

    data = sink.read_data(spark).toPandas()
    dlq = sink.read_dlq(spark).toPandas()
    gen = generate(small_spec)
    total = len(gen)

    assert len(data) + len(dlq) == total, "rows lost between data and DLQ"
    # single-frame granularity: the DLQ holds the poison conversation's
    # rows and NOTHING else; innocents in the same Arrow batch commit.
    assert set(dlq["conv_id"]) == {POISON}
    assert POISON not in set(data["conv_id"])
    assert (dlq["_error"].str.contains("poison")).all()
    assert len(dlq) == int((gen["conv_id"] == POISON).sum())
    # no duplicates anywhere
    both = pd.concat([data[["conv_id", "turn_idx"]], dlq[["conv_id", "turn_idx"]]])
    assert not both.duplicated().any()


def test_streaming_media_decode_routes_corrupt_blob_to_dlq(spark, tmp_workdir):
    """decode_media(strict=False) in a STREAMING pipeline: a corrupt
    blob arriving mid-stream becomes one DLQ row in the same commit —
    the query never dies and later batches keep decoding (the 100 TB
    stance VERDICT r05 ask #3 asked for; in strict mode the same blob
    would poison every replay of its batch)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.datagen import stamp_arrival_order
    from quanta_contrib.operators.codecs import encode_bmp
    from quanta_contrib.operators.multimodal import decode_media

    d = os.path.join(tmp_workdir, "media_in")
    os.makedirs(d)

    def blob(mid: int) -> bytes:
        g = np.full((8, 8, 3), (mid * 37) % 256, dtype=np.uint8)
        return encode_bmp(g)

    def write_file(k: int, rows: list[tuple[int, bytes]]) -> None:
        t = pa.table(
            {
                "media_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "payload": pa.array([r[1] for r in rows], type=pa.binary()),
            }
        )
        p = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(t, p)
        stamp_arrival_order([p])

    write_file(0, [(i, blob(i)) for i in range(4)])
    write_file(1, [(4, blob(4)), (5, b"BM\x00\x01"), (6, blob(6))])  # poison mid-file
    write_file(2, [(i, blob(i)) for i in range(7, 10)])

    src = (
        spark.readStream.schema("media_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    h = start_pipeline(
        decode_media(src, strict=False), sink, os.path.join(tmp_workdir, "ckpt")
    )
    run_to_completion(h)

    data = sink.read_data(spark).toPandas()
    dlq = sink.read_dlq(spark).toPandas()
    assert sorted(data["media_id"]) == [0, 1, 2, 3, 4, 6, 7, 8, 9]
    assert list(dlq["media_id"]) == [5]
    assert dlq["_error"].str.startswith("decode_media:").all()
    # post-poison batches kept decoding: file 2's rows are in data
    assert {7, 8, 9} <= set(data["media_id"])
