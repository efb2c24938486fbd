"""Streaming near-dup gate: stream==batch parity and duplicate-arrival
suppression — the contracts that make the gate usable as an ingestion
filter."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from quanta_spark.operators.dedup import neardup_index, stream_neardup_gate
from quanta_spark.streaming.engine import run_to_completion, start_pipeline


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _stream_rows(spark, pdf, op, files=3):
    import numpy as np

    from quanta_spark.datagen import stamp_arrival_order

    d = tempfile.mkdtemp(prefix="qs_sng_")
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), files)):
        path = os.path.join(d, f"p{k:04d}.parquet")
        pdf.iloc[ix].to_parquet(path, index=False)
        paths.append(path)
    stamp_arrival_order(paths)  # no ms-mtime ties in replay order
    src = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    rows: list = []
    h = start_pipeline(op(src), lambda b, i: rows.extend(b.collect()),
                       tempfile.mkdtemp(prefix="qs_sng_ckpt_"))
    run_to_completion(h)
    shutil.rmtree(d, ignore_errors=True)
    return rows


def test_stream_matches_batch_and_duplicate_arrivals_suppressed(spark):
    docs = _docs(spark).limit(200).cache()
    idx = neardup_index(docs)
    clones = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    clones["ts"] = pd.Timestamp("2024-01-01")
    # send every clone TWICE (second arrival within the watermark)
    doubled = pd.concat([clones, clones]).sort_values("doc_id").reset_index(drop=True)

    got = _stream_rows(
        spark, doubled, lambda s: stream_neardup_gate(s, idx, watermark="2 hours")
    )
    want = stream_neardup_gate(
        spark.createDataFrame(clones), idx, watermark="2 hours"
    ).collect()
    assert len(want) > 0
    # duplicate arrivals emit no second pair; stream set == batch set
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_multi_day_gate_with_index_append(spark):
    """Day 1 indexed; day 2 gated and ACCEPTED docs appended; day 3
    re-sends a day-2 accepted doc and must now catch it as a dup —
    the production loop (gate -> accept -> append) actually closes."""
    from quanta_contrib.operators.dedup import accept_and_append_index
    from quanta_spark.operators.dedup import neardup_index, stream_neardup_gate

    docs = _docs(spark).limit(120).cache()
    day1 = docs.filter(F.col("doc_id") < 60)
    idx1 = neardup_index(day1)

    # day 2: 10 clones of day-1 docs (dups) + 10 genuinely new docs
    d2_dup = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    d2_new = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 70)).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    day2 = d2_dup.union(d2_new).withColumn("ts", F.to_timestamp(F.lit("2024-01-02")))
    m2 = stream_neardup_gate(day2, idx1).cache()
    assert {r["new_doc_id"] for r in m2.collect()} >= {1000 + i for i in range(10)}
    idx2 = accept_and_append_index(idx1, day2.select("doc_id", "text"), m2)

    # day 3: clone of a day-2 ACCEPTED doc — caught only via the append
    day3 = docs.filter(F.col("doc_id") == 65).select(
        (F.col("doc_id") + 3000).alias("doc_id"), "text"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-03")))
    m3 = stream_neardup_gate(day3, idx2).collect()
    assert any(r["idx_doc_id"] == 2065 and r["jaccard"] == 1.0 for r in m3)
    # and the same probe against the UN-appended index misses it
    m3_old = stream_neardup_gate(day3, idx1).collect()
    assert not any(r["idx_doc_id"] == 2065 for r in m3_old)


def test_loop_with_nondefault_signature_config(spark):
    """The gate/index/append trio must carry a NON-default signature
    configuration (shingle_n=3, 4 bands x 16 rows) end to end — a
    mismatched append would put day-2 docs in buckets the day-3 stream
    never probes (silent duplicate leakage)."""
    from quanta_contrib.operators.dedup import accept_and_append_index
    from quanta_spark.operators.dedup import neardup_index, stream_neardup_gate

    cfg = dict(shingle_n=3, n_bands=4, rows_per_band=16)
    docs = _docs(spark).limit(80).cache()
    idx1 = neardup_index(docs.filter(F.col("doc_id") < 40), **cfg)
    day2 = (
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 50))
        .select((F.col("doc_id") + 2000).alias("doc_id"), "text")
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-02")))
    )
    m2 = stream_neardup_gate(day2, idx1, **cfg)
    idx2 = accept_and_append_index(idx1, day2.select("doc_id", "text"), m2, **cfg)
    day3 = (
        docs.filter(F.col("doc_id") == 45)
        .select((F.col("doc_id") + 3000).alias("doc_id"), "text")
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-03")))
    )
    m3 = stream_neardup_gate(day3, idx2, **cfg).collect()
    assert any(r["idx_doc_id"] == 2045 and r["jaccard"] == 1.0 for r in m3)


def test_stream_phash_gate_streaming_matches_only_clones(spark):
    """Image ingestion gate: JPEG-q75 clones of indexed images match
    exactly their original; fresh images match nothing. Runs the
    STREAMING path (file stream, dropDuplicatesWithinWatermark)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.datagen import stamp_arrival_order
    from quanta_contrib.operators import codecs
    from quanta_contrib.operators.dedup import phash_index, stream_phash_gate
    from quanta_contrib.operators.multimodal import textured_pattern
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    hist = spark.createDataFrame(
        [(d, bytearray(codecs.encode_png(textured_pattern(d)))) for d in range(30)],
        "media_id long, payload binary",
    )
    index = phash_index(hist).cache()
    index.count()

    rows = [
        (d + 300000, bytearray(codecs.encode_jpeg(textured_pattern(d), quality=75)))
        for d in range(0, 30, 5)
    ] + [
        (d + 400000, bytearray(codecs.encode_png(textured_pattern(d + 77000))))
        for d in range(0, 30, 7)
    ]
    pdf = pd.DataFrame(
        {"media_id": [r[0] for r in rows], "payload": [bytes(r[1]) for r in rows]}
    )
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.arange(len(pdf)), unit="s"
    )
    d_dir = tempfile.mkdtemp(prefix="qs_phash_gate_")
    schema = pa.schema(
        [
            pa.field("media_id", pa.int64()),
            pa.field("payload", pa.binary()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 2)):
        p = os.path.join(d_dir, f"p{k:04d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False), p
        )
        paths.append(p)
    stamp_arrival_order(paths)

    src = (
        spark.readStream.schema("media_id long, payload binary, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d_dir)
    )
    out: list = []
    h = start_pipeline(
        stream_phash_gate(src, index),
        lambda b, i: out.extend(b.collect()),
        tempfile.mkdtemp(prefix="qs_phash_gate_ckpt_"),
    )
    run_to_completion(h)
    got = {(r["new_media_id"], r["idx_media_id"]) for r in out}
    assert got == {(d + 300000, d) for d in range(0, 30, 5)}
    assert all(r["hamming"] <= 3 for r in out)
