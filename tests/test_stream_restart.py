"""Crash-replay coverage for every stateful streaming operator that
did not already have a restart test: the near-dup ingestion gate, IVF
streaming ingestion, turn-order enforcement, and session windows.
Each test kills the query mid-stream and restarts a NEW query on the
same checkpoint; the union of both runs' outputs must equal the batch
answer with no duplicate and no loss — the exactly-once contract the
reference pins for its commit path (internal/runner/runner_test.go:
restart/redelivery cases), here carried by Spark's state store +
file-source offset log.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from quanta_spark.datagen import copy_arrival_ordered, stamp_arrival_order
from quanta_spark.streaming.engine import run_to_completion, start_pipeline


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _write_doc_file(path, pdf):
    schema = pa.schema(
        [
            pa.field("doc_id", pa.int64()),
            pa.field("text", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path
    )
    stamp_arrival_order([path])  # mtime-ordered arrival (no ms-tie replays)


def test_neardup_gate_restart_suppresses_pre_crash_arrivals(spark, tmp_workdir):
    """Kill the gate between a document's FIRST arrival and its
    duplicate re-arrival: the restarted query must still suppress the
    re-arrival (dropDuplicatesWithinWatermark state survives the
    checkpoint), and clones first seen after the restart must still
    match. Union of both runs == batch gate over each doc once."""
    from quanta_spark.operators.dedup import neardup_index, stream_neardup_gate

    docs = _docs(spark).limit(200).cache()
    idx = neardup_index(docs).cache()
    idx.count()

    base = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    ts = pd.Timestamp("2024-01-01")
    wave1 = base[base.doc_id % 7 == 0][["doc_id", "text"]].copy()
    wave1["doc_id"] += 10_000
    wave1["ts"] = ts
    wave2 = base[base.doc_id % 7 == 3][["doc_id", "text"]].copy()
    wave2["doc_id"] += 20_000
    wave2["ts"] = ts

    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)
    _write_doc_file(os.path.join(d, "p0000.parquet"), wave1)

    rows: list = []

    def build():
        src = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_neardup_gate(src, idx, watermark="2 hours")

    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    n_first = len(rows)
    assert n_first > 0, "wave-1 clones must match before the crash"

    # crash happened; wave 1 re-arrives (same ts -> inside the
    # watermark) plus a brand-new wave, and a NEW query resumes
    _write_doc_file(os.path.join(d, "p0001.parquet"), wave1)
    _write_doc_file(os.path.join(d, "p0002.parquet"), wave2)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    run_to_completion(h2)
    assert len(rows) > n_first, "post-restart wave produced nothing"

    got = sorted((r["new_doc_id"], r["idx_doc_id"]) for r in rows)
    once = pd.concat([wave1, wave2]).reset_index(drop=True)
    want = sorted(
        (r["new_doc_id"], r["idx_doc_id"])
        for r in stream_neardup_gate(
            spark.createDataFrame(once), idx, watermark="2 hours"
        ).collect()
    )
    assert got == want  # no pair duplicated across the restart, none lost


def test_ivf_ingest_restart_no_dup_no_loss_windows(spark, tmp_workdir):
    """Kill streaming IVF ingestion mid-stream (some 6h windows
    already finalized, one held open in state) and restart on the same
    checkpoint: finalized windows must not re-emit, the held window's
    partial counts must survive and absorb post-restart vectors, and
    the final (window, cell) counts must equal the batch assignment."""
    from quanta_contrib.operators.similarity import _ivf_centroids, stream_ivf_ingest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _, cent_mat = _ivf_centroids(emb, 16)

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    # 500 vecs x 120s apart = ~16.7h of event time; the first half
    # (~8.3h) pushes the watermark past the first 6h window boundary,
    # so run 1 finalizes window [0,6h) before the crash
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        pdf["vec_id"] * 120, unit="s"
    )
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("embedding", pa.list_(pa.float32())),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    d = os.path.join(tmp_workdir, "vecs")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)
    parts = np.array_split(np.arange(len(pdf)), 4)

    def write_part(k, frame):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(frame, schema=schema, preserve_index=False),
            path,
        )
        stamp_arrival_order([path])

    for k in (0, 1):
        write_part(k, pdf.iloc[parts[k]])

    rows: list = []

    def build():
        src = (
            spark.readStream.schema("vec_id long, embedding array<float>, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_ivf_ingest(src, cent_mat, window="6 hours", watermark="1 hour")

    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    n_first = len(rows)
    assert n_first > 0, "first 6h window must finalize before the crash"

    for k in (2, 3):
        write_part(k, pdf.iloc[parts[k]])
    hb = pdf.iloc[[0]].copy()
    hb["vec_id"] = -1
    hb["ts"] = pdf["ts"].max() + pd.Timedelta(days=30)
    write_part(9999, hb)

    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    run_to_completion(h2)

    got = (
        pd.DataFrame([r.asDict() for r in rows])
        .query("window_start <= @pdf.ts.max()")  # drop the heartbeat's window
        .sort_values(["window_start", "cell_id"])
        .reset_index(drop=True)
    )
    assert not got.duplicated(["window_start", "cell_id"]).any(), (
        "a finalized window re-emitted after restart"
    )

    static = spark.createDataFrame(pdf[["vec_id", "embedding", "ts"]])
    want = (
        stream_ivf_ingest(static, cent_mat, window="6 hours", watermark="1 hour")
        .toPandas()
        .sort_values(["window_start", "cell_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["window_start", "cell_id", "n_vectors"]],
        want[["window_start", "cell_id", "n_vectors"]],
    )


def test_turn_order_restart_preserves_buffer_and_order(spark, tmp_workdir):
    """Crash turn-order enforcement while out-of-order turns sit in
    the reorder buffer: the restarted query must emit every buffered
    turn exactly once and per-conversation emission must stay
    contiguous in turn_idx ACROSS the restart boundary."""

    from quanta_spark.datagen import (
        HEARTBEAT_CONV,
        GenSpec,
        generate,
        write_heartbeat_file,
        write_transcripts,
    )
    from quanta_spark.operators.stateful import enforce_turn_order
    from quanta_spark.sources.readers import stream_transcripts_files

    spec = GenSpec(n_convs=40, mean_turns=10, seed=45, late_frac=0.0,
                   shuffle_frac=0.25)
    full_dir = os.path.join(tmp_workdir, "full")
    data_dir = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    write_transcripts(full_dir, spec, n_files=8)
    os.makedirs(data_dir)
    files = sorted(os.listdir(full_dir))
    copy_arrival_ordered(full_dir, data_dir, files[:4])

    rows: list = []

    def build():
        src = stream_transcripts_files(
            spark, data_dir, max_files_per_trigger=1, with_lineage=False
        )
        return enforce_turn_order(src, watermark="1 hour")

    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    n_first = len(rows)
    assert n_first > 0

    copy_arrival_ordered(full_dir, data_dir, files[4:])
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h2.process_all_available()
    write_heartbeat_file(
        data_dir, generate(spec)["ts"].max() + pd.Timedelta(days=30)
    )
    run_to_completion(h2)
    assert len(rows) > n_first

    emitted: dict[str, list[int]] = {}
    for r in rows:  # rows appended in emission order across both runs
        if r["conv_id"] != HEARTBEAT_CONV:
            emitted.setdefault(r["conv_id"], []).append(r["turn_idx"])
    sizes = generate(spec).groupby("conv_id").size()
    assert set(emitted) == set(sizes.index.astype(str))
    for conv, idxs in emitted.items():
        assert idxs == list(range(len(idxs))), (
            f"{conv}: emission broke order across restart: {idxs[:10]}"
        )
        assert len(idxs) == sizes[conv]


def test_session_windows_restart_merges_across_crash(spark, tmp_workdir):
    """Crash session-window aggregation with sessions still OPEN in
    the state store; post-restart turns must extend those sessions
    (not start new ones), and the final output must equal the batch
    gaps-and-islands oracle with no window duplicated or lost."""

    from test_windows import _pandas_sessions

    from quanta_spark.datagen import (
        HEARTBEAT_CONV,
        GenSpec,
        generate,
        write_heartbeat_file,
        write_transcripts,
    )
    from quanta_spark.operators.windows import sessionize
    from quanta_spark.sources.readers import stream_transcripts_files

    spec = GenSpec(n_convs=40, mean_turns=8, seed=47, late_frac=0.0,
                   shuffle_frac=0.1)
    full_dir = os.path.join(tmp_workdir, "full")
    data_dir = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    write_transcripts(full_dir, spec, n_files=6)
    os.makedirs(data_dir)
    files = sorted(os.listdir(full_dir))
    copy_arrival_ordered(full_dir, data_dir, files[:3])

    rows: list = []

    def build():
        src = stream_transcripts_files(
            spark, data_dir, max_files_per_trigger=2, with_lineage=False
        )
        return sessionize(src, gap="30 minutes", watermark="1 hour")

    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()

    copy_arrival_ordered(full_dir, data_dir, files[3:])
    pdf_all = generate(spec)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h2.process_all_available()
    write_heartbeat_file(data_dir, pdf_all["ts"].max() + pd.Timedelta(days=30))
    run_to_completion(h2)

    got = (
        pd.DataFrame([r.asDict() for r in rows])
        .query("conv_id != @HEARTBEAT_CONV")
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    assert not got.duplicated(["conv_id", "session_start"]).any()
    want = _pandas_sessions(pdf_all.drop(columns=["arrival_ts"]))
    assert len(got) == len(want)
    assert (got["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all()
    assert (got["n_turns"].to_numpy() == want["n_turns"].to_numpy()).all()
    assert (
        got["session_start"].to_numpy() == want["session_start"].to_numpy()
    ).all()


def test_conv_dedup_gate_restart_fingerprints_span_crash(spark, tmp_workdir):
    """Crash the conversation dedup gate with sessions OPEN in the
    state store; turns arriving after restart must extend those
    sessions, so the fingerprint of a session whose turns SPAN the
    crash still equals the batch fingerprint — the union of both runs'
    matches must equal the batch join exactly (no dup, no loss, no
    split-session false fingerprints)."""
    from quanta_spark.datagen import (
        HEARTBEAT_CONV,
        GenSpec,
        copy_arrival_ordered,
        generate,
        write_heartbeat_file,
        write_transcripts,
    )
    from quanta_contrib.operators.dedup import (
        _session_fingerprint,
        session_fingerprint_index,
        stream_conv_dedup_gate,
    )
    from quanta_spark.sources.readers import stream_transcripts_files

    spec = GenSpec(n_convs=30, mean_turns=8, seed=53, late_frac=0.0,
                   shuffle_frac=0.0)
    full_dir = os.path.join(tmp_workdir, "full")
    data_dir = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    write_transcripts(full_dir, spec, n_files=6)
    os.makedirs(data_dir)
    files = sorted(os.listdir(full_dir))

    batch = spark.createDataFrame(generate(spec).drop(columns=["arrival_ts"]))
    index = session_fingerprint_index(batch, gap="30 minutes").cache()
    index.count()
    want = {
        (r["conv_id"], r["fp"])
        for r in _session_fingerprint(batch, "30 minutes", 3)
        .join(index, "fp")
        .select("conv_id", "fp")
        .collect()
    }
    assert len(want) > 10  # fixture actually produces substantive sessions

    rows: list = []

    def build():
        src = stream_transcripts_files(
            spark, data_dir, max_files_per_trigger=2, with_lineage=False
        )
        return stream_conv_dedup_gate(src, index, gap="30 minutes")

    copy_arrival_ordered(full_dir, data_dir, files[:3])
    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()

    copy_arrival_ordered(full_dir, data_dir, files[3:])
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h2.process_all_available()
    write_heartbeat_file(
        data_dir, generate(spec)["ts"].max() + pd.Timedelta(days=30)
    )
    run_to_completion(h2)

    got = [
        (r["new_conv_id"], r["fp"])
        for r in rows
        if r["new_conv_id"] != HEARTBEAT_CONV
    ]
    assert len(got) == len(set(got))  # exactly-once: no duplicate emission
    assert set(got) == want


def test_quality_monitor_restart_no_dup_no_loss_windows(spark, tmp_workdir):
    """Kill the streaming DQ monitor while a day window is still open;
    the restarted query must keep accumulating into that window's
    state and emit each (window, check) row EXACTLY once with counts
    covering BOTH runs' rows. Union of both runs == batch replay."""
    from quanta_spark.operators.validate import stream_quality_monitor

    checks = {"short": F.length("text") < 6}
    day1 = pd.Timestamp("2024-03-01")
    wave1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["abc", "long enough text", "xy"],
            "ts": [day1, day1 + pd.Timedelta(hours=1), day1 + pd.Timedelta(hours=2)],
        }
    )
    # wave 2 lands IN THE SAME DAY WINDOW (state must span the crash)
    # plus a later day that closes everything via the final file
    wave2 = pd.DataFrame(
        {
            "doc_id": [4, 5],
            "text": ["zz", "also long enough"],
            "ts": [day1 + pd.Timedelta(hours=3), day1 + pd.Timedelta(days=5)],
        }
    )
    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)
    _write_doc_file(os.path.join(d, "p0000.parquet"), wave1)

    rows: list = []

    def build():
        src = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_quality_monitor(src, checks, window="1 day", watermark="1 hour")

    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    # crash: nothing may have been emitted yet (day-1 window still open)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    _write_doc_file(os.path.join(d, "p0001.parquet"), wave2)
    run_to_completion(h2)

    got = {
        (r["window_start"], r["check_name"]): (r["n_violations"], r["n_rows"])
        for r in rows
        if r["window_start"] <= pd.Timestamp("2024-03-02")
    }
    # day-1 window: 4 rows total ACROSS the crash, 3 short
    assert got == {(day1, "short"): (3, 4)}
    assert len([r for r in rows if r["window_start"] <= pd.Timestamp("2024-03-02")]) == 1


def test_stream_gapfill_restart_no_dup_no_gap_loss(spark, tmp_workdir):
    """Kill the streaming gap filler mid-series: ticks emitted before
    the crash must not re-emit, the LOCF carry must survive the
    checkpoint (gaps straddling the restart still fill with the
    pre-crash value), and the union of both runs must equal the batch
    gapfill spine exactly."""
    from quanta_contrib.operators.stateful import stream_gapfill_locf
    from quanta_contrib.operators.timeseries import gapfill

    step_h = 6
    t0 = pd.Timestamp("2024-01-01")
    # key 1: obs at hours 0 and 36 PRE-crash, 60 POST-crash -> the
    # 42/48/54h gaps must fill with the hour-36 value carried ACROSS
    # the restart; key 2 only appears post-crash
    wave1 = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [t0, t0 + pd.Timedelta(hours=36)],
            "value": [10.0, 20.0],
        }
    )
    # key 2's events sit ABOVE wave-1's watermark (hour 35): a new key
    # is still subject to the global event-time watermark, so earlier
    # ts here would be (correctly) dropped as late
    wave2 = pd.DataFrame(
        {
            "user_id": [1, 2, 2],
            "ts": [
                t0 + pd.Timedelta(hours=60),
                t0 + pd.Timedelta(hours=42),
                t0 + pd.Timedelta(hours=54),
            ],
            "value": [30.0, 5.0, 7.0],
        }
    )
    hb = pd.DataFrame(
        {"user_id": [-1], "ts": [t0 + pd.Timedelta(days=30)], "value": [0.0]}
    )

    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)

    def _write(name, pdf):
        schema = pa.schema(
            [
                pa.field("user_id", pa.int64()),
                pa.field("ts", pa.timestamp("us")),
                pa.field("value", pa.float64()),
            ]
        )
        p = os.path.join(d, name)
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p)
        stamp_arrival_order([p])

    def build():
        src = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_gapfill_locf(src, bucket=f"{step_h} hours", watermark="1 hour")

    rows: list = []
    _write("p0000.parquet", wave1)
    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    n_first = len(rows)

    _write("p0001.parquet", wave2)
    _write("p0002.parquet", hb)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    run_to_completion(h2)
    assert len(rows) > n_first

    got = sorted(
        (r["user_id"], r["tick"], r["value"], r["value_locf"], r["is_gap"])
        for r in rows
        if r["user_id"] >= 0
    )
    assert len(got) == len(set(got)), "a tick re-emitted across the restart"
    once = pd.concat([wave1, wave2], ignore_index=True)
    batch = gapfill(
        spark.createDataFrame(once), bucket=f"{step_h} hours"
    ).select("user_id", "tick", "value", "value_locf", "is_gap")
    want = sorted(
        (r["user_id"], r["tick"], r["value"], r["value_locf"], r["is_gap"])
        for r in batch.collect()
    )
    assert got == want
    # the straddling gap carried the pre-crash value
    carried = [r for r in got if r[0] == 1 and r[4] and r[3] == 20.0]
    assert len(carried) == 3  # hours 42, 48, 54


def test_stream_topk_terms_restart_exactly_once_finals(spark, tmp_workdir):
    """Kill the streaming top-k mid-stream: a window finalized before
    the crash must not re-emit after the restart (and a late row for
    it must stay dropped), a window OPEN across the crash must merge
    its pre- and post-crash counts from checkpointed state, and the
    union of both runs must equal the batch count+rank plan."""
    from quanta_contrib.operators.stateful import stream_topk_terms

    t0 = pd.Timestamp("2024-01-01")
    h = pd.Timedelta(hours=1)
    # window A = [0,6h), window B = [6h,12h). wave 1 fills A and puts
    # one B row at 8h, advancing the watermark to 7h -> A finalizes
    # (top-2 of alpha x2, beta x1) BEFORE the crash.
    wave1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta", "alpha", "gamma"],
            "ts": [t0 + 1 * h, t0 + 2 * h, t0 + 8 * h],
        }
    )
    # post-restart: more B rows (state for B must have survived: gamma
    # pre-crash + gamma/delta/eps here -> top-2 = gamma x2, delta x1
    # on the count-desc/term-asc total order), plus a LATE row aimed
    # at the already-final window A (ts=5h < wm=7h) that must be
    # dropped before the stateful operator, never resurrecting A.
    wave2 = pd.DataFrame(
        {
            "doc_id": [4, 5, 6],
            "text": ["gamma delta", "epsilon", "alpha alpha alpha"],
            "ts": [t0 + 9 * h, t0 + 10 * h, t0 + 5 * h],
        }
    )
    hb = pd.DataFrame(
        {"doc_id": [-1], "text": ["hb"], "ts": [t0 + pd.Timedelta(days=30)]}
    )

    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)

    def build():
        src = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_topk_terms(src, k=2, window="6 hours", watermark="1 hour")

    rows: list = []
    _write_doc_file(os.path.join(d, "p0000.parquet"), wave1)
    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    finals_first = sorted((r["window_start"], r["term"], r["n"], r["rank"]) for r in rows)
    assert finals_first == [
        (t0, "alpha", 2, 1),
        (t0, "beta", 1, 2),
    ], "window A must finalize (top-2) before the crash"

    _write_doc_file(os.path.join(d, "p0001.parquet"), wave2)
    _write_doc_file(os.path.join(d, "p0002.parquet"), hb)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    run_to_completion(h2)

    got = sorted(
        (r["window_start"], r["term"], r["n"], r["rank"])
        for r in rows
        if r["window_start"] <= t0 + 12 * h
    )
    assert len(got) == len(set(got)), "a window's top-k re-emitted across the restart"
    # batch twin over exactly the rows a correct stream keeps: wave1 +
    # wave2 minus the late doc 6 (dropped by the 7h watermark)
    once = pd.concat([wave1, wave2[wave2["doc_id"] != 6]], ignore_index=True)
    batch = stream_topk_terms(
        spark.createDataFrame(once), k=2, window="6 hours", watermark="1 hour"
    )
    want = sorted(
        (r["window_start"], r["term"], r["n"], r["rank"]) for r in batch.collect()
    )
    assert got == want
    assert (t0 + 6 * h, "gamma", 2, 1) in got, "window B state must span the crash"
    assert not any(w == t0 and t == "alpha" and n == 5 for w, t, n, _ in got), (
        "the late post-crash row resurrected an already-final window"
    )


def test_stream_rollup_ingest_restart_folds_exactly_once(spark, tmp_workdir):
    """Kill the continuous-aggregate ingest mid-stream and restart on
    the same checkpoint: Structured Streaming replays the in-flight
    batch, the sink's generation marker makes the replay a no-op, and
    the final committed rollup equals the full-scan answer exactly —
    including a LATE row (no watermark: a rollup folds late data
    instead of dropping it)."""
    from quanta_spark.operators.rollup import rollup_aggregate
    from quanta_spark.sinks.rollup import RollupSink

    t0 = pd.Timestamp("2024-01-01")
    h = pd.Timedelta(hours=1)
    wave1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["aaaa", "bb", "cccccc"],
            "ts": [t0, t0 + h, t0 + 2 * h],
        }
    )
    # includes a row 50 h EARLIER than anything in wave 1's tail — a
    # windowed operator's watermark would drop it; the rollup must not
    wave2 = pd.DataFrame(
        {
            "doc_id": [4, 5],
            "text": ["ddddd", "e"],
            "ts": [t0 + 60 * h, t0 + 10 * h],
        }
    )
    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)
    sink = RollupSink(
        base_dir=os.path.join(tmp_workdir, "rollup"),
        keys=("k",),
        value_col="value",
        distinct_col="doc_id",
    )

    def build():
        src = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return src.select(
            F.lit("turns").alias("k"),
            F.col("doc_id"),
            F.length("text").cast("double").alias("value"),
        )

    _write_doc_file(os.path.join(d, "p0000.parquet"), wave1)
    h1 = start_pipeline(build(), sink, ckpt)
    h1.process_all_available()
    h1.stop()
    mid = sink.read_rollup(spark).collect()[0]
    assert mid["n"] == 3 and mid["sum_e6"] == 12_000_000

    _write_doc_file(os.path.join(d, "p0001.parquet"), wave2)
    sink2 = RollupSink(  # fresh process: in-memory history gone, marker on disk
        base_dir=sink.base_dir, keys=("k",), value_col="value", distinct_col="doc_id"
    )
    h2 = start_pipeline(build(), sink2, ckpt)
    run_to_completion(h2)

    got = sink2.read_rollup(spark).collect()[0]
    once = pd.concat([wave1, wave2], ignore_index=True)
    want = rollup_aggregate(
        spark.createDataFrame(once).select(
            F.lit("turns").alias("k"),
            "doc_id",
            F.length("text").cast("double").alias("value"),
        ),
        ["k"],
        "value",
        distinct_col="doc_id",
    ).collect()[0]
    for c in ("n", "sum_e6", "min_v", "max_v"):
        assert got[c] == want[c], (c, got[c], want[c])
    assert got["n"] == 5  # the late row folded
    est = spark.createDataFrame([(got["hll"],)], "hll binary").select(
        F.hll_sketch_estimate("hll").alias("e")
    ).first()["e"]
    assert est == 5


def test_stream_cusum_restart_carry_and_exactly_once_alarms(spark, tmp_workdir):
    """Kill the CUSUM monitor mid-drift: the carry accumulated before
    the crash must survive the checkpoint (the alarm that needs pre-
    AND post-crash contributions fires at the right row), pre-crash
    alarms must not re-emit, and the union equals the batch fold."""
    from quanta_spark.operators.stateful import stream_cusum

    t0 = pd.Timestamp("2024-01-01")
    m = pd.Timedelta(minutes=10)
    # target 0, slack 0, threshold 50 (x1e4): doc 1 trips at row 3
    # (20+20+20 = 60 > 50) and resets; rows 4-5 accumulate a carry of
    # 40 (no trip) BEFORE the crash; the post-crash row (+30 => 70)
    # trips ONLY if the 40-unit carry survived the restart.
    pre = pd.DataFrame(
        {
            "doc_id": [1] * 5,
            "text": ["x"] * 5,
            "ts": [t0 + i * m for i in range(5)],
        }
    ).assign(value=[20.0, 20.0, 20.0, 20.0, 20.0])
    post = pd.DataFrame(
        {"doc_id": [1, 1], "text": ["x", "x"], "ts": [t0 + 5 * m, t0 + 30 * m]}
    ).assign(value=[30.0, 0.0])
    hb = pd.DataFrame(
        {"doc_id": [2], "text": ["hb"], "ts": [t0 + pd.Timedelta(days=30)]}
    ).assign(value=[0.0])

    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)

    def _write(name, pdf):
        schema = pa.schema(
            [
                pa.field("doc_id", pa.int64()),
                pa.field("text", pa.string()),
                pa.field("ts", pa.timestamp("us")),
                pa.field("value", pa.float64()),
            ]
        )
        p = os.path.join(d, name)
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p)
        stamp_arrival_order([p])

    def build():
        src = (
            spark.readStream.schema("doc_id long, text string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_cusum(
            src,
            key_col="doc_id",
            ts_col="ts",
            value_col="value",
            target=0.0,
            slack=0.0,
            threshold=50.0,
            watermark="10 minutes",
        )

    rows: list = []
    _write("p0000.parquet", pre)
    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    n_pre = len(rows)

    _write("p0001.parquet", post)
    _write("p0002.parquet", hb)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    run_to_completion(h2)

    got = sorted((r["doc_id"], r["ts"], r["side"], r["stat"]) for r in rows)
    assert len(got) == len(set(got)), "an alarm re-emitted across the restart"
    once = pd.concat([pre, post], ignore_index=True)
    batch = stream_cusum(
        spark.createDataFrame(once),
        key_col="doc_id",
        ts_col="ts",
        value_col="value",
        target=0.0,
        slack=0.0,
        threshold=50.0,
    )
    want = sorted((r["doc_id"], r["ts"], r["side"], r["stat"]) for r in batch.collect())
    assert got == want
    # the second alarm needs the 40-unit carry from BEFORE the crash
    assert (1, (t0 + 5 * m).to_pydatetime(), "up", 700_000) in got
    assert len(got) > n_pre


def test_stream_temporal_join_restart_carries_dim_value(spark, tmp_workdir):
    """Kill the temporal join mid-stream: the dimension value set
    BEFORE the crash must enrich a post-crash event (carry spans the
    checkpoint), a pre-crash event still buffered at crash time must
    emit exactly once with a dim update that only ARRIVES after the
    restart (but is inside the watermark horizon), and the union
    equals the batch fold."""
    from quanta_spark.operators.stateful import stream_temporal_join

    t0 = pd.Timestamp("2024-01-01")
    m = pd.Timedelta(minutes=10)
    # dim alpha @0m; evt seq1 @+10m (ripe pre-crash -> 'alpha');
    # dim beta @+20m (folds pre-crash, becomes the CARRY);
    # evt seq2 @+80m (buffered: wm after wave1 = 80-30 = +50m)
    wave1 = pd.DataFrame(
        {
            "seq": [0, 1, 2, 9],
            "is_dim": [True, False, False, True],
            "attr": ["alpha", None, None, "beta"],
            "ts": [t0, t0 + m, t0 + 8 * m, t0 + 2 * m],
        }
    )
    # post-restart, all inside the +50m watermark horizon:
    # evt seq5 @+55m -> needs the carried 'beta';
    # dim gamma @+60m -> must apply to the BUFFERED pre-crash seq2;
    # evt seq4 @+90m -> 'gamma'
    wave2 = pd.DataFrame(
        {
            "seq": [5, 3, 4],
            "is_dim": [False, True, False],
            "attr": [None, "gamma", None],
            "ts": [t0 + 5.5 * m, t0 + 6 * m, t0 + 9 * m],
        }
    )
    hb = pd.DataFrame(
        {"seq": [99], "is_dim": [False], "attr": [None], "ts": [t0 + pd.Timedelta(days=30)]}
    )

    d = os.path.join(tmp_workdir, "in")
    ckpt = os.path.join(tmp_workdir, "ckpt")
    os.makedirs(d)

    def _write(name, pdf):
        pdf = pdf.assign(conv_id="c1")
        schema = pa.schema(
            [
                pa.field("seq", pa.int64()),
                pa.field("is_dim", pa.bool_()),
                pa.field("attr", pa.string()),
                pa.field("ts", pa.timestamp("us")),
                pa.field("conv_id", pa.string()),
            ]
        )
        p = os.path.join(d, name)
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p)
        stamp_arrival_order([p])

    def build():
        src = (
            spark.readStream.schema(
                "seq long, is_dim boolean, attr string, ts timestamp, conv_id string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return stream_temporal_join(src, watermark="30 minutes")

    rows: list = []
    _write("p0000.parquet", wave1)
    h1 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    h1.process_all_available()
    h1.stop()
    assert sorted((r["seq"], r["attr_at_ts"]) for r in rows) == [(1, "alpha")]

    _write("p0001.parquet", wave2)
    _write("p0002.parquet", hb)
    h2 = start_pipeline(build(), lambda b, i: rows.extend(b.collect()), ckpt)
    run_to_completion(h2)

    got = sorted((r["seq"], r["attr_at_ts"]) for r in rows if r["seq"] < 90)
    assert len(got) == len(set(r[0] for r in got)), "an event emitted twice"
    once = pd.concat([wave1, wave2], ignore_index=True).assign(conv_id="c1")
    batch = stream_temporal_join(spark.createDataFrame(once))
    want = sorted((r["seq"], r["attr_at_ts"]) for r in batch.collect())
    assert got == want
    d_got = dict(got)
    assert d_got[1] == "alpha"
    assert d_got[5] == "beta"   # the pre-crash carry enriched it
    assert d_got[2] == "gamma"  # post-crash dim applied to the
    #                             buffered pre-crash event
    assert d_got[4] == "gamma"
