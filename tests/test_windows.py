"""Window operators vs plain-pandas oracles (SURVEY.md §5 item 4):
the same query in batch on the full input == union of streaming
micro-batch outputs at final watermark.
"""

from __future__ import annotations

import os

import pandas as pd

from quanta_spark.datagen import (
    HEARTBEAT_CONV,
    GenSpec,
    generate,
    write_heartbeat_file,
    write_transcripts,
)
from quanta_spark.operators.windows import sessionize, sliding_turn_stats, tumbling_turn_stats
from quanta_spark.sources.readers import read_transcripts_batch, stream_transcripts_files
from quanta_spark.streaming.engine import run_to_completion, start_pipeline

GAP_S = 1800


def _pandas_sessions(pdf: pd.DataFrame, gap_s: int = GAP_S) -> pd.DataFrame:
    """Gaps-and-islands oracle: session = maximal run of turns with
    inter-turn gap <= gap_s; session_end = last ts + gap (Spark's
    session_window convention)."""
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).copy()
    gap = pdf.groupby("conv_id")["ts"].diff().dt.total_seconds()
    pdf["sess"] = ((gap > gap_s) | gap.isna()).groupby(pdf["conv_id"]).cumsum()
    g = pdf.groupby(["conv_id", "sess"])
    out = g.agg(
        session_start=("ts", "min"),
        session_end=("ts", "max"),
        n_turns=("ts", "size"),
        first_turn=("turn_idx", "min"),
        last_turn=("turn_idx", "max"),
    ).reset_index()
    out["session_end"] = out["session_end"] + pd.Timedelta(seconds=gap_s)
    return out.drop(columns=["sess"]).sort_values(
        ["conv_id", "session_start"]
    ).reset_index(drop=True)


def test_batch_session_windows_match_pandas_oracle(spark, transcripts_dir, small_spec):
    df = read_transcripts_batch(spark, transcripts_dir)
    got = (
        sessionize(df, gap="30 minutes")
        .select("conv_id", "session_start", "session_end", "n_turns", "first_turn", "last_turn")
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    want = _pandas_sessions(generate(small_spec).drop(columns=["arrival_ts"]))
    pd.testing.assert_frame_equal(
        got.astype({"n_turns": "int64"}),
        want[got.columns].astype({"n_turns": "int64"}),
        check_dtype=False,
    )
    # the generator guarantees some conversations split into >1 session
    assert (got.groupby("conv_id").size() > 1).any()


def test_batch_tumbling_matches_pandas_oracle(spark, transcripts_dir, small_spec):
    df = read_transcripts_batch(spark, transcripts_dir)
    got = (
        tumbling_turn_stats(df, window="10 minutes")
        .toPandas()
        .sort_values(["window_start"])
        .reset_index(drop=True)
    )
    pdf = generate(small_spec)
    pdf["window_start"] = pdf["ts"].dt.floor("10min")
    want = (
        pdf.groupby("window_start")
        .agg(
            n_turns=("ts", "size"),
            n_convs=("conv_id", "nunique"),
            n_user=("role", lambda s: (s == "user").sum()),
        )
        .reset_index()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n_turns"].to_numpy() == want["n_turns"].to_numpy()).all()
    assert (got["n_convs"].to_numpy() == want["n_convs"].to_numpy()).all()
    assert (got["n_user"].to_numpy() == want["n_user"].to_numpy()).all()
    assert ((got["window_end"] - got["window_start"]).dt.total_seconds() == 600).all()


def test_sliding_window_multiplicity(spark, transcripts_dir):
    """Each event lands in window/slide = 2 overlapping windows."""
    df = read_transcripts_batch(spark, transcripts_dir)
    total = df.count()
    slid = sliding_turn_stats(df, window="10 minutes", slide="5 minutes").toPandas()
    assert int(slid["n_turns"].sum()) == 2 * total


def test_streaming_session_windows_equal_batch(spark, small_spec, tmp_workdir):
    """Streaming session windows at final watermark == batch sessionize
    on the punctual subset (late rows beyond the watermark are dropped
    deterministically — the correctness contract)."""
    # punctual data only: late rows would be dropped by the stream but
    # kept by batch, so generate with late_frac=0 for the equality run.
    spec = GenSpec(
        n_convs=40, mean_turns=8, seed=43, late_frac=0.0, shuffle_frac=0.1
    )
    data_dir = os.path.join(tmp_workdir, "in")
    write_transcripts(data_dir, spec, n_files=6)

    rows = []

    def collect(batch_df, batch_id):
        rows.extend(batch_df.collect())

    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=2, with_lineage=False
    )
    agg = sessionize(src, gap="30 minutes", watermark="1 hour")
    h = start_pipeline(agg, collect, os.path.join(tmp_workdir, "ckpt"))
    h.process_all_available()
    # heartbeat pushes the watermark past every real session end
    pdf_all = generate(spec)
    write_heartbeat_file(data_dir, pdf_all["ts"].max() + pd.Timedelta(days=30))
    run_to_completion(h)

    got = (
        pd.DataFrame([r.asDict() for r in rows])
        .query("conv_id != @HEARTBEAT_CONV")
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    want = _pandas_sessions(pdf_all.drop(columns=["arrival_ts"]))
    assert len(got) == len(want)
    assert (got["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all()
    assert (got["n_turns"].to_numpy() == want["n_turns"].to_numpy()).all()
    assert (
        got["session_start"].to_numpy() == want["session_start"].to_numpy()
    ).all()


def test_gate_harness_row_budget_fails_loudly(monkeypatch):
    """The collect-based streaming gate harness must refuse inputs past
    its driver-side budget instead of OOMing (VERDICT r3 #8)."""
    import pytest

    from quanta_contrib import queries as q

    monkeypatch.setattr(q, "GATE_HARNESS_MAX_ROWS", 10)
    with pytest.raises(RuntimeError, match="driver-side budget"):
        q._guard_gate_rows(11, "input stream")
    q._guard_gate_rows(10, "input stream")  # at the budget is fine


def test_label_sessions_consistent_with_sessionize(spark, transcripts_dir):
    """Row-level labels and the aggregate sessionizer must agree: per
    conversation, (number of distinct session_idx) == (number of
    session rows), and labels are 0-based contiguous."""
    from pyspark.sql import functions as F

    from quanta_spark.operators.windows import sessionize
    from quanta_contrib.operators.windows import label_sessions
    from quanta_spark.sources.readers import read_transcripts_batch

    df = read_transcripts_batch(spark, transcripts_dir).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    labeled = label_sessions(df, gap="30 minutes")
    per_conv = (
        labeled.groupBy("conv_id")
        .agg(
            F.countDistinct("session_idx").alias("n_lbl"),
            F.min("session_idx").alias("mn"),
            F.max("session_idx").alias("mx"),
        )
    )
    agg = sessionize(df, gap="30 minutes").groupBy("conv_id").count()
    j = per_conv.join(agg, "conv_id").collect()
    assert len(j) > 0
    for r in j:
        assert r["n_lbl"] == r["count"], r
        assert r["mn"] == 0 and r["mx"] == r["n_lbl"] - 1, r
