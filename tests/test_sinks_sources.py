"""Sink fan-out (reference: multi-sink push, runner.go:192-198), the
rate synthetic source, and approximate-aggregate accuracy bounds."""

from __future__ import annotations

import os
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from quanta_spark.datagen import generate
from quanta_spark.operators.stages import apply_chain
from quanta_spark.sinks.fanout import FanoutSink
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sources.readers import stream_rate_transcripts, stream_transcripts_files
from quanta_spark.streaming.engine import run_to_completion, start_pipeline


def test_fanout_sink_single_commit(spark, transcripts_dir, small_spec, tmp_workdir):
    a = IdempotentSink(base_dir=os.path.join(tmp_workdir, "a"))
    b = IdempotentSink(base_dir=os.path.join(tmp_workdir, "b"))
    counts, levels = [], []

    def probe(df, bid):
        # a nested IdempotentSink must leave the fan-out's cache in place
        levels.append(df.storageLevel)
        counts.append(df.count())

    fan = FanoutSink(a, b, probe)
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=4)
    h = start_pipeline(apply_chain(src, ["uppercase"]), fan, os.path.join(tmp_workdir, "ckpt"))
    run_to_completion(h)

    total = len(generate(small_spec))
    assert a.read_data(spark).count() == total
    assert b.read_data(spark).count() == total
    assert sum(counts) == total
    # both sinks committed the same batch ids (one commit unit)
    assert sorted(a.batches_seen) == sorted(b.batches_seen)
    assert a.batches_seen
    assert levels and all(lv != StorageLevel.NONE for lv in levels), levels
    la = a.read_lineage(spark).select("batch_id").distinct().toPandas()
    lb = b.read_lineage(spark).select("batch_id").distinct().toPandas()
    assert set(la.batch_id) == set(lb.batch_id)


def test_stdout_sink_computes_each_batch_once(spark, capsys):
    """count and show read one computation of the batch: a counting
    pandas stage sees every input row once, and a batch that a fan-out
    already cached keeps its cache."""
    import pandas as pd

    from quanta_spark.operators.stages import Stage
    from quanta_spark.sinks.console import StdoutSink

    seen = spark.sparkContext.accumulator(0)

    def counting(pdf: pd.DataFrame) -> pd.DataFrame:
        seen.add(len(pdf))
        return pdf

    src = spark.range(200).selectExpr("CAST(id AS STRING) AS conv_id", "'x' AS text")
    batch = apply_chain(src.repartition(4), [Stage(name="count-rows", batch_fn=counting)])
    # show() must read the whole batch: a Python task that a row limit
    # cuts short reports no accumulator updates
    sink = StdoutSink(max_rows=500)
    sink(batch, 0)
    assert seen.value == 200
    assert sink.batches == [(0, 200)]
    assert batch.storageLevel == StorageLevel.NONE
    cached = batch.persist()
    try:
        sink(cached, 1)
        assert cached.storageLevel != StorageLevel.NONE
    finally:
        cached.unpersist()
    assert "[stdout-sink] batch=0 rows=200" in capsys.readouterr().out


def test_compaction_preserves_data_and_survives_partials(
    spark, transcripts_dir, small_spec, tmp_workdir
):
    """Small-file compaction: batch dirs -> one generation dir behind
    an atomic manifest. Before/after row sets identical (incl.
    batch_id), new batches after compaction remain visible, a second
    compaction folds them in, and an orphaned gen dir WITHOUT a
    manifest (crash before the commit point) is invisible."""
    import shutil

    import pandas as pd

    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=2)
    run_to_completion(
        start_pipeline(apply_chain(src, ["uppercase"]), sink, os.path.join(tmp_workdir, "c1"))
    )

    def snapshot() -> pd.DataFrame:
        return (
            sink.read_data(spark)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )

    before = snapshot()
    assert before["batch_id"].nunique() >= 2, "need multiple batches to compact"

    # crash-before-commit: an orphan gen dir must be ignored
    os.makedirs(os.path.join(sink.base_dir, "gen=99"))
    pd.testing.assert_frame_equal(snapshot(), before)
    shutil.rmtree(os.path.join(sink.base_dir, "gen=99"))

    def lineage() -> pd.DataFrame:
        lin = sink.read_lineage(spark).toPandas()
        return lin.sort_values(["batch_id", "src_partition"]).reset_index(drop=True)

    lineage_before = lineage()
    m1 = sink.compact(spark, target_file_bytes=1 << 20)
    assert m1["gen"] == 0
    after = snapshot()
    pd.testing.assert_frame_equal(after, before)
    pd.testing.assert_frame_equal(lineage(), lineage_before)
    assert not any(
        n.startswith("batch_id=") for n in os.listdir(sink.data_dir)
    ), "covered batch dirs must be deleted after the manifest commit"

    # new batches after compaction stay visible...
    next_id = int(before["batch_id"].max()) + 1
    from datetime import datetime

    extra = spark.createDataFrame(
        [("conv-zz", 0, "user", "late row", None, datetime(2025, 6, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    sink(extra, next_id)
    mid = snapshot()
    assert len(mid) == len(before) + 1
    # ...and a second compaction folds them into gen=1
    m2 = sink.compact(spark)
    assert m2["gen"] == 1 and next_id in m2["covered"]
    assert not os.path.isdir(os.path.join(sink.base_dir, "gen=0"))
    pd.testing.assert_frame_equal(snapshot(), mid)
    # idempotent no-op when nothing new
    assert sink.compact(spark) == m2

    # crash between manifest commit and cleanup: leaked covered batch
    # dirs and a stale gen dir must be re-deleted even on the
    # nothing-new early return (they'd otherwise leak forever)
    covered_id = m2["covered"][0]
    leaked_batch = os.path.join(sink.data_dir, f"batch_id={covered_id}")
    leaked_gen = os.path.join(sink.base_dir, "gen=0")
    os.makedirs(leaked_batch)
    os.makedirs(leaked_gen)
    assert sink.compact(spark) == m2
    assert not os.path.isdir(leaked_batch)
    assert not os.path.isdir(leaked_gen)
    pd.testing.assert_frame_equal(snapshot(), mid)


def _batch_frame(spark, rows):
    """A chained batch as the sink receives it: (conv_id, turn_idx,
    text, status, error) tuples."""
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, _status string, _error string"
    )


def test_compaction_ignores_a_batch_committed_meanwhile(spark, tmp_workdir, monkeypatch):
    """A batch the stream commits while compact() runs, after compact
    listed the batch dirs, stays out of the new generation: the
    manifest does not cover it, so readers read it from its own dir,
    once."""
    import quanta_spark.sinks.idempotent as idem

    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    sink(_batch_frame(spark, [("c0", 0, "a", "OK", None)]), 0)
    real_list_ids = idem.list_ids
    pending = [1]

    def list_then_commit(parent, prefix):
        ids = real_list_ids(parent, prefix)
        if parent == sink.data_dir and pending:
            sink(_batch_frame(spark, [("c1", 0, "b", "OK", None)]), pending.pop())
        return ids

    monkeypatch.setattr(idem, "list_ids", list_then_commit)
    assert sink.compact(spark)["covered"] == [0]
    monkeypatch.undo()
    got = sink.read_data(spark).select("conv_id", "turn_idx").collect()
    assert sorted(tuple(r) for r in got) == [("c0", 0), ("c1", 0)]


@pytest.mark.parametrize("key_cols, n_jobs", [((), 1), (("conv_id", "turn_idx"), 2)])
def test_clean_sink_call_is_one_write_job(spark, transcripts_dir, tmp_workdir, key_cols, n_jobs):
    """A clean batch costs one write job: no persist, no separate DLQ
    or lineage write. With key dedup, AQE runs the dedup's shuffle map
    stage as a job of its own before the write."""
    sc = spark.sparkContext
    src = spark.read.parquet(transcripts_dir).withColumn("_src_file", F.input_file_name())
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"), key_cols=key_cols)
    group = f"qs-sink-call-{len(key_cols)}"
    sc.setJobGroup(group, "one clean sink call")
    try:
        sink(apply_chain(src, ["uppercase"]), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_jobs
    assert sink.read_data(spark).count() == src.count()
    assert not os.path.exists(sink.dlq_dir)


def test_readers_without_dlq_batches(spark, tmp_workdir):
    """Clean batches leave no dlq/ dir: read_dlq is then empty with the
    data files' columns plus _batch_id, and a fresh sink reads empty."""
    fresh = IdempotentSink(base_dir=os.path.join(tmp_workdir, "fresh"))
    assert fresh.read_dlq(spark).count() == 0
    assert fresh.read_lineage(spark).count() == 0

    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "clean"))
    sink(_batch_frame(spark, [("c1", 0, "a", "OK", None), ("c1", 1, "b", "OK", None)]), 0)
    dlq = sink.read_dlq(spark)
    assert dlq.count() == 0
    data_cols = spark.read.parquet(os.path.join(sink.data_dir, "batch_id=0")).columns
    assert set(dlq.columns) == set(data_cols) | {"batch_id", "_batch_id"}
    lin = sink.read_lineage(spark).collect()
    assert [(r.batch_id, r.src_partition, r.n_rows) for r in lin] == [(0, "batch", 2)]


def test_replayed_batch_removes_stale_dlq_dir(spark, tmp_workdir):
    """A batch re-run after a failed attempt replaces BOTH of that
    attempt's outputs, so a DLQ dir from an attempt with a poison row
    does not survive a clean re-run."""
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    clean = [("c1", 0, "a", "OK", None), ("c1", 1, "b", "OK", None)]
    sink(_batch_frame(spark, clean + [("c2", 0, "x", "ERROR", "stage=s: boom")]), 3)
    assert sink.read_dlq(spark).count() == 1
    sink(_batch_frame(spark, clean), 3)
    assert not os.path.exists(os.path.join(sink.dlq_dir, "batch_id=3"))
    got = sink.read_data(spark).select("conv_id", "turn_idx", "text").collect()
    assert sorted(tuple(r) for r in got) == [(c, t, x) for c, t, x, _, _ in clean]


def test_dlq_rows_survive_key_dedup(spark, tmp_workdir):
    """Key dedup applies to OK rows only: dead-letter rows sharing a
    key with each other or with an OK row are all kept."""
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    sink(
        _batch_frame(
            spark,
            [
                ("c1", 0, "a", "OK", None),
                ("c1", 0, "a", "OK", None),
                ("c1", 0, "a", "ERROR", "stage=s: one"),
                ("c1", 0, "a", "ERROR", "stage=s: two"),
            ],
        ),
        0,
    )
    assert sink.read_data(spark).count() == 1
    assert sorted(r._error for r in sink.read_dlq(spark).collect()) == [
        "stage=s: one",
        "stage=s: two",
    ]


def test_lineage_counts_committed_rows(spark, tmp_workdir):
    """Lineage is derived from the committed rows: a key duplicate
    dropped within the batch is not counted, dead-letter rows are."""
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    rows = [
        ("c1", 0, "a", "OK", None, "a.parquet"),
        ("c1", 0, "a", "OK", None, "a.parquet"),
        ("c1", 1, "b", "OK", None, "a.parquet"),
        ("c2", 0, "x", "ERROR", "stage=s: boom", "b.parquet"),
    ]
    schema = "conv_id string, turn_idx int, text string, _status string, _error string, _src_file string"
    sink(spark.createDataFrame(rows, schema), 0)
    lin = sink.read_lineage(spark).collect()
    got = sorted((r.batch_id, r.src_partition, r.min_offset, r.max_offset, r.n_rows) for r in lin)
    assert got == [(0, "a.parquet", 0, 1, 2), (0, "b.parquet", 0, 0, 1)]
    assert all(r.committed_at is not None for r in lin)


def test_json_and_csv_stream_sources_match_parquet(spark, small_spec, tmp_workdir):
    """The same transcripts streamed from JSON-lines and CSV must land
    identically to the parquet stream (schema enforced, timestamps
    parsed, lineage attached)."""
    import pandas as pd

    from quanta_spark.datagen import generate

    pdf = generate(small_spec).drop(columns=["arrival_ts"])
    jdir = os.path.join(tmp_workdir, "json")
    cdir = os.path.join(tmp_workdir, "csv")
    os.makedirs(jdir)
    os.makedirs(cdir)
    jpdf = pdf.copy()
    jpdf["ts"] = jpdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
    jpdf.to_json(os.path.join(jdir, "part-0.json"), orient="records", lines=True)
    cpdf = pdf.copy()
    cpdf["ts"] = cpdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
    cpdf.to_csv(os.path.join(cdir, "part-0.csv"), index=False)

    for fmt, d in [("json", jdir), ("csv", cdir)]:
        rows: list = []
        src = stream_transcripts_files(spark, d, max_files_per_trigger=None, fmt=fmt)
        h = start_pipeline(
            src, lambda b, i: rows.extend(b.collect()),
            os.path.join(tmp_workdir, f"ckpt_{os.path.basename(d)}"),
        )
        run_to_completion(h)
        got = (
            pd.DataFrame([r.asDict() for r in rows])
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        assert len(got) == len(pdf)
        want = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert (got["text"] == want["text"]).all()
        assert (got["ts"].dt.floor("s") == want["ts"].dt.floor("s")).all()
        assert got["_src_file"].str.endswith((".json", ".csv")).all()


def test_rate_source_produces_transcript_rows(spark, tmp_workdir):
    src = stream_rate_transcripts(spark, rows_per_second=500, n_convs=10)
    assert src.isStreaming
    assert src.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    rows = []
    h = start_pipeline(
        src,
        lambda b, i: rows.extend(b.collect()),
        os.path.join(tmp_workdir, "ckpt"),
        processing_time="0 seconds",
    )
    deadline = time.time() + 30
    while not rows and time.time() < deadline:
        time.sleep(0.2)
    h.stop()
    assert rows, "rate source produced nothing in 30s"
    r = rows[0]
    assert r["conv_id"].startswith("conv-")
    assert r["role"] in ("user", "assistant")


def test_approx_distinct_within_rsd(spark):
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact = li.select(F.count_distinct("l_partkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_partkey", 0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd margin


def test_cli_validate_and_drain(spark, transcripts_dir, tmp_workdir, capsys):
    import json as _json

    from quanta_spark.cli import main as cli_main

    spec_path = os.path.join(tmp_workdir, "p.yml")
    with open(spec_path, "w") as f:
        f.write(f"""
schema_version: v1
pipeline:
  name: cli-e2e
  source: {{kind: parquet-stream, path: {transcripts_dir}, max_files_per_trigger: 8}}
  transformers: [{{name: uppercase}}]
  sink: {{kind: idempotent-parquet, path: {tmp_workdir}/out}}
  checkpoint: {tmp_workdir}/ckpt
  trigger: available_now
""")
    assert cli_main(["validate", spec_path]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "ok" and out["pipeline"] == "cli-e2e"

    assert cli_main(["run", spec_path, "--drain"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "drained"
    got = spark.read.parquet(os.path.join(tmp_workdir, "out", "data", "batch_id=*"))
    assert got.count() > 0


def test_cli_replay_recovers_dlq(spark, transcripts_dir, small_spec, tmp_workdir, capsys):
    """The `replay` CLI verb: run a pipeline whose stage poisons one
    conversation (rows dead-letter), "fix the bug" (remove the poison
    flag), replay via the CLI — recovered rows committed, DLQ empty."""
    import json as _json

    from quanta_spark.cli import main as cli_main
    from quanta_spark.operators.stages import RetryPolicy, Stage, register

    poison_flag = os.path.join(tmp_workdir, "POISON_ON")
    open(poison_flag, "w").close()

    def flaky(pdf):
        if os.path.exists(poison_flag) and (pdf["conv_id"] == "conv-00000003").any():
            raise ValueError("flaky stage")
        return pdf

    register(Stage(name="flaky-cli", batch_fn=flaky, retry=RetryPolicy(attempts=0, backoff_ms=1)))
    spec_path = os.path.join(tmp_workdir, "p.yml")
    with open(spec_path, "w") as f:
        f.write(f"""
schema_version: v1
pipeline:
  name: cli-replay
  source: {{kind: parquet-stream, path: {transcripts_dir}, max_files_per_trigger: 4}}
  transformers: [{{name: flaky-cli}}]
  sink: {{kind: idempotent-parquet, path: {tmp_workdir}/out}}
  checkpoint: {tmp_workdir}/ckpt
  trigger: available_now
""")
    assert cli_main(["run", spec_path, "--drain"]) == 0
    capsys.readouterr()
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "out"))
    n_poison = sink.read_dlq(spark).count()
    assert n_poison > 0

    os.remove(poison_flag)  # "the bug is fixed"
    assert cli_main(["replay", spec_path]) == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["status"] == "ok"
    assert report["replay"]["data"]["recovered"] == n_poison
    assert report["replay"]["data"]["still_failed"] == 0
    assert sink.read_dlq(spark).count() == 0
    data = sink.read_data(spark).toPandas()
    assert not data.duplicated(["conv_id", "turn_idx"]).any()
    assert len(generate(small_spec)) == len(data)


def test_time_travel_read_as_of(spark, transcripts_dir, tmp_workdir):
    """Snapshot reads: read_data_as_of(b) returns exactly the rows of
    batches <= b, the answer is IDENTICAL before and after compaction
    (batch_id survives as a column), and snapshots() lists every
    committed batch id even after its dir is folded into a gen."""
    import pandas as pd

    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "tt"))
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=2)
    run_to_completion(
        start_pipeline(apply_chain(src, ["uppercase"]), sink, os.path.join(tmp_workdir, "ttc"))
    )
    snaps = sink.snapshots()
    assert len(snaps) >= 2
    full = sink.read_data(spark).toPandas()

    def as_of(b):
        return (
            sink.read_data_as_of(spark, b)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )

    mid = snaps[len(snaps) // 2 - 1] if len(snaps) > 1 else snaps[0]
    before = {b: as_of(b) for b in (snaps[0], mid, snaps[-1])}
    # monotone growth and exact per-batch attribution
    for b, pdf in before.items():
        assert set(pdf["batch_id"].unique()) <= {s for s in snaps if s <= b}
        assert len(pdf) == int((full["batch_id"] <= b).sum())
    assert len(before[snaps[-1]]) == len(full)
    # compaction must not change any snapshot answer
    sink.compact(spark, target_file_bytes=1 << 20)
    assert sink.snapshots() == snaps
    for b, pdf in before.items():
        pd.testing.assert_frame_equal(as_of(b), pdf)


def test_sink_additive_schema_evolution(spark, tmp_workdir):
    """A new column appearing in a later batch must not break reads:
    older batches surface it as NULL (Iceberg add-column semantics),
    before AND after compaction, and time travel to a pre-evolution
    snapshot still answers."""
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "evo"), key_cols=())
    b0 = spark.createDataFrame(
        [("c-1", 0, "hello")], "conv_id string, turn_idx int, text string"
    )
    b1 = spark.createDataFrame(
        [("c-1", 1, "world", "gpt-x")],
        "conv_id string, turn_idx int, text string, model string",
    )
    sink(b0, 0)
    sink(b1, 1)

    def check():
        pdf = sink.read_data(spark).toPandas().sort_values("turn_idx")
        assert "model" in pdf.columns
        assert pdf["model"].tolist()[0] is None or pdf["model"].isna().iloc[0]
        assert pdf["model"].tolist()[1] == "gpt-x"
        old = sink.read_data_as_of(spark, 0).toPandas()
        assert len(old) == 1 and old["text"].iloc[0] == "hello"

    check()
    sink.compact(spark, target_file_bytes=1 << 20)
    check()


def test_cli_compact_and_snapshots(spark, transcripts_dir, tmp_workdir, capsys):
    """Sink maintenance as an operator action: run a drained pipeline,
    then `snapshots` and `compact` via the CLI; snapshot ids are
    unchanged by compaction and the manifest covers them."""
    import json as _json

    from quanta_spark.cli import main as cli_main

    spec_path = os.path.join(tmp_workdir, "pc.yml")
    with open(spec_path, "w") as f:
        f.write(f"""
schema_version: v1
pipeline:
  name: cli-compact
  source: {{kind: parquet-stream, path: {transcripts_dir}, max_files_per_trigger: 2}}
  transformers: [{{name: uppercase}}]
  sink: {{kind: idempotent-parquet, path: {tmp_workdir}/cout}}
  checkpoint: {tmp_workdir}/cckpt
  trigger: available_now
""")
    assert cli_main(["run", spec_path, "--drain"]) == 0
    capsys.readouterr()
    sink_dir = os.path.join(tmp_workdir, "cout")
    assert cli_main(["snapshots", sink_dir]) == 0
    snaps = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["snapshots"]
    assert len(snaps) >= 2
    assert cli_main(["compact", sink_dir, "--target-mb", "1"]) == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["manifest"]
    assert set(manifest["covered"]) == set(snaps)
    assert cli_main(["snapshots", sink_dir]) == 0
    snaps2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["snapshots"]
    assert snaps2 == snaps
