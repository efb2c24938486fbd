"""DLQ replay: the recovery half of the dead-letter contract. After a
fixed chain replays the DLQ, recovered rows are committed to data under
a deterministic negative batch id, the consumed DLQ dirs are gone, and
the data+dlq accounting invariant holds through replay, partial
re-failure, compaction and idempotent re-runs."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from quanta_spark.datagen import generate
from quanta_spark.operators.stages import RetryPolicy, Stage, apply_chain, register
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sinks.replay import replay_dlq
from quanta_spark.sources.readers import stream_transcripts_files
from quanta_spark.streaming.engine import run_to_completion, start_pipeline

POISON = "conv-00000007"


def _run_poisoned(spark, transcripts_dir, tmp_workdir) -> IdempotentSink:
    def picky(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["conv_id"] == POISON).any():
            raise ValueError("poison conversation")
        return pdf

    register(Stage(name="picky-r", batch_fn=picky, retry=RetryPolicy(attempts=0, backoff_ms=1)))
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))
    src = stream_transcripts_files(spark, transcripts_dir, max_files_per_trigger=4)
    run_to_completion(
        start_pipeline(apply_chain(src, ["picky-r"]), sink, os.path.join(tmp_workdir, "ckpt"))
    )
    return sink


def test_replay_recovers_fixed_rows(spark, transcripts_dir, small_spec, tmp_workdir):
    sink = _run_poisoned(spark, transcripts_dir, tmp_workdir)
    total = len(generate(small_spec))
    n_poison = sink.read_dlq(spark).count()
    assert n_poison > 0

    # "the bug is fixed": replay through an identity chain
    identity = Stage(name="fixed", batch_fn=lambda pdf: pdf)
    stats = replay_dlq(spark, sink, [identity])
    assert stats["attempted"] == n_poison
    assert stats["recovered"] == n_poison
    assert stats["still_failed"] == 0
    assert stats["replay_batch_id"] < 0

    data = sink.read_data(spark).toPandas()
    assert len(data) == total
    assert not data.duplicated(["conv_id", "turn_idx"]).any()
    assert sink.read_dlq(spark).count() == 0
    # recovered rows carry the replay batch id
    assert set(data[data["conv_id"] == POISON]["batch_id"]) == {stats["replay_batch_id"]}

    # idempotent: nothing left to replay
    again = replay_dlq(spark, sink, [identity])
    assert again["attempted"] == 0 and again["replay_batch_id"] is None

    # compaction after replay keeps everything visible (negative ids
    # are covered by membership, not a high-water mark)
    sink.compact(spark)
    assert sink.read_data(spark).count() == total


def test_replay_with_still_failing_rows(spark, transcripts_dir, small_spec, tmp_workdir):
    sink = _run_poisoned(spark, transcripts_dir, tmp_workdir)
    total = len(generate(small_spec))
    n_poison = sink.read_dlq(spark).count()

    def still_picky(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["conv_id"] == POISON).any():
            raise ValueError("still poison")
        return pdf

    stage = Stage(name="still-picky", batch_fn=still_picky, retry=RetryPolicy(attempts=0, backoff_ms=1))
    stats = replay_dlq(spark, sink, [stage])
    assert stats["recovered"] == 0
    assert stats["still_failed"] == n_poison
    # accounting invariant: every row in exactly one of data / dlq
    assert sink.read_data(spark).count() + sink.read_dlq(spark).count() == total
    dlq = sink.read_dlq(spark)
    assert dlq.filter(F.col("conv_id") != POISON).count() == 0
    # a second replay targets a fresh, more-negative deterministic id
    stats2 = replay_dlq(spark, sink, [stage])
    assert stats2["replay_batch_id"] == stats["replay_batch_id"] - 1
    assert stats2["still_failed"] == n_poison


def test_replay_crash_before_finalize_reuses_rid(
    spark, transcripts_dir, small_spec, tmp_workdir, monkeypatch
):
    """Crash between the sink write and the consumed-dir deletes: the
    re-run must reuse the SAME replay batch id (from the persisted
    manifest) — a live re-listing would see the crashed run's
    dlq/batch_id=<rid> dir, derive a more-negative id, and duplicate
    the already-recovered rows."""
    from quanta_spark.sinks import replay as replay_mod

    sink = _run_poisoned(spark, transcripts_dir, tmp_workdir)
    total = len(generate(small_spec))
    n_poison = sink.read_dlq(spark).count()
    expected_rid = -(max(abs(b) for b in replay_mod._dlq_batch_ids(sink)) + 1)

    identity = Stage(name="fixed-crash", batch_fn=lambda pdf: pdf)
    real_finalize = replay_mod._finalize
    monkeypatch.setattr(
        replay_mod,
        "_finalize",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("simulated crash")),
    )
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        replay_dlq(spark, sink, [identity])
    monkeypatch.setattr(replay_mod, "_finalize", real_finalize)

    # manifest pins the plan; dlq now holds consumed dirs + batch_id=rid
    assert replay_mod._read_manifest(sink)["rid"] == expected_rid
    stats = replay_dlq(spark, sink, [identity])
    assert stats["replay_batch_id"] == expected_rid  # NOT expected_rid - 1
    assert stats["recovered"] == n_poison
    data = sink.read_data(spark).toPandas()
    assert len(data) == total  # no duplicates from the re-run
    assert not data.duplicated(["conv_id", "turn_idx"]).any()
    assert replay_mod._read_manifest(sink) is None  # finalized


def test_replay_crash_mid_finalize_skips_rewrite(
    spark, transcripts_dir, small_spec, tmp_workdir, monkeypatch
):
    """Crash AFTER some consumed dirs were deleted: the sink write is
    known complete (deletes only start after it), so the re-run must
    NOT re-run the sink with the now-partial input — it finishes the
    deletes and reports from the committed state."""
    import shutil as sh

    from quanta_spark.sinks import replay as replay_mod

    sink = _run_poisoned(spark, transcripts_dir, tmp_workdir)
    total = len(generate(small_spec))
    n_poison = sink.read_dlq(spark).count()
    expected_rid = -(max(abs(b) for b in replay_mod._dlq_batch_ids(sink)) + 1)

    identity = Stage(name="fixed-mid", batch_fn=lambda pdf: pdf)
    real_finalize = replay_mod._finalize
    monkeypatch.setattr(
        replay_mod,
        "_finalize",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("simulated crash")),
    )
    import pytest

    with pytest.raises(RuntimeError):
        replay_dlq(spark, sink, [identity])
    monkeypatch.setattr(replay_mod, "_finalize", real_finalize)
    # simulate the partial delete the crash interrupted
    consumed = replay_mod._read_manifest(sink)["consumed"]
    sh.rmtree(os.path.join(sink.dlq_dir, f"batch_id={consumed[0]}"))

    stats = replay_dlq(spark, sink, [identity])
    assert stats["replay_batch_id"] == expected_rid
    assert stats["recovered"] == n_poison
    assert stats["still_failed"] == 0
    data = sink.read_data(spark).toPandas()
    assert len(data) == total
    assert not data.duplicated(["conv_id", "turn_idx"]).any()
    assert replay_mod._read_manifest(sink) is None


def test_replay_id_skips_ids_of_fully_recovered_replays(spark, tmp_workdir):
    """A replay that recovers every row leaves data/batch_id=<rid> and
    no dlq dir. A later replay must not derive that id again from the
    dlq dirs alone, or it overwrites (here: writes under a compacted,
    hidden id) the rows recovered before."""
    sink = IdempotentSink(base_dir=os.path.join(tmp_workdir, "sink"))

    def poisoned(conv):
        return spark.createDataFrame(
            [(conv, i, "t", "ERROR", "stage=s: boom") for i in range(3)],
            "conv_id string, turn_idx int, text string, _status string, _error string",
        )

    def fails_on(conv):
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            if (pdf["conv_id"] == conv).any():
                raise ValueError("still poison")
            return pdf

        return Stage(name=f"fails-{conv}", batch_fn=fn, retry=RetryPolicy(attempts=0, backoff_ms=1))

    identity = Stage(name="fixed-ids", batch_fn=lambda pdf: pdf)
    sink(poisoned("c1"), 2)
    assert replay_dlq(spark, sink, [fails_on("c1")])["replay_batch_id"] == -3
    assert replay_dlq(spark, sink, [identity])["replay_batch_id"] == -4  # all recovered
    assert not os.listdir(sink.dlq_dir)
    sink.compact(spark)
    sink(poisoned("c2"), 3)  # a later stream batch fails
    stats = replay_dlq(spark, sink, [identity])
    assert stats["replay_batch_id"] == -5
    assert stats["recovered"] == 3
    data = sink.read_data(spark).toPandas()
    assert sorted(zip(data["conv_id"], data["turn_idx"])) == [
        (c, i) for c in ("c1", "c2") for i in range(3)
    ]
