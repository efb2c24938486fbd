"""Stage-chain shape and policy tests:

- linear plan growth: an N-stage chain must reference its input
  subtree ONCE (the old filter+union shape re-evaluated upstream work
  ~2^N times on long chains — the reference compiles arbitrary-length
  YAML chains, compiler.go:53-66, so the plan must compose linearly);
- enforced per-stage deadline (reference: context deadline per plugin
  call, runner.go:138-145) — a hung batch_fn dead-letters instead of
  hanging the task;
- ERROR rows flow through later stages untouched;
- a terminal operator never consumes dead-letter rows (they are teed
  to a companion DLQ query by the pipeline compiler).
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quanta_spark.operators.stages import (
    ERROR_COL,
    STATUS_COL,
    RetryPolicy,
    Stage,
    apply_chain,
    register,
    split_ok_dlq,
)


@pytest.fixture()
def frame_df(spark):
    return spark.createDataFrame(
        [("conv-1", i, "user", f"hello {i}") for i in range(8)],
        "conv_id string, turn_idx int, role string, text string",
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_eight_stage_map_chain_single_scan(spark, frame_df):
    stages = [
        Stage(name=f"m{i}", map_cols={"text": F.concat(F.col("text"), F.lit(f".{i}"))})
        for i in range(8)
    ]
    out = apply_chain(frame_df, stages)
    plan = _plan(out)
    assert plan.count("Scan") == 1, plan
    assert "Union" not in plan, plan
    # semantics: all 8 suffixes applied in order
    assert out.first()["text"].endswith(".0.1.2.3.4.5.6.7")


def test_filter_stages_compose_linearly(spark, frame_df):
    stages = []
    for i in range(4):
        stages.append(Stage(name=f"m{i}", map_cols={"text": F.concat(F.col("text"), F.lit("x"))}))
        stages.append(Stage(name=f"f{i}", predicate=F.col("turn_idx") >= i))
    out = apply_chain(frame_df, stages)
    plan = _plan(out)
    assert plan.count("Scan") == 1, plan
    assert "Union" not in plan, plan
    assert out.count() == 5  # turn_idx 3..7 survive


def test_null_predicate_rows_dropped(spark, frame_df):
    """A predicate evaluating to NULL must DROP the row, like SQL WHERE
    (and like plain df.filter): `_ok() & ~NULL` is NULL, which when()
    would treat as not-matched, silently passing the row as OK."""
    with_null = frame_df.withColumn(
        "flag", F.when(F.col("turn_idx") < 4, F.lit(True))  # NULL for idx >= 4
    )
    out = apply_chain(with_null, [Stage(name="nullpred", predicate=F.col("flag"))])
    rows = out.select("turn_idx", STATUS_COL).collect()
    assert {r["turn_idx"] for r in rows} == {0, 1, 2, 3}
    assert all(r[STATUS_COL] == "OK" for r in rows)


def test_vectorized_chain_single_scan_and_passthrough(spark, frame_df):
    """ERROR rows produced by stage 1 must flow through stages 2..4
    untouched (text/error preserved) with the plan still scanning the
    input once."""

    def poison_even(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["turn_idx"] % 2 == 0).any():
            raise ValueError("even turn")
        return pdf

    def tag(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        out["text"] = out["text"] + "!"
        return out

    chain = [
        Stage(name="poison", batch_fn=poison_even, retry=RetryPolicy(attempts=0, backoff_ms=1)),
        Stage(name="tag1", batch_fn=tag),
        Stage(name="tag2", map_cols={"text": F.concat(F.col("text"), F.lit("?"))}),
        Stage(name="tag3", batch_fn=tag),
    ]
    out = apply_chain(frame_df, chain)
    plan = _plan(out)
    assert plan.count("Scan") == 1, plan
    assert "Union" not in plan, plan
    ok, dlq = split_ok_dlq(out)
    ok_rows = {r["turn_idx"]: r["text"] for r in ok.collect()}
    dlq_rows = {r["turn_idx"]: (r["text"], r[ERROR_COL]) for r in dlq.collect()}
    assert set(ok_rows) == {1, 3, 5, 7}
    assert set(dlq_rows) == {0, 2, 4, 6}
    for i, text in ok_rows.items():
        assert text == f"hello {i}!?!"
    for i, (text, err) in dlq_rows.items():
        assert text == f"hello {i}", "ERROR row payload must be untouched"
        assert err.startswith("stage=poison:")


def test_stage_timeout_dead_letters_instead_of_hanging(spark, frame_df):
    def sleepy(pdf: pd.DataFrame) -> pd.DataFrame:
        time.sleep(5)
        return pdf

    stage = Stage(
        name="sleepy",
        batch_fn=sleepy,
        retry=RetryPolicy(attempts=1, backoff_ms=1, timeout_ms=150),
    )
    t0 = time.time()
    out = apply_chain(frame_df, [stage])
    ok, dlq = split_ok_dlq(out)
    dlq_rows = dlq.collect()
    elapsed = time.time() - t0
    assert len(dlq_rows) == 8
    assert all("deadline exceeded" in r[ERROR_COL] for r in dlq_rows)
    assert ok.count() == 0
    # 8 single-partition... rows split across 4 partitions; each batch:
    # 2 attempts at top + bisect(1 row each, 1 attempt) — wall clock is
    # bounded by a handful of 150ms deadlines, nowhere near 5s each.
    assert elapsed < 30, f"timeout not enforced ({elapsed:.1f}s)"


def test_pipeline_tee_keeps_error_rows_out_of_operator(
    spark, transcripts_dir, small_spec, tmp_workdir
):
    """A sessionize operator after a failing stage: window aggregates
    must exclude the poison conversation's rows, and those rows must
    land — payload intact — in the companion DLQ sink."""
    from quanta_spark.datagen import generate
    from quanta_spark.plans.pipeline import compile_pipeline
    from quanta_spark.streaming.engine import run_to_completion

    poison = "conv-00000003"

    def picky(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["conv_id"] == poison).any():
            raise ValueError("poison")
        return pdf

    register(Stage(name="picky3", batch_fn=picky, retry=RetryPolicy(attempts=0, backoff_ms=1)))
    spec = {
        "schema_version": "v1",
        "pipeline": {
            "name": "sess-dlq",
            "source": {"kind": "parquet-stream", "path": transcripts_dir,
                       "max_files_per_trigger": 4},
            "watermark": "1 hour",
            "transformers": ["picky3"],
            "operator": {"kind": "sessionize", "gap": "30 minutes"},
            "sink": {
                "kind": "idempotent-parquet",
                "path": os.path.join(tmp_workdir, "out"),
                "key_cols": ["conv_id", "session_start"],
            },
            "checkpoint": os.path.join(tmp_workdir, "ckpt"),
        },
    }
    compiled = compile_pipeline(spark, spec)
    assert compiled.dlq_df is not None and compiled.dlq_sink is not None
    handle = compiled.start()
    run_to_completion(handle)

    sessions = compiled.sink.read_data(spark).toPandas()
    assert poison not in set(sessions["conv_id"]), "ERROR rows leaked into aggregates"
    assert len(sessions) > 0

    dlq = compiled.dlq_sink.read_dlq(spark).toPandas()
    assert set(dlq["conv_id"]) == {poison}
    gen = generate(small_spec)
    assert len(dlq) == int((gen["conv_id"] == poison).sum())
    # payload intact in the DLQ (text not transformed by later stages)
    want = gen[gen["conv_id"] == poison].set_index("turn_idx")["text"]
    got = dlq.set_index("turn_idx")["text"]
    assert got.sort_index().tolist() == want.sort_index().tolist()
