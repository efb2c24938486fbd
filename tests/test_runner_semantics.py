"""1:1 port of the reference's runner-semantics unit tests
(internal/pipeline/runner_test.go) onto the DataFrame stage chain,
using the same canonical fixture: one frame
``{value: "hello", topic: "t", partition: 1, offset: 42}``
(runner_test.go:65-67) and the same fake stage modes
(ok/drop/errorThenOK/fanout2, runner_test.go:30-47).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quanta_spark.operators.stages import (
    RetryPolicy,
    Stage,
    apply_chain,
    split_ok_dlq,
)
from quanta_spark.schema import FRAME_SCHEMA

_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


@pytest.fixture()
def frame_df(spark):
    return spark.createDataFrame(
        [(b"k", "hello", {"h": "1"}, _TS, "t", 1, 42)], schema=FRAME_SCHEMA
    )


def _collect_values(df) -> list[str]:
    return [r["value"] for r in df.select("value").collect()]


def test_ok_status_passes_one_frame(spark, frame_df):
    """runner_test.go:69-87 — OK: 1 frame at sink, payload preserved."""
    ok_stage = Stage(name="ok", batch_fn=lambda pdf: pdf)
    out, dlq = split_ok_dlq(apply_chain(frame_df, [ok_stage]))
    assert _collect_values(out) == ["hello"]
    assert dlq.count() == 0


def test_drop_status_discards(spark, frame_df):
    """runner_test.go:89-104 — DROP: 0 frames pushed (row still acked:
    in Spark unwritten rows advance the offset log for free)."""
    drop_stage = Stage(name="drop", predicate=F.lit(False))
    out, dlq = split_ok_dlq(apply_chain(frame_df, [drop_stage]))
    assert out.count() == 0
    assert dlq.count() == 0


def test_error_then_ok_retries(spark, frame_df):
    """runner_test.go:106-122 — ERROR on first call, OK on retry with
    attempts=1 -> 1 frame survives."""
    calls = {"n": 0}

    def error_then_ok(pdf: pd.DataFrame) -> pd.DataFrame:
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return pdf

    stage = Stage(
        name="errorThenOK",
        batch_fn=error_then_ok,
        retry=RetryPolicy(attempts=1, backoff_ms=1),
    )
    out, dlq = split_ok_dlq(apply_chain(frame_df, [stage]))
    assert _collect_values(out) == ["hello"]
    assert dlq.count() == 0


def test_retry_exhaustion_goes_to_dlq(spark, frame_df):
    """Reference drops + acks on exhaustion (runner.go:147-156,
    README.md:75 documents the data loss); we route to the DLQ instead
    — explicit and observable (SURVEY.md §4.2 custom #4)."""

    def always_fails(pdf: pd.DataFrame) -> pd.DataFrame:
        raise RuntimeError("plugin down")

    stage = Stage(
        name="down", batch_fn=always_fails, retry=RetryPolicy(attempts=2, backoff_ms=1)
    )
    out, dlq = split_ok_dlq(apply_chain(frame_df, [stage]))
    assert out.count() == 0
    rows = dlq.collect()
    assert len(rows) == 1
    assert "stage=down" in rows[0]["_error"]
    assert rows[0]["value"] == "hello"  # payload preserved for replay


def test_two_stage_chain_with_fanout(spark, frame_df):
    """runner_test.go:124-142 — stage1 fans out x2 (children inherit the
    parent's key/ts/checkpoint, runner.go:90-118), stage2 passes
    through -> 2 frames at the sink."""

    def fanout2(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat([pdf, pdf], ignore_index=True)

    chain = [
        Stage(name="fanout2", batch_fn=fanout2),
        Stage(name="ok", batch_fn=lambda pdf: pdf),
    ]
    out, dlq = split_ok_dlq(apply_chain(frame_df, chain))
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["value"] == "hello" for r in rows)
    # lineage inherited: same checkpoint token triple on both children
    assert all((r["topic"], r["partition"], r["offset"]) == ("t", 1, 42) for r in rows)
    assert dlq.count() == 0


def test_drop_short_circuits_chain(spark, frame_df):
    """Empty survivor set short-circuits the chain
    (runner.go:186-189): stage2 must never see dropped frames."""
    seen = {"n": 0}

    def counting(pdf: pd.DataFrame) -> pd.DataFrame:
        seen["n"] += len(pdf)
        return pdf

    chain = [Stage(name="drop", predicate=F.lit(False)), Stage(name="count", batch_fn=counting)]
    out, _ = split_ok_dlq(apply_chain(frame_df, chain))
    assert out.count() == 0
