"""Data-quality check suite (operators/validate.py): violation
accounting on planted bad rows, and the one-scan shape of row-level
suites."""

from __future__ import annotations

from pyspark.sql import functions as F

from quanta_contrib.operators.validate import (
    constraint_report,
    referential_check,
    uniqueness_check,
    validate_rows,
)


def test_validate_rows_counts_planted_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (3, 200.0)],
        "id int, amount double",
    )
    got = {
        r["check_name"]: (r["n_violations"], r["n_rows"], r["passed"])
        for r in validate_rows(
            df,
            {
                "amount_not_null": F.col("amount").isNull(),
                # NULL predicate result = NOT a violation (three-valued
                # logic): a null amount fails amount_not_null, not this
                "amount_positive": ~(F.col("amount") > 0),
                "amount_under_100": F.col("amount") > 100,
            },
        ).collect()
    }
    assert got == {
        "amount_not_null": (1, 4, False),
        "amount_positive": (1, 4, False),
        "amount_under_100": (1, 4, False),
    }


def test_validate_rows_is_one_scan(spark):
    """A 3-check suite must not re-scan per check: exactly one scan
    node in the physical plan."""
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    report = validate_rows(
        df,
        {
            "a": F.col("v") > 5,
            "b": F.col("v") < 0,
            "c": F.col("id").isNull(),
        },
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1


def test_uniqueness_and_referential_checks(spark):
    fact = spark.createDataFrame(
        [(1, 100), (2, 100), (2, 200), (3, 999)],  # dup key 2; orphan 999
        "k int, ref int",
    )
    dim = spark.createDataFrame([(100,), (200,)], "rk int")
    report = {
        r["check_name"]: (r["n_violations"], r["n_rows"], r["passed"])
        for r in constraint_report(
            [
                uniqueness_check(fact, ["k"]),
                referential_check(fact, "ref", dim, "rk"),
            ]
        ).collect()
    }
    assert report == {
        "unique_k": (1, 4, False),
        "ref_ref_in_rk": (1, 4, False),
    }


def test_referential_check_null_key_is_orphan(spark):
    fact = spark.createDataFrame([(1, 100), (2, None)], "k int, ref int")
    dim = spark.createDataFrame([(100,)], "rk int")
    row = referential_check(fact, "ref", dim, "rk").collect()[0]
    assert (row["n_violations"], row["passed"]) == (1, False)


def test_stream_quality_monitor_matches_batch_counts(spark, tmp_workdir):
    """Streaming DQ counts at final watermark == the same checks run in
    batch per day window; the heartbeat's own window is identifiable by
    its distant window_start."""
    import os

    import pandas as pd

    from quanta_spark.datagen import (
        GenSpec,
        generate,
        write_heartbeat_file,
        write_transcripts,
    )
    from quanta_spark.operators.validate import stream_quality_monitor
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    spec = GenSpec(n_convs=30, mean_turns=6, seed=11, late_frac=0.0)
    data_dir = os.path.join(tmp_workdir, "in")
    write_transcripts(data_dir, spec, n_files=4)
    checks = {
        "short_text": F.length("text") < 25,
        "user_turn_odd_idx": (F.col("role") == "user") & (F.col("turn_idx") % 2 == 1),
    }
    rows = []
    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=2, with_lineage=False
    )
    h = start_pipeline(
        stream_quality_monitor(src, checks, window="1 day", watermark="1 hour"),
        lambda b, i: rows.extend(b.collect()),
        os.path.join(tmp_workdir, "ckpt"),
    )
    h.process_all_available()
    pdf_all = generate(spec)
    max_ts = pdf_all["ts"].max()
    write_heartbeat_file(data_dir, max_ts + pd.Timedelta(days=30))
    run_to_completion(h)

    got = pd.DataFrame([r.asDict() for r in rows])
    got = got[got["window_start"] <= max_ts]
    day = pdf_all["ts"].dt.floor("D")
    want_short = (
        (pdf_all["text"].str.len() < 25).groupby(day).sum().astype(int)
    )
    want_n = pdf_all.groupby(day).size()
    g_short = got[got["check_name"] == "short_text"].set_index("window_start")
    assert len(g_short) == len(want_short)
    for d, v in want_short.items():
        assert g_short.loc[d, "n_violations"] == v
        assert g_short.loc[d, "n_rows"] == want_n[d]
    g_odd = got[got["check_name"] == "user_turn_odd_idx"]
    assert (g_odd["n_violations"] == 0).all() and g_odd["passed"].all()
