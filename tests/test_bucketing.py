"""Bucketed-layout plan properties: co-located joins and aggregations
must be EXCHANGE-FREE — the write-once-shuffle-never layout that makes
conv_id joins viable at 10^12 turns (SURVEY.md §4.2 partition-spec
row; Iceberg's bucket(N, conv_id) is the cluster-grade equivalent)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quanta_contrib.plans.bucketing import cocluster_join, write_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bucketed"))
    rows = [
        # role alternates per turn WITHIN a conversation (i // 40 is the
        # turn ordinal of conv i % 40), so every conv has both sides
        (f"conv-{i % 40:04d}", i, "user" if (i // 40) % 2 == 0 else "assistant", f"text {i}")
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    users = df.filter("role = 'user'")
    replies = df.filter("role = 'assistant'").select(
        "conv_id", F.col("turn_idx").alias("reply_idx"), F.col("text").alias("reply")
    )
    write_bucketed(users, "qs_users_b", n_buckets=8, key="conv_id",
                   path=os.path.join(base, "users"))
    write_bucketed(replies, "qs_replies_b", n_buckets=8, key="conv_id",
                   path=os.path.join(base, "replies"))
    yield "qs_users_b", "qs_replies_b", df
    spark.sql("DROP TABLE IF EXISTS qs_users_b")
    spark.sql("DROP TABLE IF EXISTS qs_replies_b")


def test_cobucketed_join_has_no_exchange(spark, bucketed_tables):
    """At fixture scale Spark would auto-broadcast (which bypasses
    bucketing entirely); disable it to plan the join the way a
    10^12-turn table must be planned — SortMergeJoin — and assert the
    co-bucketed layout removes BOTH shuffles."""
    left, right, df = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cocluster_join(spark, left, right, "conv_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # correctness: same rows as the plain (shuffling) join
        users = df.filter("role = 'user'")
        replies = df.filter("role = 'assistant'").select(
            "conv_id", F.col("turn_idx").alias("reply_idx"), F.col("text").alias("reply")
        )
        expect = users.join(replies, "conv_id").count()
        assert joined.count() == expect > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    left, _, df = bucketed_tables
    agg = spark.table(left).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"), F.max("turn_idx").alias("max_idx")
    )
    plan = _plan(agg)
    assert "Exchange" not in plan, plan
    got = {r["conv_id"]: r["n_turns"] for r in agg.collect()}
    expect = {
        r["conv_id"]: r["n"]
        for r in df.filter("role = 'user'")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_mismatched_bucket_counts_still_correct(spark, bucketed_tables, tmp_path):
    """A table bucketed with a DIFFERENT count still joins correctly —
    Spark re-shuffles one side; the layout contract is a performance
    property, never a correctness trap."""
    left, _, df = bucketed_tables
    other = df.filter("role = 'assistant'").select(
        "conv_id", F.col("turn_idx").alias("reply_idx")
    )
    write_bucketed(other, "qs_replies_b5", n_buckets=5, key="conv_id",
                   path=str(tmp_path / "b5"))
    try:
        joined = cocluster_join(spark, left, "qs_replies_b5", "conv_id")
        users = df.filter("role = 'user'")
        assert joined.count() == users.join(other, "conv_id").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS qs_replies_b5")


def test_zorder_localizes_both_dimensions(spark):
    """Range-partitioning on the z-value must shrink BOTH columns'
    per-partition spans (the data-skipping property); sorting by x
    alone leaves y spans at ~full range. Grid data makes the contrast
    deterministic."""
    from pyspark.sql import functions as F

    from quanta_contrib.plans.zorder import repartition_by_zvalue

    n = 64
    rows = [(i * n + j, i, j) for i in range(n) for j in range(n)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    def mean_span(d, col):
        spans = (
            d.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg((F.max(col) - F.min(col)).alias("s"))
            .agg(F.avg("s"))
            .first()[0]
        )
        return float(spans)

    z = repartition_by_zvalue(df, "x", "y", n_files=16)
    by_x = df.repartitionByRange(16, F.col("x"))
    # x-sorted layout: x localizes but y spans stay ~full range
    assert mean_span(by_x, "y") > 0.9 * (n - 1)
    # z-order: BOTH dimensions localized well below full range
    assert mean_span(z, "x") < 0.5 * (n - 1), mean_span(z, "x")
    assert mean_span(z, "y") < 0.5 * (n - 1), mean_span(z, "y")


def test_q104_gate_join_and_agg_are_exchange_free(spark):
    """The q104 driver gate's co-located join+agg, planned the way a
    10^12-turn table must be (broadcast disabled): the only Exchange
    allowed in the WHOLE plan is none — both the conv_id join and the
    groupBy ride the bucketed scan distribution."""
    from quanta_contrib import queries as q

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q.QUERY_FNS["q104_bucketed_cocluster"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("qs_g104_turns", "qs_g104_convs"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
