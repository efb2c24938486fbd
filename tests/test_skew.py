"""Skew handling (SURVEY.md §7 step 6): generator puts ~10% of all
turns in one mega-conversation; salted two-phase operators must match
their direct equivalents exactly while never co-locating the whole hot
key."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quanta_spark.datagen import GenSpec, generate
from quanta_contrib.operators.skew import (
    repartition_salted,
    salt_col,
    top_k_turns_per_conv,
    two_phase_conv_stats,
)

SKEW_SPEC = GenSpec(n_convs=50, mean_turns=8, seed=45, mega_frac=0.10)


@pytest.fixture(scope="module")
def skew_df(spark):
    pdf = generate(SKEW_SPEC).drop(columns=["arrival_ts"])
    return spark.createDataFrame(pdf).cache()


def test_fixture_is_actually_skewed(skew_df):
    counts = skew_df.groupBy("conv_id").count().toPandas()
    assert counts["count"].max() / counts["count"].sum() >= 0.08


def test_two_phase_equals_direct(spark, skew_df):
    direct = (
        skew_df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
            F.max("turn_idx").alias("last_turn"),
        )
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    salted = (
        two_phase_conv_stats(skew_df)
        .select("conv_id", "n_turns", "n_chars", "last_turn")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, salted, check_dtype=False)


def test_salt_spreads_hot_key(spark, skew_df):
    """The mega-conversation must occupy >1 salt bucket."""
    hot = (
        skew_df.groupBy("conv_id").count().orderBy(F.desc("count")).first()["conv_id"]
    )
    buckets = (
        skew_df.filter(F.col("conv_id") == hot)
        .select(salt_col(16))
        .distinct()
        .count()
    )
    assert buckets > 8

    # and the salted repartition actually distributes rows
    parts = (
        repartition_salted(skew_df.filter(F.col("conv_id") == hot), n_buckets=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
    )
    assert parts.count() > 4


def test_topk_salted_equals_plain_topk(spark, skew_df):
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy(
        F.length("text").desc(), F.col("turn_idx").asc()
    )
    plain = (
        skew_df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("conv_id", "rank", "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "rank"])
        .reset_index(drop=True)
    )
    salted = (
        top_k_turns_per_conv(skew_df, k=3)
        .select("conv_id", "rank", "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(plain, salted, check_dtype=False)
