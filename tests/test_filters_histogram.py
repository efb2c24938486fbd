"""Bloom prefilter (filters.py) + mergeable fixed-bin histogram
(sketches.py): production xxhash64-family properties the md5 oracle
gates (q99/q100) can't cover, plus parameter-contract edges."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from quanta_contrib.operators.filters import (
    BLOOM_MAX_WORDS,
    bloom_bitset,
    bloom_prefilter,
    with_bloom_flag,
)
from quanta_contrib.operators.sketches import (
    histogram_counts,
    histogram_quantiles,
    merge_histograms,
)


def _keys_df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k long")


@pytest.mark.parametrize("hasher", ["xxhash64", "md5"])
def test_bloom_no_false_negatives(spark, hasher):
    """THE bloom guarantee: every member passes, in both hash families."""
    members = list(range(0, 4000, 7))
    words = bloom_bitset(_keys_df(spark, members), "k", hasher=hasher)
    probe = _keys_df(spark, members)
    kept = bloom_prefilter(probe, "k", words, hasher=hasher)
    assert kept.count() == len(members)


def test_bloom_false_positive_rate_bounded(spark):
    """Non-members pass at ~(1-e^(-kn/m))^k; with n=572, m=65536, k=3
    that's ~1.5e-5 — allow a generous 1% on a 10k-probe sample."""
    members = list(range(0, 4000, 7))
    words = bloom_bitset(_keys_df(spark, members), "k")
    non_members = [v for v in range(10_000, 20_000)]
    kept = bloom_prefilter(_keys_df(spark, non_members), "k", words).count()
    assert kept <= len(non_members) * 0.01


def test_bloom_flag_matches_exact_membership_on_mixed_probe(spark):
    members = set(range(100, 300, 3))
    words = bloom_bitset(_keys_df(spark, sorted(members)), "k")
    probe = _keys_df(spark, list(range(0, 500)))
    rows = with_bloom_flag(probe, "k", words).collect()
    for r in rows:
        if r["k"] in members:
            assert r["bloom_pass"], f"false negative on {r['k']}"


def test_bloom_null_keys_never_pass_and_never_set_bits(spark):
    df = spark.createDataFrame([(1,), (None,)], "k long")
    words = bloom_bitset(df, "k")
    flagged = {r["k"]: r["bloom_pass"] for r in with_bloom_flag(df, "k", words).collect()}
    assert flagged[1] is True
    assert flagged[None] is False


def test_bloom_param_contracts(spark):
    df = _keys_df(spark, [1])
    with pytest.raises(ValueError, match="m_bits"):
        bloom_bitset(df, "k", m_bits=(BLOOM_MAX_WORDS + 1) * 63)
    with pytest.raises(ValueError, match="k="):
        bloom_bitset(df, "k", k=0)
    words = bloom_bitset(df, "k")
    with pytest.raises(ValueError, match="words"):
        with_bloom_flag(df, "k", words[:-1])
    with pytest.raises(ValueError, match="already present"):
        with_bloom_flag(df.withColumn("bloom_pass", F.lit(True)), "k", words)


def test_bloom_plan_no_shuffle_on_probe_side(spark):
    """The 100 TB contract: the probed (fact) side reaches the filter
    without an Exchange — only the one-row bitset broadcast joins in."""
    words = bloom_bitset(_keys_df(spark, [1, 2, 3]), "k")
    plan = bloom_prefilter(
        _keys_df(spark, list(range(100))), "k", words
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_histogram_merge_is_exact_and_quantiles_match_naive(spark):
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 1000, size=5000).tolist()
    df = spark.createDataFrame([(int(v), int(i)) for i, v in enumerate(vals)], "v long, i long")
    lo, hi, nb = 0, 1000, 40
    whole = {r["bin_idx"]: r["cnt"] for r in histogram_counts(df, "v", lo, hi, nb).collect()}
    shards = [
        histogram_counts(df.filter(F.col("i") % 5 == s), "v", lo, hi, nb)
        for s in range(5)
    ]
    merged_df = merge_histograms(shards[0].unionByName(shards[1]).unionByName(
        shards[2]).unionByName(shards[3]).unionByName(shards[4]))
    merged = {r["bin_idx"]: r["cnt"] for r in merged_df.collect()}
    assert merged == whole  # linear sketch: cell-wise sum == whole, exactly

    qs = [2500, 5000, 9900]
    got = {r["q_bp"]: r for r in histogram_quantiles(merged_df, qs, lo, hi, nb).collect()}
    span = hi - lo
    srt = sorted(vals)
    for q in qs:
        target = -(-q * len(vals) // 10_000)  # ceil
        exact_val = srt[target - 1]
        naive_bin = min(nb - 1, (max(min(exact_val, hi - 1), lo) - lo) * nb // span)
        r = got[q]
        assert r["bin_idx"] == naive_bin
        assert r["total_cnt"] == len(vals)
        assert r["bin_upper"] == lo + ((r["bin_idx"] + 1) * span) // nb
        # the true quantile value sits at or below the reported upper edge
        assert exact_val < r["bin_upper"]


def test_histogram_clamps_out_of_range_into_edge_bins(spark):
    df = spark.createDataFrame([(-50,), (0,), (99,), (100,), (170,)], "v long")
    h = {r["bin_idx"]: r["cnt"] for r in histogram_counts(df, "v", 0, 100, 10).collect()}
    assert h[0] == 2  # -50 clamps up, 0 lands there
    assert h[9] == 3  # 99 is in-range top bin; 100/170 clamp down
    assert sum(h.values()) == 5  # clamping never drops rows


def test_histogram_param_contracts(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="hi > lo"):
        histogram_counts(df, "v", 10, 10, 4)
    with pytest.raises(ValueError, match="n_bins"):
        histogram_counts(df, "v", 0, 10, 0)
    with pytest.raises(ValueError, match="2\\^52"):
        histogram_counts(df, "v", 0, 1 << 40, 1 << 20)


def test_histogram_ks_hand_computed_and_zero_on_identical(spark):
    from quanta_contrib.operators.sketches import histogram_ks

    h1 = spark.createDataFrame([(0, 5), (1, 5)], "bin_idx int, cnt long")
    h2 = spark.createDataFrame([(0, 1), (1, 9)], "bin_idx int, cnt long")
    # cdf1 = (0.5, 1.0), cdf2 = (0.1, 1.0) -> D = 0.4 exactly
    assert histogram_ks(h1, h2).first()["ks_bp"] == 4000
    assert histogram_ks(h1, h1).first()["ks_bp"] == 0
    # disjoint bin support: D = 1.0
    h3 = spark.createDataFrame([(5, 7)], "bin_idx int, cnt long")
    assert histogram_ks(h1, h3).first()["ks_bp"] == 10_000


def test_corpus_overlap_estimate_bounds(spark):
    from pyspark.sql import functions as F

    from quanta_contrib.operators.sketches import corpus_overlap_estimate

    a = spark.range(0, 2000).select(F.concat(F.lit("k"), "id").alias("v"))
    b = spark.range(1000, 3000).select(F.concat(F.lit("k"), "id").alias("v"))
    r = corpus_overlap_estimate(a, b, value="v").first()
    assert abs(r["est_a"] - 2000) <= 100 and abs(r["est_b"] - 2000) <= 100
    assert abs(r["overlap_est"] - 1000) <= 150
    assert 2500 <= r["jaccard_bp"] <= 4300  # true jaccard = 1/3
    disjoint = corpus_overlap_estimate(
        a, spark.range(90_000, 92_000).select(F.concat(F.lit("k"), "id").alias("v")),
        value="v",
    ).first()
    assert disjoint["overlap_est"] >= 0  # clamped: never negative
    assert disjoint["overlap_est"] <= 200
