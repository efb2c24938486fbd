"""Sampling / data-mixing operator tests: determinism and budget
invariants that matter in a resumable training pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quanta_contrib.operators.sampling import (
    deterministic_sample,
    token_budget_per_stratum,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_sample_is_deterministic_and_stable_under_partitioning(spark, docs):
    frac = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}
    a = {r["doc_id"] for r in deterministic_sample(docs, frac).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(7), frac).collect()
    }
    assert a == b and len(a) > 0  # membership independent of physical layout


def test_sample_rate_within_tolerance(spark, docs):
    n_en = docs.filter("lang = 'en'").count()
    got = deterministic_sample(docs, {"en": 0.5}, default_fraction=0.0).count()
    assert abs(got / n_en - 0.5) < 0.15, (got, n_en)


def test_sample_subset_property(spark, docs):
    """A smaller fraction's sample is a SUBSET of a larger one — the
    hash-threshold construction gives nested samples for free, which
    is what makes growing a training mix reproducible."""
    small = {r["doc_id"] for r in deterministic_sample(docs, {"en": 0.2}).collect()}
    large = {r["doc_id"] for r in deterministic_sample(docs, {"en": 0.6}).collect()}
    assert small <= large


def test_chunking_reconstructs_documents(spark, docs):
    """Dropping each chunk's overlap prefix and concatenating in
    chunk_idx order must reproduce the original token stream exactly —
    no token lost, duplicated, or reordered by the fan-out."""
    from quanta_contrib.operators.text import chunk_documents

    import re

    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4).toPandas()
    orig = {r["doc_id"]: re.split(r"\s+", r["text"].strip()) for r in docs.collect()}
    for doc_id, grp in chunks.groupby("doc_id"):
        grp = grp.sort_values("chunk_idx")
        rebuilt: list[str] = []
        for _, row in grp.iterrows():
            toks = row["chunk_text"].split(" ")
            assert len(toks) == row["n_chunk_tokens"]
            rebuilt.extend(toks if row["chunk_idx"] == 0 else toks[4:])
        assert rebuilt == orig[doc_id], doc_id
    assert chunks["n_chunk_tokens"].max() <= 16


def test_token_budget_invariants(spark, docs):
    from quanta_contrib.operators.text import ws_token_count

    d = docs.select("doc_id", "lang", ws_token_count(F.col("text")).alias("n_tokens"))
    out = token_budget_per_stratum(d, budget=500, tokens_col="n_tokens").toPandas()
    sums = out.groupby("lang")["n_tokens"].sum()
    assert (sums <= 500).all(), sums
    # greedy by size: every kept doc is at least as big as any excluded
    # doc of the same stratum that would still have fit the leftover
    kept_min = out.groupby("lang")["n_tokens"].min()
    full = d.toPandas()
    for lang, row_min in kept_min.items():
        excluded = full[(full["lang"] == lang) & (~full["doc_id"].isin(out["doc_id"]))]
        if len(excluded):
            assert excluded["n_tokens"].max() <= row_min or (
                sums[lang] + excluded["n_tokens"].min() > 500
            )


def _naive_budget(pdf, budget):
    """Single-machine oracle: the operator's running-sum rule — a row
    is kept iff the cumulative token sum over ALL ranked rows up to and
    including it (kept or not) fits the budget. Matches the q49 SQL
    oracle's windowed cumsum, not skip-and-continue knapsack greed."""
    keep = []
    for lang, grp in pdf.groupby("lang"):
        grp = grp.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        running = 0
        for _, row in grp.iterrows():
            running += row["n_tokens"]
            if running <= budget:
                keep.append(row["doc_id"])
    return set(keep)


def test_token_budget_matches_naive_on_mega_stratum(spark):
    """One stratum holds ~90% of all rows (the real shape of language
    mixes): the two-phase plan must return exactly the single-machine
    greedy answer."""
    import pandas as pd

    rows = [("en", i, (i * 37) % 97 + 1) for i in range(9000)]
    rows += [("de", 100000 + i, (i * 13) % 50 + 1) for i in range(700)]
    rows += [("fr", 200000 + i, (i * 7) % 30 + 1) for i in range(300)]
    pdf = pd.DataFrame(rows, columns=["lang", "doc_id", "n_tokens"])
    df = spark.createDataFrame(pdf).repartition(8)
    out = token_budget_per_stratum(df, budget=1500, tokens_col="n_tokens").toPandas()
    assert set(out["doc_id"]) == _naive_budget(pdf, 1500)
    assert (out.groupby("lang")["n_tokens"].sum() <= 1500).all()


def test_token_budget_plan_never_sorts_whole_stratum_in_one_task(spark):
    """Plan-shape gate for the 100 TB case: the FIRST window over the
    data must partition by (stratum, salt) — n_salt parallel bounded
    sorts — and only the bounded survivor set may hit the per-stratum
    window. A plan whose first exchange keys on the stratum alone
    would co-locate a mega-stratum into one task."""
    df = spark.range(1000).select(
        F.lit("en").alias("lang"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 40 + 1).alias("n_tokens"),
    )
    out = token_budget_per_stratum(df, budget=300, tokens_col="n_tokens")
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_window = plan[plan.rindex("Window"):]  # executed plan prints leaves last
    assert "_salt" in first_window, plan
    windows = plan.count("Window ")
    assert windows == 2, plan


def test_token_budget_overflow_sentinel_blocks_readmission(spark):
    """Adversarial two-phase case: two 9-token rows share a salt
    bucket, a 1-token row sits in another. Single-window semantics
    (cumsums 9, 18, 19 vs budget 10) keeps only the first 9 — a naive
    two-phase that silently drops the second 9 would shrink the small
    row's cumsum to 10 and wrongly re-admit it."""
    ids = spark.range(100).select(
        "id", F.pmod(F.xxhash64(F.col("id")), F.lit(2)).alias("s")
    ).collect()
    same = [r["id"] for r in ids if r["s"] == 0]
    other = [r["id"] for r in ids if r["s"] == 1]
    a, b, c = same[0], same[1], other[0]
    df = spark.createDataFrame(
        [("en", a, 9), ("en", b, 9), ("en", c, 1)],
        "lang string, doc_id long, n_tokens int",
    )
    out = token_budget_per_stratum(df, budget=10, tokens_col="n_tokens", n_salt=2)
    assert {r["doc_id"] for r in out.collect()} == {min(a, b)}


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """THE content-defined-chunking property: prepending text to a
    document changes only the chunks up to the first re-synchronized
    boundary — the tail chunk fingerprints are IDENTICAL, which is
    what makes per-chunk dedup robust to insertions (fixed-size
    chunking shifts every later chunk)."""
    from quanta_contrib.operators.text import cdc_chunks

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles hang on the wall and accordingly the narrative "
        "continues with more deterministic prose to produce several "
        "chunk boundaries in a row for this property test to bite on "
        "and even more text so multiple boundaries certainly appear"
    ) * 3
    shifted = "INSERTED PREFIX >> " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    out = cdc_chunks(df).toPandas()
    a = out[out.doc_id == 1].sort_values("chunk_idx")["chunk_md5"].tolist()
    b = out[out.doc_id == 2].sort_values("chunk_idx")["chunk_md5"].tolist()
    assert len(a) >= 3, f"need several chunks, got {len(a)}"
    # suffix alignment: every chunk after the insertion-affected first
    # boundary is IDENTICAL (the repeated base makes chunk md5s repeat,
    # so compare the SEQUENCES, not sets)
    k = 0
    while k < min(len(a), len(b)) and a[-1 - k] == b[-1 - k]:
        k += 1
    assert k >= len(a) - 2, (k, a, b)


def test_assign_splits_disjoint_stable_and_proportional(spark):
    """Splits are exhaustive+disjoint (single assignment per row),
    proportional to the weights, and STABLE under corpus growth: the
    assignment of an existing doc never changes when new docs arrive
    (the property random splits lack)."""
    from quanta_contrib.operators.sampling import assign_splits

    docs = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    a = assign_splits(docs).toPandas().set_index("doc_id")["split"]
    counts = a.value_counts(normalize=True)
    assert abs(counts.get("train", 0) - 0.9) < 0.03
    assert abs(counts.get("val", 0) - 0.05) < 0.02
    assert abs(counts.get("test", 0) - 0.05) < 0.02
    grown = spark.range(0, 8000).select(F.col("id").alias("doc_id"))
    b = assign_splits(grown).toPandas().set_index("doc_id")["split"]
    assert (b.loc[a.index] == a).all(), "existing assignments moved"


def test_systematic_weighted_sample_invariants(spark, docs):
    """Selection must be layout-independent, pick counts must sum to
    floor(total/stride), and per-row pick_count proportional to weight
    (a row spanning k ticks is picked k times)."""
    from quanta_contrib.operators.sampling import systematic_weighted_sample
    from quanta_contrib.operators.text import ws_token_count

    stride = 97
    a = systematic_weighted_sample(docs, ws_token_count(F.col("text")), stride)
    b = systematic_weighted_sample(
        docs.repartition(11), ws_token_count(F.col("text")), stride
    )
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0
    total = docs.select(F.sum(ws_token_count(F.col("text")))).first()[0]
    assert sum(r[3] for r in ra) == total // stride
    for _doc, w, cum, picks in ra:
        assert picks == cum // stride - (cum - w) // stride


def test_systematic_weighted_sample_empty(spark):
    from quanta_contrib.operators.sampling import systematic_weighted_sample

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = systematic_weighted_sample(empty, F.length("text"), 10)
    assert out.count() == 0
    assert out.columns == ["doc_id", "weight", "cum_weight", "pick_count"]


def test_temperature_mix_alpha_extremes(spark):
    """alpha=0 -> every stratum gets an equal budget slice regardless
    of its natural size; alpha=1 -> budgets proportional to natural
    token share. Checked via the kept rows' attached _budget."""
    from quanta_contrib.operators.sampling import temperature_mix

    rows = [(i, "big", 10) for i in range(100)] + [
        (1000 + i, "small", 10) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")
    uni = temperature_mix(df, budget=200, alpha=0.0)
    buds = {r["lang"]: r["_budget"] for r in uni.select("lang", "_budget").distinct().collect()}
    assert buds == {"big": 100, "small": 100}
    nat = temperature_mix(df, budget=220, alpha=1.0)
    buds = {r["lang"]: r["_budget"] for r in nat.select("lang", "_budget").distinct().collect()}
    assert buds == {"big": 200, "small": 20}


def test_temperature_mix_matches_single_window_reference(spark):
    """The two-phase per-stratum-budget prefix must equal the naive
    single-window greedy prefix under the same budgets, including a
    mega-stratum whose phase-1 buckets all overflow."""
    import math

    from quanta_contrib.operators.sampling import temperature_mix

    rows = []
    for i in range(500):  # mega stratum, varied sizes
        rows.append((i, "mega", 1 + (i * 7) % 23))
    for i in range(12):
        rows.append((10_000 + i, "tail", 5 + i))
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")
    budget, alpha = 600, 0.5
    got = {
        r["doc_id"]
        for r in temperature_mix(df, budget=budget, alpha=alpha).collect()
    }
    # reference: exact same rule in plain python
    tot = {}
    for _id, lang, n in rows:
        tot[lang] = tot.get(lang, 0) + n
    z = sum(math.pow(n, alpha) for n in tot.values())
    want = set()
    for lang in tot:
        t_i = math.floor(budget * math.pow(tot[lang], alpha) / z)
        run = 0
        for _id, l2, n in sorted(
            (r for r in rows if r[1] == lang), key=lambda r: (-r[2], r[0])
        ):
            if run + n > t_i:
                break
            run += n
            want.add(_id)
    assert got == want


def test_shuffle_shards_deterministic_and_dense(spark):
    """(shard_id, pos) is a function of doc_id alone: identical under
    different input partitionings; positions are dense 0..n_i-1 per
    shard; shards are hash-balanced."""
    from quanta_contrib.operators.sampling import shuffle_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {(r["doc_id"]): (r["shard_id"], r["pos"])
         for r in shuffle_shards(docs, 4).collect()}
    b = {(r["doc_id"]): (r["shard_id"], r["pos"])
         for r in shuffle_shards(docs.repartition(7), 4).collect()}
    assert a == b
    by_shard = {}
    for sid, pos in a.values():
        by_shard.setdefault(sid, []).append(pos)
    assert set(by_shard) == {0, 1, 2, 3}
    total = sum(len(v) for v in by_shard.values())
    for sid, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))
        assert len(poss) > total / 4 / 3  # no degenerate shard
    # order within a shard is NOT id order (it is a real shuffle)
    ids0 = sorted(
        (pos, d) for d, (sid, pos) in a.items() if sid == 0
    )
    assert [d for _p, d in ids0] != sorted(d for _p, d in ids0)
