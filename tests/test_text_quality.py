"""Unit tests for the corpus-quality operator family: exact
duplicated-span detection (suffix-array-style dedup), C4/Gopher
rule-based quality filters, and DSIR importance weights."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from quanta_contrib.operators.sampling import dsir_weights
from quanta_contrib.operators.text import duplicate_spans, gopher_quality_filters


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- spans


def test_duplicate_spans_exact_positions(spark):
    """Two docs share one 10-token run; the span must cover exactly the
    shared positions (1-based inclusive token indexes) in each doc."""
    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    rows = [
        (1, "a b c " + shared + " x y z"),  # shared at tokens 4..13
        (2, shared + " p q r s t u v w"),  # shared at tokens 1..10
        (3, "entirely unique words never repeated anywhere else here ok"),
    ]
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_grams"], r["n_tokens"])
        for r in duplicate_spans(_docs(spark, rows), k=8).collect()
    }
    # k=8 over a 10-token shared run -> 3 grams, span width 10
    assert got[1] == (4, 13, 3, 10)
    assert got[2] == (1, 10, 3, 10)
    assert 3 not in got  # no duplicated gram -> no span


def test_duplicate_spans_merges_overlapping_and_splits_gaps(spark):
    """Adjacent duplicated gram positions merge into ONE maximal span;
    a gap in duplicated positions yields separate spans."""
    blk_a = " ".join(f"a{i}" for i in range(8))
    blk_b = " ".join(f"b{i}" for i in range(8))
    gap = "gap1 gap2 gap3 gap4 gap5 gap6 gap7 gap8 gap9"
    rows = [
        (1, blk_a + " " + gap + " " + blk_b),
        (2, blk_a + " zz1 zz2 zz3 zz4 zz5 zz6 zz7"),
        (3, blk_b + " yy1 yy2 yy3 yy4 yy5 yy6 yy7"),
    ]
    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicate_spans(_docs(spark, rows), k=8)
        .filter("doc_id = 1")
        .collect()
    )
    assert spans == [(1, 8), (18, 25)]  # two islands, not one merged span


def test_duplicate_spans_requires_distinct_docs(spark):
    """A gram repeated WITHIN one doc only is not corpus duplication."""
    blk = " ".join(f"t{i}" for i in range(8))
    rows = [(1, blk + " mid1 mid2 " + blk), (2, "other words " * 8)]
    got = duplicate_spans(_docs(spark, rows), k=8).collect()
    assert got == []


# -------------------------------------------------------------- gopher


def test_gopher_rules_each_trip_independently(spark):
    stop = ["the", "a", "of", "to"]
    good = "the a " + " ".join(f"word{i:03d}" for i in range(60))
    rows = [
        (1, good),  # passes everything
        (2, "the a short doc"),  # word-count floor
        (3, "spam " * 79 + "spam the a"),  # dup-word ratio
        (4, " ".join("x" * 40 for _ in range(58)) + " the a"),  # word len
        (5, good + " {"),  # brace blocklist
        (6, good + " lorem ipsum"),  # lorem blocklist
        (7, " ".join(f"word{i:03d}" for i in range(62))),  # no stopwords
    ]
    got = {
        r["doc_id"]: r
        for r in gopher_quality_filters(_docs(spark, rows), stopwords=stop).collect()
    }
    assert got[1]["keep"] is True
    for bad in (2, 3, 4, 5, 6, 7):
        assert got[bad]["keep"] is False, bad
    assert got[5]["has_brace"] and got[6]["has_lorem"]
    assert got[2]["n_words"] == 4
    assert got[7]["stopword_hits"] == 0 and got[1]["stopword_hits"] == 2


def test_gopher_signals_integer_fixed_point(spark):
    """mean_word_len_e4 / dup_word_ratio_e4 are exact e4 longs."""
    rows = [(1, "aa bbb cccc the a")]  # 5 words, 13 chars
    r = gopher_quality_filters(
        _docs(spark, rows), stopwords=["the", "a"]
    ).collect()[0]
    assert r["mean_word_len_e4"] == 26000  # 13/5 = 2.6
    assert r["dup_word_ratio_e4"] == 0  # all distinct


# ---------------------------------------------------------------- dsir


def test_dsir_target_like_docs_score_higher(spark):
    """Docs built from the target slice's vocabulary must outscore docs
    from the disjoint raw-only vocabulary."""
    t_vocab = "alpha beta gamma delta epsilon zeta"
    r_vocab = "uno dos tres cuatro cinco seis"
    rows = (
        [(i, t_vocab) for i in range(10)]  # target slice
        + [(100 + i, t_vocab) for i in range(5)]  # target-like, unlabeled
        + [(200 + i, r_vocab) for i in range(25)]  # raw-only
    )
    got = {
        r["doc_id"]: r["score_e4"]
        for r in dsir_weights(
            _docs(spark, rows), target=F.col("doc_id") < 100
        ).collect()
    }
    assert min(got[i] for i in range(100, 105)) > max(
        got[200 + i] for i in range(25)
    )
    assert all(got[100 + i] == got[100] for i in range(5))  # deterministic


def test_dsir_feature_count_and_short_doc_drop(spark):
    rows = [(1, "a b c"), (2, "single")]
    got = dsir_weights(_docs(spark, rows), target=F.lit(True)).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[1]["n_features"] == 2  # bigrams of a 3-token doc
    assert 2 not in by_id  # <2 tokens -> no bigram features


def test_fuzzy_decontaminate_threshold_semantics(spark):
    """min_overlap_bp: flagged iff hits*10000 >= bp*total; a doc with
    3/10 grams overlapping is contaminated at 2500bp but not 4000bp;
    short docs (< n tokens, 0 grams) are never flagged."""
    from quanta_contrib.operators.text import decontaminate

    # doc 1: 12 tokens -> 10 distinct 3-grams, 3 of which overlap bench
    d1 = "a b c d e f g h i j k l"
    bench = spark.createDataFrame([("a b c d e",)], "text string")
    docs = spark.createDataFrame(
        [(1, d1), (2, "z y x w v u t s r q p o"), (3, "tiny doc")],
        "doc_id long, text string",
    )
    lo = {r["doc_id"]: r for r in decontaminate(docs, bench, n=3, min_overlap_bp=2500).collect()}
    hi = {r["doc_id"]: r for r in decontaminate(docs, bench, n=3, min_overlap_bp=4000).collect()}
    assert lo[1]["n_contaminated_grams"] == 3 and lo[1]["n_grams_total"] == 10
    assert lo[1]["contaminated"] is True and hi[1]["contaminated"] is False
    assert lo[2]["contaminated"] is False
    assert lo[3]["n_grams_total"] == 0 and lo[3]["contaminated"] is False


def test_inverted_index_head_truncation_and_stats(spark):
    """Posting heads must be the k SMALLEST doc ids (numeric order, not
    lexicographic — doc 10 sorts after 2), df counts distinct docs, and
    total_tf counts every occurrence."""
    from quanta_contrib.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(i, "alpha alpha beta") for i in [2, 10, 1, 30, 4, 25, 7]]
        + [(99, "beta gamma")],
        "doc_id long, text string",
    )
    got = {r["term"]: r for r in inverted_index(docs, head_k=3).collect()}
    assert set(got) == {"alpha", "beta", "gamma"}
    a = got["alpha"]
    assert (a["doc_freq"], a["total_tf"]) == (7, 14)
    assert a["posting_head"] == "1,2,4"          # numeric min-3, truncated
    assert (a["min_doc_id"], a["max_doc_id"]) == (1, 30)
    b = got["beta"]
    assert (b["doc_freq"], b["total_tf"], b["posting_head"]) == (8, 8, "1,2,4")
    g = got["gamma"]
    assert (g["doc_freq"], g["posting_head"]) == (1, "99")


# ---------------------------------------------------------------- zipf


def test_zipf_slope_near_minus_one_on_zipfian_text(spark):
    from quanta_contrib.operators.text import zipf_fit

    # word_r planted floor(600/r) times, r = 1..40 -> freq ~ 1/rank
    words = []
    for r in range(1, 41):
        words += [f"w{r:02d}"] * (600 // r)
    df = spark.createDataFrame(
        [(1, " ".join(words), "zz")], "doc_id long, text string, lang string"
    )
    row = zipf_fit(df, max_rank=40).collect()[0]
    assert row["n_ranks"] == 40
    assert -11_500 <= row["slope_bp"] <= -8_500  # slope within 15% of -1


def test_zipf_flat_on_uniform_vocab(spark):
    from quanta_contrib.operators.text import zipf_fit

    words = [f"u{r:02d}" for r in range(40)] * 50  # every word equally common
    df = spark.createDataFrame(
        [(1, " ".join(words), "zz")], "doc_id long, text string, lang string"
    )
    row = zipf_fit(df, max_rank=40).collect()[0]
    assert abs(row["slope_bp"]) <= 100  # essentially flat


def test_zipf_validation(spark):
    from quanta_contrib.operators.text import zipf_fit

    df = spark.createDataFrame([(1, "a b", "zz")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="max_rank"):
        zipf_fit(df, max_rank=1)


# ---------------------------------------------------------------- pii


def test_pii_luhn_separates_valid_from_near_miss(spark):
    from quanta_contrib.operators.text import pii_scan

    df = spark.createDataFrame(
        [
            (1, "pay with 4242424242424242 today"),   # valid Luhn
            (2, "pay with 4242424242424243 today"),   # off-by-one: reject
            (3, "order 1234 5678 9012 3456 shipped"), # spaced, invalid
            (4, "amex 3782 822463 10005 ok"),         # valid (15 digits)
            (5, "short 4242 4242 4242"),              # 12 digits: too short
            (6, "tiny 4242 4242 run"),                # 8 digits: no candidate
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert out[1]["n_luhn_valid"] == 1 and out[1]["has_pii"]
    assert out[2]["n_cc_candidates"] == 1 and out[2]["n_luhn_valid"] == 0
    assert out[3]["n_luhn_valid"] == 0
    # 12 digits is a char-shape candidate but the 13-19 DIGIT gate in
    # the validator rejects it
    assert out[4]["n_luhn_valid"] == 1
    assert out[5]["n_cc_candidates"] == 1 and out[5]["n_luhn_valid"] == 0
    assert out[6]["n_cc_candidates"] == 0


def test_pii_ipv4_octet_range_enforced(spark):
    from quanta_contrib.operators.text import pii_scan

    df = spark.createDataFrame(
        [
            (1, "hosts 10.0.0.1 and 255.255.255.255"),
            (2, "bogus 256.1.2.3 and 999.888.777.666 and 1.2.3"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert out[1]["n_ipv4"] == 2
    assert out[2]["n_ipv4"] == 0 and not out[2]["has_pii"]


def test_pmi_ranks_exclusive_pair_over_frequent_pair(spark):
    """'alpha beta' always co-occur (exclusively); 'the end' co-occurs
    but 'the' is glued to everything — PMI must rank the exclusive
    pair strictly higher even though both pairs have equal counts."""
    from quanta_contrib.operators.text import pmi_collocations

    rows = [(i, "alpha beta . the end . the cat . the dog") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r["pmi_bp"] for r in
           pmi_collocations(df, min_count=5, top_n=50).collect()}
    assert ("alpha", "beta") in out and ("the", "end") in out
    assert out[("alpha", "beta")] > out[("the", "end")]


def test_pmi_min_count_and_validation(spark):
    from quanta_contrib.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [(1, "rare pair"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    # pair_count 1 < min_count 2 -> filtered; empty doc must not crash
    assert pmi_collocations(df, min_count=2).count() == 0
    got = {(r["w1"], r["w2"]) for r in pmi_collocations(df, min_count=1).collect()}
    assert ("rare", "pair") in got
    with pytest.raises(ValueError):
        pmi_collocations(df, min_count=0)
    with pytest.raises(ValueError):
        pmi_collocations(df, top_n=0)


def test_script_profile_counts_and_dominant(spark):
    from quanta_contrib.operators.text import script_profile

    rows = [
        (1, "hello world"),               # latin dominant
        (2, "Привет мир!"),               # cyrillic dominant
        (3, "中文 abc"),                   # latin 3 > cjk 2
        (4, "中文中文 ab"),                # cjk 4 > latin 2
        (5, "!!! ???"),                   # punctuation -> other
        (6, "abc 123"),                   # latin ties... 3 vs 3 digits
        (7, "مرحبا"),                     # arabic
        (8, ""),                          # empty -> all zero, other wins ties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert out[1]["dominant"] == "latin" and out[1]["n_latin"] == 10
    assert out[2]["dominant"] == "cyrillic" and out[2]["n_cyrillic"] == 9
    assert out[2]["n_other"] == 1  # the '!'
    assert out[3]["dominant"] == "latin"
    assert out[4]["dominant"] == "cjk"
    assert out[5]["dominant"] == "other" and out[5]["n_other"] == 6
    # tie latin=3 digit=3 -> fixed priority: latin
    assert out[6]["dominant"] == "latin"
    assert out[7]["dominant"] == "arabic" and out[7]["n_arabic"] == 5
    assert out[8]["dominant"] == "other" and out[8]["n_chars"] == 0
    # whitespace never counts toward any script or other
    assert out[1]["n_other"] == 0
