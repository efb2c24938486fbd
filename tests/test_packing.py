"""Sequence-packing operator: next-fit invariants that matter when the
packs feed a trainer — budget respected, order preserved, oversized
turns isolated, assignment independent of physical layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from quanta_contrib.operators.packing import pack_stats, pack_turns


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )


def test_next_fit_budget_and_order(spark):
    rows = [
        ("c1", 0, "a b c"),          # 3
        ("c1", 1, "d e"),            # 2  -> pack 0 (fill 5)
        ("c1", 2, "f g h i"),        # 4  -> overflow (5+4>6): pack 1
        ("c1", 3, "j"),              # 1  -> pack 1 (fill 5)
        ("c1", 4, "k l"),            # 2  -> overflow: pack 2
    ]
    got = {
        r["turn_idx"]: r["pack_idx"]
        for r in pack_turns(_df(spark, rows), budget=6).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_oversized_turn_gets_own_pack(spark):
    rows = [
        ("c1", 0, "a b"),                    # 2 -> pack 0
        ("c1", 1, "x " * 10),                # 10 > budget -> pack 1 alone
        ("c1", 2, "c"),                      # overflow -> pack 2
    ]
    packed = pack_turns(_df(spark, rows), budget=4)
    got = {r["turn_idx"]: r["pack_idx"] for r in packed.collect()}
    assert got == {0: 0, 1: 1, 2: 2}
    stats = {
        r["pack_idx"]: (r["n_turns"], r["pack_tokens"])
        for r in pack_stats(packed).collect()
    }
    assert stats[1] == (1, 10)  # oversized turn isolated, never split


def test_every_pack_within_budget_unless_single_oversized(spark, transcripts_dir):
    t = spark.read.parquet(transcripts_dir)
    budget = 32
    stats = pack_stats(pack_turns(t, budget=budget))
    bad = stats.filter(
        (F.col("pack_tokens") > budget) & (F.col("n_turns") > 1)
    ).count()
    assert bad == 0
    # packing must cover every turn exactly once
    assert t.count() == pack_turns(t, budget=budget).count()


def test_assignment_independent_of_partitioning(spark):
    rows = [("c%d" % c, i, "w " * ((c * 7 + i * 3) % 9 + 1)) for c in range(5) for i in range(12)]
    base = pack_turns(_df(spark, rows), budget=8)
    shuffled = pack_turns(_df(spark, rows).repartition(13), budget=8)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, shuffled.collect()))
    assert a == b


def test_pack_lm_examples_reconstructs_token_stream(spark):
    """Concatenating all examples in example_id order must equal the
    original documents' tokens + <eos>, in doc_id order — nothing
    lost, duplicated, or reordered; every example has exactly seq_len
    tokens except the last."""
    from quanta_contrib.operators.packing import pack_lm_examples

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    L = 64
    out = pack_lm_examples(docs, seq_len=L).orderBy("example_id").collect()
    sizes = [r["n_tokens"] for r in out]
    assert all(s == L for s in sizes[:-1]) and 1 <= sizes[-1] <= L
    assert [r["example_id"] for r in out] == list(range(len(out)))
    stream = " ".join(r["text"] for r in out)
    want = " ".join(
        r["text"].strip() + " <eos>"
        for r in docs.select("doc_id", "text").orderBy("doc_id").collect()
    )
    assert stream == want


def test_pack_lm_examples_doc_longer_than_seq_len_splits(spark):
    """A single document longer than seq_len must span multiple
    examples, split mid-document."""
    from quanta_contrib.operators.packing import pack_lm_examples

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens + eos = 11
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = {r["example_id"]: r for r in pack_lm_examples(docs, seq_len=4).collect()}
    assert len(out) == 3
    assert out[0]["text"] == "t0 t1 t2 t3"
    assert out[1]["text"] == "t4 t5 t6 t7"
    assert out[2]["text"] == "t8 t9 <eos>" and out[2]["n_tokens"] == 3


def test_pack_lm_examples_no_global_window(spark):
    """The offset axis must be per-range windows (shared q78 prefix
    machinery), never a one-task corpus window."""
    from quanta_contrib.operators.packing import pack_lm_examples

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = pack_lm_examples(docs, seq_len=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_rid" in plan, plan
    assert "windowspecdefinition(doc_id" not in plan, plan
