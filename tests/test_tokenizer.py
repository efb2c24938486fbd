"""Distributed BPE training vs a reference Python implementation, plus
encode-side invariants (greedy merge semantics, compression)."""

from __future__ import annotations

import collections
import re

from pyspark.sql import functions as F

from quanta_contrib.operators.tokenizer import bpe_encode, bpe_train


def _ref_bpe(texts: list[str], n_merges: int):
    wc: collections.Counter = collections.Counter()
    for t in texts:
        for w in re.sub("[^a-z0-9]+", " ", t.lower()).strip().split():
            if w:
                wc[w] += 1
    syms = {tuple(w): n for w, n in wc.items()}
    out = []
    for step in range(n_merges):
        pc: collections.Counter = collections.Counter()
        for s, n in syms.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((step, l, r, cnt))
        ns: dict = {}
        for s, n in syms.items():
            w2 = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    w2.append(l + r)
                    i += 2
                else:
                    w2.append(s[i])
                    i += 1
            k = tuple(w2)
            ns[k] = ns.get(k, 0) + n
        syms = ns
    return out


def test_bpe_train_matches_reference(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(300)
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(docs, n_merges=8).orderBy("step").collect()
    ]
    ref = _ref_bpe([r["text"] for r in docs.select("text").collect()], 8)
    assert got == ref


def test_bpe_greedy_overlap_semantics(spark):
    # "aaa" under merge (a,a): greedy left-to-right -> ["aa","a"], so
    # the trained first merge of an all-'aaaa' corpus counts overlaps
    # but applies non-overlapping (the reference-implementation norm)
    docs = spark.createDataFrame([(i, "aaaa") for i in range(4)], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=2).orderBy("step").collect()
    assert (merges[0]["left_sym"], merges[0]["right_sym"]) == ("a", "a")
    # after merging, words are [aa, aa] so the next merge is (aa, aa)
    assert (merges[1]["left_sym"], merges[1]["right_sym"]) == ("aa", "aa")
    enc = bpe_encode(
        docs, [(m["left_sym"], m["right_sym"]) for m in merges]
    ).first()
    assert enc["tokens"] == ["aaaa"] and enc["n_tokens"] == 1


def test_bpe_encode_compresses_and_roundtrips(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(docs, n_merges=12).orderBy("step").collect()
    ]
    enc = bpe_encode(docs, merges)
    base = enc.select(
        F.sum(F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""))).alias("chars"),
        F.sum("n_tokens").alias("toks"),
    ).first()
    assert base["toks"] < base["chars"]  # merges actually compress
    # token concatenation reproduces the normalized words exactly
    row = enc.select("text", "tokens").first()
    norm = re.sub("[^a-z0-9]+", " ", row["text"].lower()).strip().replace(" ", "")
    assert "".join(row["tokens"]) == norm
