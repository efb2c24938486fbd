"""Property tests for the hash-seeded operators (no SQL oracle is
possible — cross-engine hash parity doesn't exist), pinning the
guarantees that matter: planted duplicates are FOUND, and the exact
verify stage keeps precision at 1.0."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quanta_spark.operators.dedup import minhash_signatures
from quanta_contrib.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_candidates,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from quanta_contrib.operators.similarity import brute_force_cosine_topk, lsh_cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs2(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clones = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs.unionByName(clones).select("doc_id", "text").cache()


def test_exact_dedup_finds_planted_clones(spark, docs2):
    groups = exact_dedup_groups(docs2).filter(F.col("n_copies") > 1)
    n_planted = docs2.filter(F.col("doc_id") >= 1_000_000).count()
    assert groups.count() == n_planted
    assert groups.agg(F.max("n_copies")).first()[0] == 2


def test_minhash_finds_all_planted_clones(spark, docs2):
    """An exact duplicate has identical minhash signature in every
    band, so LSH recall on clones is 1.0 by construction."""
    pairs = minhash_near_dup_pairs(docs2, threshold=0.99)
    found = {
        (r["doc_a"], r["doc_b"]) for r in pairs.collect()
    }
    expected = {
        (i, i + 1_000_000)
        for (i,) in docs2.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000)
        ).select("doc_id").collect()
    }
    assert expected <= found
    # verify stage precision: every reported pair really has jaccard>=.99
    assert pairs.filter(F.col("jaccard") < 0.99).count() == 0


def test_minhash_candidates_bounded(spark, docs2):
    """LSH shouldn't degenerate to all-pairs on unrelated docs."""
    n_docs = docs2.count()
    sigs = minhash_signatures(docs2)
    cands = minhash_lsh_candidates(sigs).count()
    assert cands < n_docs * (n_docs - 1) / 8, "candidate explosion"


def test_simhash_finds_planted_clones(spark, docs2):
    pairs = simhash_near_dup_pairs(docs2, max_hamming=0)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    expected = {
        (i, i + 1_000_000)
        for (i,) in docs2.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000)
        ).select("doc_id").collect()
    }
    assert expected <= found


def test_ngram_jaccard_identical_docs_is_one(spark, docs2):
    pair = spark.createDataFrame(
        [(0, 1_000_000)], "doc_a long, doc_b long"
    )
    out = ngram_jaccard_pairs(docs2, pair_df=pair).first()
    assert out["jaccard"] == 1.0


def test_dedup_components_chain_and_islands(spark):
    """Min-label propagation must follow transitive chains (diameter >
    1), keep islands separate, and label every component by its min id."""
    from quanta_contrib.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(3, 7), (7, 12), (12, 20), (40, 41), (50, 41)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component_id"] for r in dedup_components(pairs).collect()}
    assert got == {3: 3, 7: 3, 12: 3, 20: 3, 40: 40, 41: 40, 50: 40}


def test_dedup_components_high_diameter_chain(spark):
    """A 1,000-node chain (diameter 999 — the topology of shingled
    spam) must converge within the default round budget: alternating
    large/small-star contracts in O(log n) rounds where per-hop label
    propagation needs one round per hop."""
    from quanta_contrib.operators.dedup import dedup_components

    n = 1000
    chain = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    # shift ids so the min vertex is NOT 0 (guards accidental zeros)
    chain = chain.select((F.col("doc_a") + 5).alias("doc_a"), (F.col("doc_b") + 5).alias("doc_b"))
    labels = dedup_components(chain).toPandas()
    assert len(labels) == n
    assert set(labels["doc_id"]) == set(range(5, n + 5))
    assert (labels["component_id"] == 5).all()


def test_dedup_components_two_chains_interleaved(spark):
    """Two interleaved odd/even chains must stay separate components
    through the star contractions (adjacent ids in different
    components stress the min-attachment steps)."""
    from quanta_contrib.operators.dedup import dedup_components

    n = 400
    pairs = spark.createDataFrame(
        [(i, i + 2) for i in range(0, n, 2)]
        + [(i, i + 2) for i in range(1, n, 2)],
        "doc_a long, doc_b long",
    )
    labels = dedup_components(pairs).toPandas()
    evens = labels[labels["doc_id"] % 2 == 0]
    odds = labels[labels["doc_id"] % 2 == 1]
    assert (evens["component_id"] == 0).all()
    assert (odds["component_id"] == 1).all()
    assert len(labels) == n + 2


def test_stream_dedup_eviction_boundary(spark, tmp_workdir):
    """Within-watermark duplicates are suppressed; duplicates farther
    apart than the watermark re-emit after state eviction — the
    bounded-state contract of streaming dedup."""
    import os

    import pandas as pd

    from quanta_spark.operators.dedup import stream_dedup_exact
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    base = pd.Timestamp("2025-01-01 00:00:00")
    # batch 1: first occurrences; batch 2: near-dup of alpha (state
    # alive -> suppressed) + a filler far in the future; batch 3:
    # another filler — needed because batch N's watermark is batch
    # N-1's max event time minus delay, and state cleanup runs AFTER
    # row processing: beta's state is only evicted at the end of
    # batch 3; batch 4: beta again AFTER eviction -> re-emitted.
    batches = [
        [
            ("c1", 0, "user", "alpha text", None, base),
            ("c2", 0, "user", "beta text", None, base),
        ],
        [
            ("c1", 1, "user", "alpha text", None, base + pd.Timedelta(minutes=10)),
            ("cf", 0, "user", "filler text", None, base + pd.Timedelta(days=5)),
        ],
        [
            ("cf", 1, "user", "filler2 text", None, base + pd.Timedelta(days=5, minutes=1)),
        ],
        [
            ("c2", 1, "user", "beta text", None, base + pd.Timedelta(days=10)),
        ],
    ]
    frames = [
        pd.DataFrame(
            b, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ).astype({"turn_idx": "int32"})
        for b in batches
    ]
    data_dir = os.path.join(tmp_workdir, "in")
    os.makedirs(data_dir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("conv_id", pa.string()),
            pa.field("turn_idx", pa.int32()),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    # one file per micro-batch; mtimes pinned so the file source
    # processes them strictly in order with maxFilesPerTrigger=1
    import time as _time

    t0 = _time.time() - 3600
    for i, frame in enumerate(frames):
        path = os.path.join(data_dir, f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(frame, schema=schema, preserve_index=False), path
        )
        os.utime(path, (t0 + i * 10, t0 + i * 10))

    out: list = []
    src = stream_transcripts_files(spark, data_dir, max_files_per_trigger=1)
    h = start_pipeline(
        stream_dedup_exact(src, watermark="1 hour"),
        lambda b, i: out.extend(r["fingerprint"] for r in b.collect()),
        os.path.join(tmp_workdir, "ckpt"),
    )
    run_to_completion(h)
    from collections import Counter
    from hashlib import md5

    counts = Counter(out)
    fp = lambda t: md5(t.encode()).hexdigest()  # noqa: E731 (normalized == raw here)
    assert counts[fp("alpha text")] == 1, counts  # within-watermark dup suppressed
    assert counts[fp("beta text")] == 2, counts  # re-emitted after state eviction
    assert counts[fp("filler text")] == 1 and counts[fp("filler2 text")] == 1, counts


@pytest.fixture(scope="module")
def emb2(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    clones = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    return emb.unionByName(clones).cache()


def test_brute_force_top1_is_planted_clone(spark, emb2):
    queries = emb2.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 1_000_000)
    )
    top = brute_force_cosine_topk(emb2, queries, k=1).collect()
    for r in top:
        assert r["vec_id"] == r["query_id"] + 1_000_000, r
        assert r["sim_bp"] == 10_000


def test_lsh_top1_finds_planted_clone(spark, emb2):
    """Identical vectors always share every hyperplane bucket, so the
    clone is guaranteed to be in the probed candidate set."""
    queries = emb2.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 1_000_000)
    )
    top = lsh_cosine_topk(emb2, queries, k=1).collect()
    assert len(top) > 0
    for r in top:
        assert r["vec_id"] == r["query_id"] + 1_000_000, r
        assert r["sim_bp"] == 10_000


def test_lsh_recall_vs_brute_force(spark, emb2):
    queries = emb2.filter(F.col("vec_id") == 0)
    bf = {r["vec_id"] for r in brute_force_cosine_topk(emb2, queries, k=10).collect()}
    ls = {r["vec_id"] for r in lsh_cosine_topk(emb2, queries, k=10, n_bits=4).collect()}
    assert len(bf & ls) / len(bf) >= 0.2, f"LSH recall collapsed: {bf & ls}"


def test_hyperplane_multiprobe_contract(spark, emb2):
    """Multi-probe query signatures: extra_probes+1 DISTINCT buckets per
    query, the exact (corpus-side) bucket always among them, and every
    extra probe exactly one bit-flip away — so a (query, vec) candidate
    pair still meets at most once and no downstream dedup is needed."""
    from quanta_contrib.operators.similarity import (
        hyperplane_probes,
        hyperplane_signature,
    )

    queries = emb2.filter(F.col("vec_id") % 100 == 0)
    base = {
        r["vec_id"]: r["bucket"]
        for r in hyperplane_signature(queries, n_bits=8).collect()
    }
    probed: dict[int, list[int]] = {}
    for r in hyperplane_probes(queries, n_bits=8, extra_probes=4).collect():
        probed.setdefault(r["vec_id"], []).append(r["bucket"])
    assert set(probed) == set(base)
    for vid, buckets in probed.items():
        assert len(buckets) == 5 and len(set(buckets)) == 5, (vid, buckets)
        assert base[vid] in buckets, (vid, base[vid], buckets)
        for b in buckets:
            flipped = b ^ base[vid]
            assert flipped == 0 or bin(flipped).count("1") == 1, (vid, b)


def test_hyperplane_param_guards(spark, emb2):
    """n_bits beyond 62 would shift past int64 bucket ids and silently
    alias buckets; both entry points must reject it loudly, as must a
    negative probe count."""
    import pytest

    from quanta_contrib.operators.similarity import (
        hyperplane_probes,
        hyperplane_signature,
    )

    for bad in (0, 63):
        with pytest.raises(ValueError, match="n_bits"):
            hyperplane_signature(emb2, n_bits=bad)
        with pytest.raises(ValueError, match="n_bits"):
            hyperplane_probes(emb2, n_bits=bad)
    with pytest.raises(ValueError, match="extra_probes"):
        hyperplane_probes(emb2, n_bits=8, extra_probes=-1)


def test_query_budget_counts_raw_queries_not_probe_expansion(spark, emb2, monkeypatch):
    """MAX_BROADCAST_QUERIES bounds the QUERY SET the caller supplies;
    multi-probe expansion must not shrink the effective ceiling by
    (extra_probes+1)x — a query set under the documented limit has to
    work at any probe count, and one over it must fail on its own size."""
    from quanta_contrib.operators import similarity

    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERIES", 5)
    under = emb2.filter(F.col("vec_id") < 4)  # 4 queries x 5 probe rows = 20 > 5
    out = similarity.lsh_cosine_topk(emb2, under, k=2, extra_probes=4)
    assert out.count() > 0
    over = emb2.filter(F.col("vec_id") < 6)
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
        similarity.lsh_cosine_topk(emb2, over, k=2, extra_probes=0)


def test_multiprobe_recall_dominates_single_probe(spark, emb2):
    """Superset candidates + exact-cosine rerank => recall@k can only
    rise with extra probes (the tuned-default justification)."""
    queries = emb2.filter((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 1000))
    bf = {r["vec_id"] for r in brute_force_cosine_topk(emb2, queries, k=10).collect()}

    def recall(probes: int) -> float:
        got = {
            r["vec_id"]
            for r in lsh_cosine_topk(
                emb2, queries, k=10, n_bits=8, extra_probes=probes
            ).collect()
        }
        return len(bf & got) / len(bf)

    assert recall(4) >= recall(0)


def test_hyperplane_signature_is_join_free(spark, emb2):
    """The gaussian-LSH signature pass must carry the embedding through
    the Arrow batch instead of re-attaching it with a vec_id self-join
    (an avoidable shuffle+join per signature pass at corpus scale)."""
    from quanta_contrib.operators.similarity import hyperplane_signature

    sig = hyperplane_signature(emb2, n_bits=8, dim=64)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert set(sig.columns) == {"vec_id", "embedding", "bucket"}
    # buckets deterministic + within range
    row = sig.filter(F.col("vec_id") == 0).first()
    assert 0 <= row["bucket"] < 256


def test_auto_n_blocks_bounds_task_memory(spark):
    """Derived block count keeps one block-pair task under the memory
    target at every corpus size, scales with n, and never exceeds n."""
    from quanta_contrib.operators.similarity import auto_n_blocks

    target = 256 << 20
    last = 1
    for n in [100, 10_000, 1_000_000, 100_000_000, 10_000_000_000]:
        b = auto_n_blocks(n, dim=64, target_task_bytes=target, parallelism=32)
        assert 1 <= b <= n
        assert b >= last  # monotone in corpus size
        last = b
        rows_per_block = -(-n // b)
        sims_bytes = rows_per_block * rows_per_block * 8
        mats_bytes = 2 * rows_per_block * 64 * 8
        assert sims_bytes <= target / 2 * 1.01, (n, b)
        assert mats_bytes <= target / 2 * 1.01, (n, b)
    # enough block pairs to fill the cores
    b = auto_n_blocks(10_000_000, dim=64, parallelism=32)
    assert b * (b + 1) / 2 >= 32


def test_exact_allpairs_auto_blocks_matches_static(spark, emb2):
    """Auto-derived blocking returns the same pair set as any static
    blocking (exactness is invariant to B)."""
    from quanta_contrib.operators.similarity import exact_allpairs_cosine

    sample = emb2.filter(F.col("vec_id") % 5 == 0)
    auto = {(r["vec_a"], r["vec_b"]) for r in exact_allpairs_cosine(sample, 0.4).collect()}
    static = {
        (r["vec_a"], r["vec_b"])
        for r in exact_allpairs_cosine(sample, 0.4, n_blocks=3).collect()
    }
    assert auto == static and len(auto) > 0


def test_ivf_top1_is_planted_clone(spark, emb2):
    """An identical vector lands in the same assignment cell as its
    original (same argmax over identical sims), and a query always
    probes its own cell first — so the clone is in the candidate set
    by construction."""
    from quanta_contrib.operators.similarity import ivf_cosine_topk

    queries = emb2.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 1_000_000)
    )
    top = ivf_cosine_topk(emb2, queries, k=1, n_cells=8, nprobe=2).collect()
    assert len(top) > 0
    for r in top:
        assert r["vec_id"] == r["query_id"] + 1_000_000, r
        assert r["sim_bp"] == 10_000


def test_ivf_recall_improves_with_nprobe(spark, emb2):
    """More probed cells can only widen the candidate set; at
    nprobe == n_cells the scan is exhaustive so recall vs brute force
    is 1.0 (top-k values identical, modulo equal-sim_bp ties)."""
    from quanta_contrib.operators.similarity import ivf_cosine_topk

    queries = emb2.filter(F.col("vec_id") == 0)
    bf = {r["vec_id"] for r in brute_force_cosine_topk(emb2, queries, k=10).collect()}
    narrow = {
        r["vec_id"]
        for r in ivf_cosine_topk(emb2, queries, k=10, n_cells=8, nprobe=2).collect()
    }
    full = {
        r["vec_id"]
        for r in ivf_cosine_topk(emb2, queries, k=10, n_cells=8, nprobe=8).collect()
    }
    assert len(bf & full) / len(bf) == 1.0, f"exhaustive probe missed: {bf - full}"
    assert len(bf & narrow) <= len(bf & full)


def test_ivf_assignment_is_join_and_shuffle_free(spark, emb2):
    """Cell assignment must be a single broadcast-matrix Arrow pass —
    no join, no exchange (the corpus-side plan at 10^12 rows is scan ->
    assign -> shuffle-on-cell_id ONLY at the final candidate join)."""
    from quanta_contrib.operators.similarity import _ivf_cells, _ivf_centroids

    _, cm = _ivf_centroids(emb2, 8)
    assigned = _ivf_cells(emb2, cm, 1, "vec_id", "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    # every vector in exactly one cell, ids in range
    n_rows = assigned.count()
    assert n_rows == emb2.count()
    assert assigned.filter((F.col("cell_id") < 0) | (F.col("cell_id") >= 8)).count() == 0


def test_ivf_centroids_deterministic_and_bounded(spark, emb2):
    from quanta_contrib.operators.similarity import (
        MAX_IVF_CELLS,
        _ivf_centroids,
        ivf_cosine_topk,
    )

    ids1, m1 = _ivf_centroids(emb2, 8)
    ids2, m2 = _ivf_centroids(emb2, 8)
    assert (ids1 == ids2).all() and (m1 == m2).all()
    with pytest.raises(ValueError, match="MAX_IVF_CELLS"):
        ivf_cosine_topk(emb2, emb2.limit(1), n_cells=MAX_IVF_CELLS + 1)


def test_ivf_auto_n_cells_sqrt_sizing(spark):
    """Default cell count grows ~sqrt(n) (sublinear candidate work at
    fixed nprobe) and never exceeds the broadcast ceiling."""
    from quanta_contrib.operators.similarity import MAX_IVF_CELLS, auto_n_cells

    assert auto_n_cells(0) == 1
    assert auto_n_cells(100) == 10
    assert auto_n_cells(1_000_000) == min(1000, MAX_IVF_CELLS)
    assert auto_n_cells(10**12) == MAX_IVF_CELLS


def test_pq_clone_achieves_minimum_distance(spark, emb2):
    """ADC is ASYMMETRIC: the distance to an identical vector is the
    query's own quantization error, NOT zero — but the clone's codes
    minimize every subspace term independently, so its distance is the
    global minimum any candidate can achieve. The clone must be ranked
    first (modulo exact-code ties, which share its distance)."""
    from quanta_contrib.operators.similarity import pq_adc_topk

    queries = emb2.filter(F.col("vec_id") == 0)
    rows = pq_adc_topk(emb2, queries, k=5).collect()
    assert len(rows) == 5
    clone = [r for r in rows if r["vec_id"] == 1_000_000]
    assert clone, rows
    assert clone[0]["adist_micro"] == rows[0]["adist_micro"], rows


def test_pq_codes_shape_and_determinism(spark, emb2):
    from quanta_contrib.operators.similarity import _pq_centroids, pq_encode

    cent = _pq_centroids(emb2, 16, 8, 8)
    assert cent.shape == (8, 16, 8)
    codes = pq_encode(emb2, cent)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
    pdf = codes.toPandas()
    assert len(pdf) == emb2.count()
    for c in pdf["codes"].head(100):
        assert len(c) == 8 and all(0 <= x < 16 for x in c)
    # deterministic: same codes on re-run
    pdf2 = pq_encode(emb2, cent).toPandas()
    a = pdf.sort_values("vec_id").reset_index(drop=True)
    b = pdf2.sort_values("vec_id").reset_index(drop=True)
    assert all((x == y).all() for x, y in zip(a["codes"], b["codes"]))


def test_pq_recall_floor_vs_brute_force(spark, emb2):
    from quanta_contrib.operators.similarity import pq_adc_topk

    queries = emb2.filter(F.col("vec_id") == 0)
    bf = {r["vec_id"] for r in brute_force_cosine_topk(emb2, queries, k=10).collect()}
    pq = {r["vec_id"] for r in pq_adc_topk(emb2, queries, k=10).collect()}
    assert len(bf & pq) >= 1, f"PQ recall collapsed: bf={bf}, pq={pq}"


def test_quantize_int8_roundtrip_error_bound(spark, emb2):
    """Codes stay in int8 range and per-coordinate reconstruction
    error is <= scale/2 (the half-step bound of round-to-nearest);
    the plan is pure codegen — no shuffle, no Python eval."""
    from quanta_contrib.operators.similarity import quantize_int8

    qd = quantize_int8(emb2)
    plan = qd._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    rows = qd.collect()
    assert len(rows) == emb2.count()
    for r in rows[:200]:
        assert all(-127 <= v <= 127 for v in r["q"]), r["vec_id"]
        recon = [v * r["scale"] for v in r["q"]]
        for x, y in zip(r["embedding"], recon):
            assert abs(float(x) - y) <= r["scale"] / 2 + 1e-12


def test_decontaminate_flags_planted_overlap(spark, docs2):
    """Documents whose 12-token prefix is in the benchmark set must be
    flagged; a benchmark of out-of-vocabulary grams flags nothing; the
    benchmark gram set reaches the corpus via a broadcast join (no
    corpus-sized shuffle)."""
    from quanta_spark.operators.dedup import normalized
    from quanta_contrib.operators.text import decontaminate

    docs = docs2.filter(F.col("doc_id") < 1_000_000)
    bench = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.array_join(F.slice(F.split(normalized(F.col("text")), " "), 1, 12), " ")
        .alias("text")
    )
    out = decontaminate(docs, bench, n=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    flagged = {r["doc_id"] for r in out.filter("contaminated").collect()}
    planted = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 100 == 0).collect()}
    assert planted <= flagged

    nonsense = spark.createDataFrame(
        [("zz yy xx ww vv uu tt ss rr qq pp oo",)], "text string"
    )
    clean = decontaminate(docs, nonsense, n=8)
    assert clean.filter("contaminated").count() == 0
    assert clean.count() == docs.count()


def test_hll_sketch_merge_shard_invariance(spark, docs2):
    """The merged estimate must be stable (within the HLL error
    bound) regardless of how the corpus was sharded (2-way vs 7-way vs
    per-row) — the property that lets a pipeline keep per-day sketches
    and merge any subset later. Bit-equality does NOT hold: union may
    resolve sparse-vs-dense sketch modes differently per split."""
    from quanta_contrib.operators.sketches import (
        merged_distinct_estimate,
        shard_sketches,
    )

    docs = docs2.withColumn("lang", F.lit("all"))
    estimates = []
    for mod in (2, 7, 1000):
        sk = shard_sketches(docs, "lang", F.col("text"), F.pmod(F.col("doc_id"), F.lit(mod)))
        est = merged_distinct_estimate(sk, "lang").first()["distinct_estimate"]
        estimates.append(est)
    exact = docs.select("text").distinct().count()
    for est in estimates:
        assert abs(est - exact) <= 0.05 * exact, (est, exact)
    assert max(estimates) - min(estimates) <= 0.02 * exact, estimates


def test_ivf_nprobe_clamped_and_query_budget_enforced(spark, emb2):
    """nprobe > n_cells must degrade to an exhaustive probe (not a
    pandas length crash), and an unbounded query set must hit the
    broadcast ceiling, not OOM executors."""
    from quanta_contrib.operators.similarity import (
        MAX_BROADCAST_QUERIES,
        ivf_cosine_topk,
    )

    queries = emb2.filter(F.col("vec_id") == 0)
    full = ivf_cosine_topk(emb2, queries, k=5, n_cells=4, nprobe=99).collect()
    assert len(full) == 5  # exhaustive probe == brute force over cells
    import pytest
    from unittest.mock import patch

    with patch(
        "quanta_contrib.operators.similarity.MAX_BROADCAST_QUERIES", 3
    ):
        with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
            ivf_cosine_topk(emb2, emb2.limit(10), k=1, n_cells=4)


def test_pq_rerank_recovers_recall_over_raw_pq(spark, emb2):
    """Two-stage PQ->exact rerank must (a) find the planted exact clone
    at rank 1 whenever it survives the shortlist, and (b) beat raw
    PQ+ADC top-k recall vs brute-force ground truth — the whole point
    of paying the shortlist-sized raw-vector fetch."""
    from quanta_contrib.operators.similarity import (
        brute_force_cosine_topk,
        pq_adc_topk,
        pq_rerank_topk,
    )

    queries = emb2.filter(F.col("vec_id") == 0)
    k = 10
    bf = {r["vec_id"] for r in brute_force_cosine_topk(emb2, queries, k=k).collect()}
    pq = {r["vec_id"] for r in pq_adc_topk(emb2, queries, k=k).collect()}
    rr_rows = pq_rerank_topk(emb2, queries, k=k, shortlist=100).collect()
    rr = {r["vec_id"] for r in rr_rows}
    assert len(rr & bf) >= len(pq & bf), (rr & bf, pq & bf)
    # within the shortlist the rerank is EXACT cosine: its rank-1 hit
    # for the cloned query must be the planted identical vector
    top1 = min(rr_rows, key=lambda r: r["rank"])
    assert top1["vec_id"] == 1_000_000 and top1["sim_bp"] == 10_000


def test_pq_rerank_broadcasts_shortlist_and_queries(spark, emb2):
    """The rerank joins must broadcast the tiny sides — the 10^12-row
    corpus scan must never shuffle for the candidate fetch."""
    from quanta_contrib.operators.similarity import pq_rerank_topk

    queries = emb2.filter(F.col("vec_id") == 0)
    plan = pq_rerank_topk(emb2, queries, k=5, shortlist=20)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_clustered_embedding_generator_structure():
    """MoG generator: deterministic, unit-norm, and actually clustered —
    same-cluster cosine must dominate cross-cluster (the property the
    ANN recall bench relies on for absolute-recall judgments)."""
    import numpy as np

    from quanta_contrib.datagen import generate_clustered_embeddings

    a = generate_clustered_embeddings(500, seed=7)
    b = generate_clustered_embeddings(500, seed=7)
    assert all(np.array_equal(x, y) for x, y in zip(a["embedding"], b["embedding"]))
    mat = np.array(a["embedding"].tolist(), dtype=np.float64)
    assert np.allclose(np.linalg.norm(mat, axis=1), 1.0, atol=1e-5)
    lab = a["label"].to_numpy()
    sims = mat @ mat.T
    same = sims[(lab[:, None] == lab[None, :]) & ~np.eye(len(lab), dtype=bool)]
    diff = sims[lab[:, None] != lab[None, :]]
    assert same.mean() > 0.75, same.mean()
    assert same.mean() - diff.mean() > 0.5, (same.mean(), diff.mean())


def test_cms_counters_are_linear_across_shards(spark):
    """CMS is a LINEAR sketch: per-shard counter tables summed cell-wise
    must equal the whole-corpus table EXACTLY (integer equality — the
    property that lets 100 TB keep per-day counter tables and add them
    at read time)."""
    from quanta_contrib.operators.sketches import cms_counters

    items = spark.createDataFrame(
        [("tok%d" % (i % 37),) for i in range(500)], "item string"
    ).withColumn("shard", F.expr("abs(hash(item)) % 3"))
    whole = {
        (r["_row"], r["_slot"]): r["cnt"]
        for r in cms_counters(items, "item", width=64).collect()
    }
    summed: dict = {}
    for s in range(3):
        part = cms_counters(items.filter(F.col("shard") == s), "item", width=64)
        for r in part.collect():
            k = (r["_row"], r["_slot"])
            summed[k] = summed.get(k, 0) + r["cnt"]
    assert summed == whole


def test_cms_heavy_hitters_no_false_negatives_and_overcount_only(spark):
    """Every true heavy hitter must be reported (CMS never undercounts,
    so thresholding estimates is a sound candidate filter), estimates
    must be >= exact, and is_heavy must reflect the EXACT count. Tiny
    width forces collisions so the overcount path is actually hit."""
    from quanta_contrib.operators.sketches import cms_heavy_hitters

    rows = [("hot%d" % k,) for k in range(5) for _ in range(20)] + [
        ("cold%d" % i,) for i in range(200)
    ]
    items = spark.createDataFrame(rows, "item string")
    out = cms_heavy_hitters(items, "item", threshold=10, width=32).collect()
    got = {r["item"]: r for r in out}
    for k in range(5):
        r = got["hot%d" % k]
        assert r["is_heavy"] and r["exact_count"] == 20
        assert r["cms_estimate"] >= r["exact_count"]
    for r in out:  # any collision-promoted candidate is exactly demoted
        assert r["is_heavy"] == (r["exact_count"] >= 10)
        assert r["cms_estimate"] >= r["exact_count"]


def test_cms_hash_families_same_shape(spark):
    """xxhash64 (production) and md5 (oracle) families agree on exact
    counts and the heavy set — only the estimates' collision noise may
    differ."""
    from quanta_contrib.operators.sketches import cms_heavy_hitters

    rows = [("w%d" % (i % 11),) for i in range(330)]
    items = spark.createDataFrame(rows, "item string")
    a = {r["item"]: r["exact_count"] for r in cms_heavy_hitters(items, "item", 30, hasher="xxhash64").collect()}
    b = {r["item"]: r["exact_count"] for r in cms_heavy_hitters(items, "item", 30, hasher="md5").collect()}
    assert a == b and len(a) == 11


def test_hard_negatives_excludes_same_label(spark, emb2):
    """Every returned negative must have a different label than its
    query, and ranks must be the global different-label top-k (checked
    vs a numpy reference on a small corpus)."""
    import numpy as np

    from quanta_contrib.operators.similarity import hard_negatives

    lab = emb2.withColumn("label", (F.col("vec_id") % 3).cast("int")).cache()
    queries = lab.filter(F.col("vec_id") < 3)
    got = hard_negatives(lab, queries, k=4, label_col="label").collect()
    rows = lab.select("vec_id", "embedding", "label").collect()
    mat = {r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["label"]) for r in rows}
    for r in got:
        assert mat[r["query_id"]][1] != mat[r["vec_id"]][1]
    for qid in {r["query_id"] for r in got}:
        qv, ql = mat[qid]
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        sims = sorted(
            (
                (int(np.sign(s := float(qv @ (v / max(np.linalg.norm(v), 1e-12))) * 10_000)
                     * np.floor(abs(s) + 0.5)), vid)
                for vid, (v, l) in mat.items() if l != ql
            ),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        want_ids = [vid for _s, vid in sims]
        got_ids = [r["vec_id"] for r in sorted((x for x in got if x["query_id"] == qid), key=lambda r: r["rank"])]
        assert got_ids == want_ids, (qid, got_ids, want_ids)


def test_semantic_dedup_collapses_exact_clone_groups(spark):
    """Planted 2- and 3-member clone groups collapse to their min
    vec_id with the right group_size; unique vectors survive with
    group_size 1."""
    from quanta_contrib.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    c1 = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    c2 = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(c1).unionByName(c2)
    n = emb.count()
    got = {r["vec_id"]: r["group_size"] for r in semantic_dedup(corpus).collect()}
    # every original survives (it is its clone group's min), no clone does
    assert set(got) == set(range(n))
    for v in range(n):
        want = 3 if v % 10 == 0 else 2 if v % 5 == 0 else 1
        assert got[v] == want, (v, got[v], want)


def test_paragraph_dedup_drops_all_copies_and_preserves_order(spark):
    """CCNet semantics: a paragraph appearing >=min_dup times
    corpus-wide is dropped EVERYWHERE (including its first
    occurrence); survivors reassemble in original order; a document
    whose every paragraph was boilerplate disappears."""
    from quanta_contrib.operators.dedup import paragraph_dedup

    b = " ".join(f"boiler{i}" for i in range(4))  # one 4-token paragraph
    u = lambda tag: " ".join(f"{tag}{i}" for i in range(4))
    rows = [
        (1, f"{b} {u('alpha')} {u('beta')}"),   # boiler + 2 unique paras
        (2, f"{u('gamma')} {b}"),               # unique + boiler (tail)
        (3, b),                                 # all-boilerplate doc
        (4, u("delta")),                        # untouched doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, k=4, min_dup=2).collect()
    }
    assert set(got) == {1, 2, 4}  # doc 3 fully boilerplate -> gone
    assert got[1]["text_dedup"] == f"{u('alpha')} {u('beta')}"
    assert got[1]["n_paras_kept"] == 2
    assert got[2]["text_dedup"] == u("gamma")
    assert got[4]["text_dedup"] == u("delta")


def test_paragraph_dedup_min_dup_threshold(spark):
    """min_dup=3: a paragraph shared by only TWO documents survives in
    both; only >=3-way repeats drop."""
    from quanta_contrib.operators.dedup import paragraph_dedup

    p2 = "twice a b c"       # appears 2x
    p3 = "thrice x y z"      # appears 3x
    rows = [(1, f"{p2} {p3}"), (2, f"{p2} {p3}"), (3, p3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_dedup"]
        for r in paragraph_dedup(docs, k=4, min_dup=3).collect()
    }
    assert got == {1: p2, 2: p2}


def test_paragraph_dedup_plan_shape(spark):
    """The token split must sit ABOVE an exchange (transform-lambda
    re-eval pitfall) and the drop must be a hash-key anti-join — no
    Cartesian/NestedLoop anywhere."""
    from quanta_contrib.operators.dedup import paragraph_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = paragraph_dedup(docs)
    df.count()  # force AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan


def test_keep_best_survivors_quality_argmax(spark):
    """Survivor selection must pick the HIGHEST-quality member per
    component (not min id), break quality ties by lowest id, and keep
    every singleton. Components here: {1,2,3} (keeper 2, best quality),
    {7,8} (tied quality -> keeper 7), singleton 9."""
    from quanta_contrib.operators.dedup import keep_best_survivors

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 30), (8, 30), (9, 5)],
        "doc_id long, quality int",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["component_id"], r["keep_doc_id"], r["survives"])
        for r in keep_best_survivors(docs, pairs, "quality").collect()
    }
    assert got == {
        1: (1, 2, False),
        2: (1, 2, True),
        3: (1, 2, False),
        7: (7, 7, True),
        8: (7, 7, False),
        9: (9, 9, True),
    }
    assert sum(1 for _, k, s in got.values() if s) == 3


def test_snapshot_diff_all_categories(spark):
    """Planted categories: id 1 unchanged, id 2 changed, id 3 removed,
    id 10 added-novel, id 11 added with content copied from id 1
    (dup content)."""
    from quanta_contrib.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta CHANGED"), (10, "zeta"), (11, "Alpha  Beta!")],
        "doc_id long, text string",
    )
    got = {r["category"]: r["n_docs"] for r in snapshot_diff(old, new).collect()}
    # id 11 normalizes to id 1's content -> dup
    assert got == {
        "unchanged": 1,
        "changed": 1,
        "removed": 1,
        "added": 2,
        "added_dup_content": 1,
    }


def test_semantic_decontaminate_flags_planted_paraphrases(spark):
    """Exact clones and scale+shift 'paraphrases' of bench vectors are
    flagged contaminated; organic vectors stay clean; nearest_bench_id
    points at the right bench vector; bp ties break to lowest bench id."""
    from quanta_contrib.operators.similarity import semantic_decontaminate

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 31 == 0)
    clones = bench.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    para = bench.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.05)).cast("float")
        ).alias("embedding"),
        "label",
    )
    corpus = (
        emb.filter(F.col("vec_id") % 31 != 0).unionByName(clones).unionByName(para)
    )
    got = {
        r["vec_id"]: r
        for r in semantic_decontaminate(corpus, bench, threshold_bp=8500).collect()
    }
    n_bench = bench.count()
    assert n_bench > 0
    for bid in (r["vec_id"] for r in bench.select("vec_id").collect()):
        clone = got[bid + 1_000_000]
        assert clone["contaminated"] and clone["max_sim_bp"] == 10_000
        assert clone["nearest_bench_id"] == bid
        p = got[bid + 2_000_000]
        assert p["contaminated"], (bid, p)
    organic = [r for v, r in got.items() if v < 1_000_000]
    assert organic and all(not r["contaminated"] for r in organic)


def test_semantic_decontaminate_rejects_empty_benchmark(spark):
    from quanta_contrib.operators.similarity import semantic_decontaminate

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="benchmark set is empty"):
        semantic_decontaminate(emb, emb.filter(F.lit(False)))


def test_containment_excerpt_detected_where_jaccard_dilutes(spark):
    """A 20%-prefix excerpt must read containment ~1.0 (keep=True at
    threshold 0.9) even though its symmetric Jaccard vs the source is
    ~0.2 — the Broder resemblance-vs-containment distinction that
    motivates the operator."""
    from quanta_contrib.operators.dedup import containment_pairs

    words = [f"tok{i:03d}" for i in range(200)]
    full = " ".join(words)
    excerpt = " ".join(words[:40])
    unrelated = " ".join(f"zzz{i:03d}" for i in range(200))
    df = spark.createDataFrame(
        [(1, full), (2, excerpt), (3, unrelated)], "doc_id long, text string"
    )
    out = containment_pairs(df, n=12, threshold=0.9).toPandas()
    pair = out[(out.doc_a == 1) & (out.doc_b == 2)]
    assert len(pair) == 1
    row = pair.iloc[0]
    # excerpt-in-source direction saturates; source-in-excerpt stays low
    assert row.containment_b_in_a >= 0.95
    assert row.containment_a_in_b <= 0.35
    assert bool(row.keep)
    jacc = row.n_shared / (row.n_a + row.n_b - row.n_shared)
    assert jacc < 0.5  # symmetric Jaccard would have missed it at 0.8/0.9
    assert not ((out.doc_b == 3) | (out.doc_a == 3)).any()


def test_containment_min_shared_prunes_accidental_pairs(spark):
    from quanta_contrib.operators.dedup import containment_pairs

    # two docs sharing exactly one 12-gram window ("sharedtoken0")
    df = spark.createDataFrame(
        [(1, "aaa bbb sharedtoken0 ccc ddd"), (2, "eee fff sharedtoken0 ggg hhh")],
        "doc_id long, text string",
    )
    loose = containment_pairs(df, n=12, min_shared=1)
    tight = containment_pairs(df, n=12, min_shared=8)
    assert loose.count() >= 1
    assert tight.count() == 0


def test_containment_max_df_drops_boilerplate_grams(spark):
    """Grams present in more than max_df docs must not witness pairs:
    100 docs sharing one boilerplate sentence pair up on dozens of
    shared grams when the cap is loose (max_df=200 keeps the df=100
    boilerplate grams) but only on the <=2 prefix/boiler JUNCTION
    grams (shared by the 10 docs with the same trailing digit,
    df=10 <= 64) once the cap bites — and never reach keep."""
    from quanta_contrib.operators.dedup import containment_pairs

    boiler = "this boilerplate footer appears everywhere in the corpus"
    rows = [(i, f"unique{i:04d} " * 3 + boiler) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loose = containment_pairs(df, n=12, max_df=200, min_shared=1).toPandas()
    assert loose.n_shared.max() >= 30  # boilerplate grams witness pairs
    assert loose.containment_a_in_b.max() >= 0.6
    capped = containment_pairs(df, n=12, max_df=64, min_shared=1).toPandas()
    assert capped.n_shared.max() <= 2
    assert capped.containment_a_in_b.max() <= 0.2
    assert not capped.keep.any()


def test_rrf_consensus_beats_single_list(spark):
    from quanta_contrib.operators.similarity import rrf_fuse

    # doc 10 is rank 2 in BOTH lists; docs 1 and 2 are rank 1 in ONE
    # list each -> consensus must out-score either single first place
    ra = spark.createDataFrame([(1, 1), (10, 2), (3, 3)], "doc_id long, rank int")
    rb = spark.createDataFrame([(2, 1), (10, 2), (4, 3)], "doc_id long, rank int")
    out = {r["doc_id"]: r for r in rrf_fuse([ra, rb], k=60).collect()}
    assert out[10]["rrf_e6"] > out[1]["rrf_e6"] == out[2]["rrf_e6"]
    assert out[1]["rank_1"] is None and out[2]["rank_0"] is None  # absent = null
    assert len(out) == 5  # full outer keeps every doc from every list


def test_rrf_validation(spark):
    from quanta_contrib.operators.similarity import rrf_fuse

    r = spark.createDataFrame([(1, 1)], "doc_id long, rank int")
    with pytest.raises(ValueError, match="rankings"):
        rrf_fuse([r])
    with pytest.raises(ValueError, match="k must"):
        rrf_fuse([r, r], k=0)


def test_fuzzy_link_pigeonhole_exact_recall(spark):
    """<=2 substitutions must ALWAYS link (pigeonhole over 3 chunks),
    3 substitutions must never link, unequal lengths never link."""
    from quanta_contrib.operators.dedup import fuzzy_link

    master = spark.createDataFrame(
        [(1, "abcdef012345"), (2, "ffffffffffff")], "m_id long, key string"
    )
    variants = spark.createDataFrame(
        [
            (10, "zbcdef012345"),   # 1 sub at pos 1 -> links to 1
            (11, "abcdzf01234z"),   # 2 subs (pos 5, 12) -> links to 1
            (12, "zbczef0123z5"),   # 3 subs -> must NOT link
            (13, "abcdef01234"),    # length 11 -> must NOT link
            (14, "ffffffffffff"),   # exact -> dist 0 to 2
        ],
        "v_id long, key string",
    )
    out = {(r["m_id"], r["v_id"]): r["dist"]
           for r in fuzzy_link(master, variants).collect()}
    assert out == {(1, 10): 1, (1, 11): 2, (2, 14): 0}


def test_fuzzy_link_plan_has_no_cartesian(spark):
    from quanta_contrib.operators.dedup import fuzzy_link

    df = spark.createDataFrame([(1, "abcdef012345")], "m_id long, key string")
    v = df.selectExpr("m_id AS v_id", "key")
    plan = fuzzy_link(df, v)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fuzzy_link(df, v, max_subs=-1)


def test_retrieval_metrics_hand_computed(spark):
    import pytest as _pytest

    from quanta_contrib.operators.similarity import (
        retrieval_gains_e6,
        retrieval_metrics,
    )

    g = retrieval_gains_e6(5)  # [1000000, 630930, 500000, 430677, 386853]
    truth = spark.createDataFrame(
        [(1, r, 100 + r) for r in range(1, 6)]
        + [(2, r, 200 + r) for r in range(1, 6)]
        + [(3, 1, 301), (3, 2, 302)],  # truth_n = 2
        "query_id long, rank int, vec_id long",
    )
    approx = spark.createDataFrame(
        # q1: perfect; q2: hits at ranks 2 and 5 only; q3: no rows
        [(1, r, 100 + r) for r in range(1, 6)]
        + [(2, 1, 999), (2, 2, 201), (2, 3, 998), (2, 4, 997), (2, 5, 202)],
        "query_id long, rank int, vec_id long",
    )
    out = {r["query_id"]: r for r in retrieval_metrics(approx, truth, k=5).collect()}
    assert out[1]["recall_bp"] == 10_000 and out[1]["ndcg_bp"] == 10_000
    assert out[1]["mrr_e6"] == 1_000_000 and out[1]["hits"] == 5
    assert out[2]["hits"] == 2 and out[2]["recall_bp"] == 4_000
    assert out[2]["mrr_e6"] == 500_000  # first hit at rank 2
    assert out[2]["dcg_e6"] == g[1] + g[4]
    assert out[2]["ndcg_bp"] == (g[1] + g[4]) * 10_000 // sum(g)
    # q3 never retrieved: present with zero metrics, idcg from truth_n=2
    assert out[3]["hits"] == 0 and out[3]["recall_bp"] == 0 and out[3]["mrr_e6"] == 0
    assert out[3]["idcg_e6"] == g[0] + g[1] and out[3]["ndcg_bp"] == 0
    with _pytest.raises(ValueError, match="k must be"):
        retrieval_metrics(approx, truth, k=0)


def test_edit_link_handles_indels_and_matches_bruteforce(spark):
    """The cases Hamming blocking cannot see: deletions and insertions
    shift every later position. Blocked candidates + levenshtein
    verify must equal the brute-force all-pairs answer exactly."""
    import pytest as _pytest

    from quanta_contrib.operators.dedup import edit_link

    masters = {
        1: "abcdef012345",
        2: "0123456789ab",
        3: "fedcba987654",
    }
    variants = {
        11: ("abcdef12345", 1),  # deletion of '0' -> dist 1 to m1
        12: ("abcqdef012345", 1),  # insertion of 'q' -> dist 1 to m1
        13: ("zbcdef01234z", 2),  # two substitutions -> dist 2 to m1
        14: ("zzzdef012345", 3),  # three edits -> must NOT link at k=2
        15: ("0123z56789ab", 1),  # substitution mid-key -> m2
    }
    m = spark.createDataFrame(
        [(i, k) for i, k in masters.items()], "m_id long, key string"
    )
    v = spark.createDataFrame(
        [(i, k) for i, (k, _) in variants.items()], "v_id long, key string"
    )
    out = edit_link(m, v, max_edits=2)
    got = {(r["m_id"], r["v_id"]): r["dist"] for r in out.collect()}
    # brute force in python
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (mi, vi): lev(mk, vk)
        for mi, mk in masters.items()
        for vi, (vk, _) in variants.items()
        if lev(mk, vk) <= 2
    }
    assert got == want
    assert (1, 11) in got and got[(1, 11)] == 1
    assert (1, 12) in got and got[(1, 12)] == 1
    assert (1, 13) in got and got[(1, 13)] == 2
    assert all(vid != 14 for _, vid in got)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    with _pytest.raises(ValueError, match="max_edits"):
        edit_link(m, v, max_edits=-1)


def test_maxsim_hand_computed_and_tokenizer_shape(spark):
    """MaxSim on hand-built token tables: per-query-token MAX then SUM,
    integer-exact; tokenizer slices contiguously."""
    import numpy as np
    import pytest as _pytest

    from quanta_contrib.operators.similarity import maxsim_topk, tokenize_vectors

    # corpus doc 1: tokens aligned with query tokens (perfect 1.0 each)
    # corpus doc 2: one matching token, one orthogonal
    q = spark.createDataFrame(
        [(100, 0, [1.0, 0.0]), (100, 1, [0.0, 1.0])],
        "query_id long, token_idx int, tvec array<float>",
    )
    c = spark.createDataFrame(
        [
            (1, 0, [2.0, 0.0]), (1, 1, [0.0, 3.0]),
            (2, 0, [1.0, 0.0]), (2, 1, [1.0, 0.0]),
        ],
        "vec_id long, token_idx int, tvec array<float>",
    )
    out = {r["vec_id"]: r for r in maxsim_topk(c, q, k=5).collect()}
    assert out[1]["maxsim_bp"] == 20_000 and out[1]["rank"] == 1
    # doc 2: q-token0 max = 1.0 (10000), q-token1 max = 0.0
    assert out[2]["maxsim_bp"] == 10_000 and out[2]["rank"] == 2
    toks = tokenize_vectors(
        spark.createDataFrame([(7, [float(i) for i in range(8)])],
                              "vec_id long, embedding array<float>"),
        n_tokens=4,
    ).collect()
    got = {r["token_idx"]: r["tvec"] for r in toks}
    assert got == {0: [0.0, 1.0], 1: [2.0, 3.0], 2: [4.0, 5.0], 3: [6.0, 7.0]}
    with _pytest.raises(ValueError, match="n_tokens"):
        tokenize_vectors(spark.createDataFrame([(1, [0.1])], "vec_id long, embedding array<float>"), n_tokens=0)
    with _pytest.raises(ValueError, match="k must be"):
        maxsim_topk(c, q, k=0)


def test_maxsim_blocked_scores_match_exact_on_candidates(spark):
    """Blocked MaxSim must produce EXACTLY the exact baseline's scores
    for every (query, doc) pair that survives bucket pruning — pruning
    changes the candidate set, never the arithmetic."""
    from quanta_contrib.operators.similarity import (
        maxsim_topk,
        maxsim_topk_blocked,
        tokenize_vectors,
    )

    rng_vals = [
        [((i * 37 + j * 11) % 21 - 10) / 10.0 for j in range(64)] for i in range(60)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng_vals)], "vec_id long, embedding array<float>"
    )
    queries = emb.filter("vec_id % 20 = 0")
    blocked = {
        (r["query_id"], r["vec_id"]): r["maxsim_bp"]
        for r in maxsim_topk_blocked(emb, queries, k=50).collect()
    }
    toks = tokenize_vectors(emb)
    qtoks = tokenize_vectors(queries).selectExpr(
        "vec_id AS query_id", "token_idx", "tvec"
    )
    exact = {
        (r["query_id"], r["vec_id"]): r["maxsim_bp"]
        for r in maxsim_topk(toks, qtoks, k=1000).collect()
    }
    assert blocked, "bucket pruning left zero candidates on the fixture"
    for pair, score in blocked.items():
        assert exact[pair] == score, pair


def test_edit_link_short_left_keys_link_exactly(spark):
    """ADVICE r06 fix: left keys shorter than max_edits+1 characters
    cannot be cut into k+1 non-empty pieces, so the pigeonhole probe
    never generated them as candidates — including exact duplicates.
    The length-blocked fallback must recover them, still matching the
    brute-force answer, still with no cartesian in the plan."""
    from quanta_contrib.operators.dedup import edit_link

    masters = {1: "ab", 2: "x", 3: "abcdef012345"}
    variants = {
        11: "ab",      # exact dup of short key -> dist 0
        12: "abq",     # insertion -> dist 1 to m1
        13: "xz",      # insertion -> dist 1 to m2
        14: "abcdef12345",  # long-key deletion, the classic path
        15: "zzzzzz",  # must not link to anything at k=2
    }
    m = spark.createDataFrame(list(masters.items()), "m_id long, key string")
    v = spark.createDataFrame(list(variants.items()), "v_id long, key string")
    out = edit_link(m, v, max_edits=2)
    got = {(r["m_id"], r["v_id"]): r["dist"] for r in out.collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (mi, vi): lev(mk, vk)
        for mi, mk in masters.items()
        for vi, vk in variants.items()
        if lev(mk, vk) <= 2
    }
    assert got == want
    assert got[(1, 11)] == 0 and got[(1, 12)] == 1 and got[(2, 13)] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
