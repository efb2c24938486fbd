"""Physical-plan regression tests: the properties that decide whether
a plan survives a 100x scale-up, pinned as assertions so an operator
rewrite can't silently lose them.

- filters/pruning reach the parquet scan (PushedFilters / ReadSchema);
- dimension joins broadcast (no shuffle of the big side);
- no relational gate query plans a CartesianProduct;
- vectorized stages stay inside one scan (no plan blowup — detailed
  asserts in test_stage_chain.py).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quanta_contrib import queries as q

SF_DIR = os.environ.get("QS_ORACLE_SF", "/root/testdata/sf0.01")

# relational gate queries whose build is side-effect-free (no driver
# collect inside the builder), so .explain is cheap
_RELATIONAL = [
    "q01_pricing_summary", "q02_top_orders", "q03_regional_revenue",
    "q04_distinct_counts", "q05_rollup", "q06_topk_per_brand",
    "q07_setops", "q08_anti_join", "q09_monthly_orders",
    "q10_string_funcs", "q11_tumbling_events", "q12_sliding_events",
    "q13_session_windows", "q14_reply_join", "q16_two_phase_conv_stats",
    "q17_topk_turns_salted", "q21_exact_dedup", "q22_ngram_jaccard",
    "q23_quality_features", "q24_language_id", "q25_fingerprint",
    "q26_explode_tokens", "q35_cube", "q36_intersect", "q37_exists_semi",
    "q38_scalar_subquery", "q39_pivot_roles", "q40_window_funcs",
    "q41_asof_join", "q42_approx_stats", "q53_unanswered_turns",
    "q54_redact_pii", "q55_pooled_embeddings",
    "q106_duplicate_spans", "q107_gopher_quality",
    "q143_m4_downsample", "q145_incremental_rollup", "q147_triangle_count",
    "q148_incremental_quantiles",
    # q149_pca_covariance exempt: its one BroadcastNestedLoopJoin is the
    # deliberate 1-row total-count crossJoin (same shape as q100's
    # histogram total) — bounded by construction, not a plan accident
]


def _plan(spark, name: str) -> str:
    df = q.QUERY_FNS[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", _RELATIONAL)
def test_no_cartesian_product(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # the shipdate predicate must reach the parquet reader, not sit in
    # a post-scan Filter over all columns
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_q01_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # ReadSchema must carry only the referenced columns — pruning the
    # 16-column lineitem to the 6 used ones
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_orderkey" not in read, read


def test_q10_filter_pushed(spark):
    plan = _plan(spark, "q10_string_funcs")
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal" in plan, plan


def test_q03_dimension_joins_broadcast(spark):
    """region/nation/customer are dims vs the lineitem fact: every join
    on the path must be broadcast — a shuffle join here moves the fact
    table N times at 100 TB."""
    plan = _plan(spark, "q03_regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_q02_join_strategy(spark):
    plan = _plan(spark, "q02_top_orders")
    assert "BroadcastHashJoin" in plan, plan


def test_q22_gram_materialization_parallel(spark):
    """The n-gram transform must sit ABOVE a repartition exchange in
    >= defaultParallelism tasks (the measured 25x regexp-in-lambda and
    single-partition-AQE pitfalls — see dedup._norm_grams_df)."""
    plan = _plan(spark, "q22_ngram_jaccard")
    assert "Exchange hashpartitioning(doc_id" in plan, plan


def test_entry_plan_single_scan_per_table(spark):
    from oracle_helpers import entry

    df = entry(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.001"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # flagship pipeline reads the events table exactly twice (events ->
    # transcripts requires a window over raw rows; the chain itself must
    # not multiply scans)
    assert plan.count("Scan parquet") <= 2, plan


def test_q55_partial_aggregation_before_shuffle(spark):
    """Pooled embeddings: the per-(label, pos) mean must partial-
    aggregate map-side — the shuffle carries one partial per group per
    input partition, never the exploded vector elements."""
    plan = _plan(spark, "q55_pooled_embeddings")
    i_exch = plan.index("Exchange hashpartitioning(label")
    below = plan[i_exch:]
    assert "HashAggregate" in below and "partial_avg" in below, plan


def test_q51_benchmark_grams_broadcast(spark):
    """Decontamination joins the corpus grams against the (small)
    benchmark gram set via broadcast — no corpus-sized shuffle."""
    plan = _plan(spark, "q51_decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_q58_pipeline_single_shuffle_no_joins(spark):
    """The composed training-data pipeline (quality filter -> dedup ->
    sample -> chunk) must be scan -> filter -> ONE exchange (the dedup
    fingerprint window) -> filter -> explode: no joins, no Python, no
    second shuffle — the whole pipeline rides one exchange at 100 TB."""
    plan = _plan(spark, "q58_training_pipeline")
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Scan parquet" in plan and plan.count("Scan parquet") == 1, plan


def test_q56_ivf_candidate_join_is_broadcast(spark):
    """IVF probing: the (tiny) query-probe side must broadcast into the
    cell_id equi-join — the corpus side never shuffles for the join."""
    plan = _plan(spark, "q56_ivf_cosine_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q59_enrich_dim_is_broadcast(spark):
    """Stream-static enrichment: the dim side must broadcast — the
    (batch twin of the) per-micro-batch join plan may never shuffle
    the stream side."""
    from quanta_contrib.operators.sampling import _hash16
    from pyspark.sql import functions as F

    q.QUERY_FNS["q01_pricing_summary"]  # ensure registry import
    from quanta_contrib.queries import _prepare, transcripts_df

    _prepare(spark, SF_DIR)
    t = transcripts_df(spark)
    dim = t.select("conv_id").distinct().select(
        "conv_id", (_hash16(F.col("conv_id")) % 4).cast("int").alias("tier")
    )
    joined = t.join(F.broadcast(dim), "conv_id").select(
        "conv_id", "turn_idx", "role", "tier"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q57_quantize_pure_codegen(spark):
    plan = _plan(spark, "q57_quantize_embeddings")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_no_per_row_python_or_rdd_in_package():
    """The input-hint contract: vectorized pandas/Arrow UDFs ONLY — no
    row-at-a-time F.udf and no RDD entrypoints (.rdd / parallelize /
    runJob / sc.range / makeRDD) in the package sources; sparkContext
    attribute use is restricted to an explicit allowlist
    (broadcast / addPyFile / defaultParallelism / setLogLevel and the
    shipping flag). mapInPandas / applyInPandas(WithState) /
    pandas_udf are the sanctioned Python paths."""
    import re

    rdd_or_udf = re.compile(
        r"\bF\.udf\(|\budf\(lambda|\.rdd\b|spark\.udf\.register"
        r"|\.parallelize\(|\.runJob\(|\.makeRDD\(|sparkContext\.range\("
    )
    sc_attr = re.compile(r"(?:sparkContext|\bsc)\s*\.\s*([A-Za-z_]+)")
    sc_allow = {
        "broadcast", "addPyFile", "defaultParallelism", "setLogLevel",
        "master", "_quanta_pkg_shipped",
        # driver-side session identity for the _prepare view-registration
        # memo (r07) — a metadata read, not a data path
        "applicationId",
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = []
    walks = [os.walk(os.path.join(repo, pkg)) for pkg in ("quanta_spark", "quanta_contrib")]
    for dirpath, _dirs, files in (w for walk in walks for w in walk):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            for i, line in enumerate(open(path), 1):
                code = line.split("#", 1)[0]
                if rdd_or_udf.search(code):
                    bad.append(f"{path}:{i}: {line.strip()}")
                for attr in sc_attr.findall(code):
                    if attr not in sc_allow:
                        bad.append(f"{path}:{i}: sparkContext.{attr}: {line.strip()}")
    assert not bad, "\n".join(bad)


def test_q69_bm25_plan_broadcasts_and_prunes(spark):
    """BM25: the query-term filter must prune the corpus token stream
    BEFORE its shuffle, tiny sides (doc frequencies, corpus scalars)
    must broadcast, and nothing plans a cartesian product — the shape
    that survives a 10^12-row corpus."""
    plan = _plan(spark, "q69_bm25_scores")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the isin filter appears below (after) the first exchange in plan
    # text order == above it in dataflow order
    i_filter = plan.index("tok")  # token column present at all
    assert i_filter >= 0
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan  # 1-row scalar join only


def test_q72_session_labels_single_exchange(spark):
    """Both window passes (lag + running sum) share the conv_id
    partitioning: Catalyst must plan exactly ONE exchange — labeling
    10^12 turns costs one shuffle, not two."""
    plan = _plan(spark, "q72_session_labels")
    final = plan.split("Initial Plan")[0]
    # the transcripts derivation itself windows on user_id; allow its
    # exchange plus exactly one for the conv_id windows
    assert final.count("Exchange hashpartitioning(conv_id") == 1, plan


def test_q76_pack_turns_single_conv_exchange_no_python(spark):
    """Packing: the fold runs as a Catalyst aggregate over one conv_id
    shuffle — no Python worker (the stream of 10^12 turns never leaves
    the JVM) and no join anywhere."""
    plan = _plan(spark, "q76_pack_turns")
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning(conv_id") == 1, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "Join"):
        assert bad not in final, (bad, plan)


def test_q77_cms_counters_broadcast_and_partial_agg(spark):
    """CMS heavy hitters: the depth x width counter table and the
    candidate list must BROADCAST back to the corpus-sized sides, and
    the counter aggregation must partial-aggregate before its
    exchange (map-side combine on the token stream)."""
    plan = _plan(spark, "q77_heavy_hitters")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    first_exchange = plan.index("Exchange")
    assert "partial_count" in plan[first_exchange:] or "partial_count" in plan, plan


def test_q78_weighted_sample_no_global_sort(spark):
    """The prefix sum must be per-range windows, never a single-task
    global window: no SinglePartition exchange carrying the corpus,
    no global Sort outside a range partition."""
    plan = _plan(spark, "q78_weighted_sample")
    final = plan.split("Initial Plan")[0]
    assert final.count("Window") >= 1, plan
    # the cumsum window is partitioned by range id, never unpartitioned
    assert "windowspecdefinition(_rid" in plan, plan
    assert "windowspecdefinition(doc_id" not in plan, plan


def test_q79_bigram_prefix_counts_from_count_table_window(spark):
    """Bigram LM: prefix counts must come from a window over the count
    table (partitioned by prev), not a second corpus aggregation —
    and the count-table join back to the corpus must be a hash join,
    never cartesian."""
    plan = _plan(spark, "q79_bigram_lm_scores")
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition(prev" in plan, plan


def test_q80_q82_dialogue_single_conv_exchange(spark):
    """Dialogue ops are one-exchange window plans over conv_id."""
    for name in ("q81_sft_pairs", "q82_context_truncate"):
        plan = _plan(spark, name)
        final = plan.split("Initial Plan")[0]
        assert final.count("Exchange hashpartitioning(conv_id") == 1, (name, plan)
        assert "Join" not in final, (name, plan)


def test_q87_sft_pipeline_single_conv_exchange(spark):
    """Truncate -> pairs -> quality floor: both window passes share the
    conv_id partitioning — one exchange, zero joins, zero Python."""
    plan = _plan(spark, "q87_sft_pipeline")
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning(conv_id") == 1, plan
    for bad in ("Join", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in final, (bad, plan)


def test_q90_curation_single_conv_exchange(spark):
    """Lead() pass + rollup share the conv_id partitioning — one
    exchange, zero joins."""
    plan = _plan(spark, "q90_curate_conversations")
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning(conv_id") == 1, plan
    assert "Join" not in final, plan


def test_q91_strip_boilerplate_no_shuffle(spark):
    """Pure per-row codegen: no exchange, no Python."""
    plan = _plan(spark, "q91_strip_boilerplate")
    final = plan.split("Initial Plan")[0]
    assert "Exchange" not in final, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython"):
        assert bad not in final, (bad, plan)


def test_q92_trending_rank_on_count_table(spark):
    """The rank window must partition on the window key over the
    (window, term) COUNT table — i.e. sit above the aggregation — and
    the token aggregation must partial-aggregate map-side."""
    plan = _plan(spark, "q92_trending_terms")
    assert "partial_count" in plan, plan
    assert "windowspecdefinition(window_start" in plan, plan


def test_q94_skew_report_no_global_sort_of_corpus(spark):
    """Percentiles run over the per-key COUNT table (one row per conv),
    never a global sort of raw turns: the only Sort allowed feeds the
    single-partition percentile aggregate of count rows."""
    plan = _plan(spark, "q94_skew_report")
    final = plan.split("Initial Plan")[0]
    # corpus rollup partial-aggregates before its exchange
    assert "partial_count" in final, plan
    assert "CartesianProduct" not in final, plan


def test_q98_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed range-join rewrite must plan an equi join on the
    time bucket — never the BroadcastNestedLoopJoin/CartesianProduct a
    raw BETWEEN predicate produces."""
    plan = _plan(spark, "q98_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q102_semantic_dedup_no_all_pairs(spark):
    """SemDeDup's quadratic step must be bounded by the largest IVF
    cell: the candidate join is a cell_id equi-join, never an
    all-pairs Cartesian/BroadcastNestedLoop (VERDICT r05 ask #5)."""
    from quanta_contrib.operators.dedup import semantic_dedup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    plan = (
        semantic_dedup_pairs(emb, n_cells=16, tau_bp=9900)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q106_duplicate_spans_plan(spark):
    """Duplicate-span detection: the gram stream shuffles on the gram
    fingerprint for the distinct-doc count, the span merge windows on
    doc_id, and nothing plans a cartesian product or Python eval —
    the shape whose only O(corpus) costs are the explode scans and
    one gram-keyed exchange."""
    plan = _plan(spark, "q106_duplicate_spans")
    assert "Exchange hashpartitioning(gram_id" in plan, plan
    assert "windowspecdefinition(doc_id" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, (bad, plan)


def test_q107_gopher_quality_no_shuffle(spark):
    """Every C4/Gopher rule is a pure Column expression: zero
    exchange, zero Python — quality-filtering 10^12 docs costs one
    scan."""
    plan = _plan(spark, "q107_gopher_quality")
    final = plan.split("Initial Plan")[0]
    assert "Exchange" not in final, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython"):
        assert bad not in final, (bad, plan)


def test_q108_dsir_weights_plan(spark):
    """DSIR: the bucket count table (fixed 4096 rows) must
    partial-aggregate map-side and BROADCAST into the per-doc scoring
    join; the only corpus-sized exchange keys on doc_id. One 1-row
    scalar crossJoin is allowed (the smoothing totals), same as
    q69."""
    plan = _plan(spark, "q108_dsir_weights")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert "Exchange hashpartitioning(doc_id" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, (bad, plan)


def test_q127_random_projection_zero_exchange(spark):
    """The JL projection is pure per-row codegen (zip_with + aggregate
    folds + stack): no Exchange, no Python worker in the plan."""
    plan = _plan(spark, "q127_random_projection")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_q126_psi_single_events_scan(spark):
    """PSI reads the events table exactly ONCE: everything after the
    (key, day, bin) aggregate runs on the compact count table."""
    plan = _plan(spark, "q126_psi_drift")
    # one scan of events; the bin grid comes from a driver-side range()
    assert plan.count("events.parquet") == 1, plan


def test_q120_inverted_index_partial_aggs(spark):
    """Term stats partial-aggregate map-side before the term shuffle
    (a stopword's occurrences combine within each task first)."""
    plan = _plan(spark, "q120_inverted_index")
    i_exch = plan.index("Exchange hashpartitioning(term")
    assert "HashAggregate" in plan[:i_exch], plan
    assert "CartesianProduct" not in plan, plan


def test_q123_reply_latency_single_conv_exchange(spark):
    """One conv_id exchange feeds the lead() window; the bucket
    aggregate adds no second corpus-wide shuffle (its input is the
    filtered reply rows)."""
    plan = _plan(spark, "q123_reply_latency_histogram")
    assert plan.count("Exchange hashpartitioning(conv_id") == 1, plan


def test_q122_ewma_single_user_exchange(spark):
    plan = _plan(spark, "q122_ewma_user_value")
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_q131_semantic_decontaminate_no_join(spark):
    """Semantic decontamination is one Arrow corpus scan against a
    broadcast bench matrix: the plan must contain NO join and NO
    aggregate exchange — the only Python eval is the single
    mapInPandas scoring pass (corpus side never shuffles)."""
    plan = _plan(spark, "q131_semantic_decontaminate")
    for bad in ("Join", "CartesianProduct", "Exchange hashpartitioning"):
        assert bad not in plan, (bad, plan)
    assert plan.count("MapInPandas") == 1, plan


def test_q132_containment_no_cartesian_no_python(spark):
    """Containment near-dup self-blocks on gram fingerprints: the pair
    candidate join must be an equi-join on gram_fp (never Cartesian /
    NestedLoop), and the whole chain is JVM-side — zero Python eval
    nodes. Gram fingerprints shuffle as xxhash64 ints: no raw gram
    string survives past the explode projection into an exchange."""
    plan = _plan(spark, "q132_containment_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in plan, (py, plan)


def test_q133_pagerank_no_cartesian_no_python(spark):
    """PageRank supersteps are equi-joins + dst aggregates: never a
    Cartesian/NestedLoop, and zero Python eval nodes — the fixed-point
    integer recurrence lives entirely in codegen."""
    plan = _plan(spark, "q133_pagerank")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in plan, (py, plan)


def test_q134_gapfill_single_window_pass(spark):
    """Gap fill costs one (key,tick) aggregate, one per-key range
    aggregate, a spine explode, and ONE key-partitioned window pass —
    never a Cartesian and never Python."""
    plan = _plan(spark, "q134_gapfill")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in plan, (py, plan)
    # both fills (and both directions) fuse into ONE Window node over
    # one key-partitioned exchange
    assert plan.count("Window ") == 1, plan


def test_q135_scd2_single_exchange(spark):
    """Both SCD2 window passes share the key partitioning: exactly one
    hash exchange, no joins, no Python."""
    plan = _plan(spark, "q135_scd2_history")
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in plan, (py, plan)


def test_q136_zipf_rank_window_on_vocab_not_corpus(spark):
    """The rank window must sit above the (stratum, word) count
    aggregate — its grain is the distinct vocabulary, never the raw
    token stream — and the whole fit is JVM-side."""
    plan = _plan(spark, "q136_zipf_fit")
    i_win = plan.index("Window ")
    assert "HashAggregate" in plan[i_win:], plan  # count agg BELOW the window
    assert "CartesianProduct" not in plan, plan
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in plan, (py, plan)
