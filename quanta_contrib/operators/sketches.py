"""Mergeable sketches — the incremental-statistics machinery of a
100 TB pipeline.

``approx_count_distinct`` answers one query; what a large pipeline
actually needs is a PER-SHARD sketch it can store, union with
yesterday's, and estimate from without rescanning the corpus. Spark's
Apache DataSketches HLL functions (hll_sketch_agg / hll_union_agg /
hll_sketch_estimate, built-in since 3.5) provide exactly that: sketch
each shard/partition/day once, merge the binary sketches associatively,
estimate at read time. The q52 gate pins the property that makes this
trustworthy: union(per-shard sketches) estimates within a tight bound
of sketch(whole corpus) — NOT bit-equality: DataSketches unions may
resolve sparse-vs-dense modes differently per split (measured 500 vs
501 vs 503 on the same 506-distinct corpus across 2/7/1000-way shards)
— and both land within the HLL error bound of the exact count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quanta_spark.operators.rollup import _floor_div


def shard_sketches(
    df: DataFrame,
    group_col: str,
    value: Column | str,
    shard: Column | str,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch per (group, shard): the store-and-merge-later
    unit. lgConfigK=12 => ~1.6 KB per sketch, ~2.5% relative error."""
    value = F.col(value) if isinstance(value, str) else value
    shard = F.col(shard) if isinstance(shard, str) else shard
    return (
        df.select(F.col(group_col), value.alias("_v"), shard.alias("_shard"))
        .groupBy(group_col, "_shard")
        .agg(F.hll_sketch_agg("_v", F.lit(lg_k)).alias("sketch"))
    )


def merged_distinct_estimate(
    sketches: DataFrame, group_col: str
) -> DataFrame:
    """Union each group's shard sketches -> (group, estimate). This is
    the read-time step: no raw data touched, just sketch bytes."""
    return (
        sketches.groupBy(group_col)
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            group_col, F.hll_sketch_estimate("merged").alias("distinct_estimate")
        )
    )


def mergeable_distinct_check(
    df: DataFrame,
    group_col: str,
    value: Column | str,
    shard: Column | str,
    rel_error: float = 0.05,
    lg_k: int = 12,
) -> DataFrame:
    """Gate shape: per group, the exact distinct count plus two
    booleans — (a) the shard-merged estimate is within ``rel_error``
    of the whole-corpus single-sketch estimate (merge soundness; exact
    equality does NOT hold, see module docstring), and (b) the merged
    estimate is within ``rel_error`` of exact. Exact values + boolean
    bounds keep the output portable to a SQL oracle (q42 trick)."""
    value = F.col(value) if isinstance(value, str) else value
    merged = merged_distinct_estimate(
        shard_sketches(df, group_col, value, shard, lg_k=lg_k), group_col
    )
    whole = (
        df.select(F.col(group_col), value.alias("_v"))
        .groupBy(group_col)
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("_v", F.lit(lg_k))).alias(
                "whole_estimate"
            ),
            F.count_distinct(F.col("_v")).alias("exact_distinct"),
        )
    )
    return (
        whole.join(merged, group_col)
        .select(
            group_col,
            "exact_distinct",
            (
                F.abs(F.col("distinct_estimate") - F.col("whole_estimate"))
                <= F.greatest(F.col("whole_estimate") * rel_error, F.lit(1.0))
            ).alias("merge_matches_whole"),
            (
                F.abs(F.col("distinct_estimate") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * rel_error
            ).alias("merged_within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# count-min sketch: mergeable frequency counters + exact-verified heavy
# hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 8192


def _hash_slot(item: Column, row: Column, width: int, hasher: str) -> Column:
    """Row-``i`` hash slot for ``item``. ``xxhash64`` is the production
    family (one JVM hash per row); ``md5`` is the portable family the
    DuckDB oracle re-derives digit-by-digit (see dedup.py minhash —
    same two-family pattern, same plan shape)."""
    if hasher == "xxhash64":
        return F.pmod(F.xxhash64(item, row), F.lit(width))
    if hasher == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat(row.cast("string"), F.lit(":"), item)), 1, 7
            ),
            16,
            10,
        ).cast("long")
        return h % width
    raise ValueError(f"unknown hasher {hasher!r} (expected xxhash64|md5)")


def cms_counters(
    items: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Count-min counter table (row_i, slot, cnt) over one item per
    input row — the MERGEABLE unit: CMS is linear, so per-shard/per-day
    counter tables summed cell-wise equal the whole-corpus table
    EXACTLY (integer addition — unlike HLL's mode-dependent estimates).
    Size is depth*width rows regardless of corpus size: the fixed-
    footprint frequency summary you can store per partition and union
    at read time. One explode (x depth) + one groupBy with map-side
    partial aggregation; no driver collection."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got ({depth}, {width})")
    rows = items.select(
        F.col(item_col).alias("_item"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_row"),
    )
    slot = _hash_slot(F.col("_item"), F.col("_row"), width, hasher)
    return (
        rows.select("_row", slot.alias("_slot"))
        .groupBy("_row", "_slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    items: DataFrame,
    item_col: str,
    threshold: int,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Exact heavy hitters via CMS candidate generation: items whose
    count-min estimate (min over depth rows; never an UNDERcount) is
    >= ``threshold`` become candidates — a superset of the true heavy
    hitters by the CMS guarantee — then ONLY candidates get an exact
    count. At 100 TB the exact pass touches a candidate set sized by
    the sketch error (~corpus/width per cell), not the vocabulary: the
    counter table is bounded, the candidate list broadcasts, and the
    final count is a map-side-combined aggregation over a filtered
    scan. Output: (item, exact_count, cms_estimate, is_heavy) for every
    candidate — deterministic given the hash family, so the md5 flavor
    oracle-checks end to end."""
    if threshold < 1:
        raise ValueError(
            f"threshold must be >= 1 (got {threshold}): thresholding at 0 "
            "makes EVERY distinct item a candidate and the exact pass "
            "degenerates to a full vocabulary count"
        )
    counters = cms_counters(items, item_col, depth, width, hasher)
    distinct = items.select(F.col(item_col).alias("_item")).distinct()
    probes = distinct.select(
        "_item", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_row")
    )
    probes = probes.select(
        "_item", "_row", _hash_slot(F.col("_item"), F.col("_row"), width, hasher).alias("_slot")
    )
    estimates = (
        probes.join(F.broadcast(counters), ["_row", "_slot"])
        .groupBy("_item")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    candidates = estimates.filter(F.col("cms_estimate") >= threshold)
    exact = (
        items.select(F.col(item_col).alias("_item"))
        .join(F.broadcast(candidates), "_item")
        .groupBy("_item", "cms_estimate")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return exact.select(
        F.col("_item").alias(item_col),
        F.col("exact_count").cast("long"),
        F.col("cms_estimate").cast("long"),
        (F.col("exact_count") >= threshold).alias("is_heavy"),
    )


# ---------------------------------------------------------------------------
# fixed-bin histogram: mergeable quantile sketch
# ---------------------------------------------------------------------------


def histogram_counts(
    df: DataFrame, value: Column | str, lo: int, hi: int, n_bins: int
) -> DataFrame:
    """Fixed-bin histogram ``(bin_idx, cnt)`` over a LONG-valued
    column — the mergeable quantile unit: like the CMS counter table
    (and unlike HLL estimates) it is LINEAR, so per-shard/per-day
    histograms summed cell-wise equal the whole-corpus histogram
    EXACTLY. Store one per partition, merge with a sum at read time,
    answer any quantile from the merged table without rescanning.
    Out-of-range values clamp into the edge bins, so cnt always sums
    to the row count. One map-side-combined aggregation; output is
    <= n_bins rows regardless of corpus size."""
    if hi <= lo:
        raise ValueError(f"need hi > lo, got ({lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"need n_bins >= 1, got {n_bins}")
    if (hi - lo) * n_bins >= (1 << 52):
        raise ValueError(
            f"(hi-lo)*n_bins = {(hi - lo) * n_bins} risks exceeding exact "
            "double arithmetic (2^52); rescale the value domain"
        )
    value = F.col(value) if isinstance(value, str) else value
    vc = F.greatest(F.least(value.cast("long"), F.lit(hi - 1)), F.lit(lo))
    bin_idx = _floor_div((vc - F.lit(lo)) * F.lit(n_bins), hi - lo)
    return (
        df.select(bin_idx.cast("int").alias("bin_idx"))
        .groupBy("bin_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_histograms(shard_hists: DataFrame) -> DataFrame:
    """Sum per-shard histogram tables cell-wise — the read-time merge.
    Input: (bin_idx, cnt) rows from any number of shards."""
    return shard_hists.groupBy("bin_idx").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    hist: DataFrame, qs_bp: list[int], lo: int, hi: int, n_bins: int
) -> DataFrame:
    """Quantiles from a (merged) histogram: for each quantile q (basis
    points), the first bin whose cumulative count reaches
    ``ceil(q * n / 10000)``, with its integer upper edge. All
    arithmetic is integer-exact (ceil via ``(q*n + 9999) // 10000``,
    edges via portable floor division), so the result oracle-checks
    value-for-value. Everything here runs on a <= n_bins-row table —
    the single-partition window is the point of a bounded sketch."""
    span = hi - lo
    cum = hist.select(
        "bin_idx",
        "cnt",
        F.sum("cnt")
        .over(Window.orderBy("bin_idx").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_cnt"),
    )
    total = hist.agg(F.sum("cnt").alias("total_cnt"))
    spark = hist.sparkSession
    qs = spark.createDataFrame([(int(q),) for q in qs_bp], "q_bp int")
    target = _floor_div(F.col("q_bp") * F.col("total_cnt") + F.lit(9999), 10_000)
    sel = (
        qs.crossJoin(total)
        .join(cum, cum["cum_cnt"] >= target)
        .groupBy("q_bp", "total_cnt")
        .agg(F.min("bin_idx").alias("bin_idx"))
    )
    upper = F.lit(lo).cast("long") + _floor_div(
        (F.col("bin_idx") + 1).cast("long") * F.lit(span).cast("long"), n_bins
    )
    return (
        sel.join(cum.select("bin_idx", "cum_cnt"), "bin_idx")
        .select(
            "q_bp",
            F.col("bin_idx").cast("int"),
            upper.alias("bin_upper"),
            F.col("cum_cnt").cast("long"),
            F.col("total_cnt").cast("long"),
        )
    )


def corpus_overlap_estimate(
    a: DataFrame,
    b: DataFrame,
    value: Column | str = "fingerprint",
    lg_k: int = 12,
) -> DataFrame:
    """Sketch-speed corpus overlap: |A ∩ B| estimated by
    inclusion-exclusion over HLL sketches — est(A) + est(B) −
    est(A ∪ B) — the 100 TB TRIAGE for cross-corpus contamination
    (the exact decontamination paths confirm what this flags; at
    corpus scale you run the sketch first, everywhere, and the exact
    join only where overlap_est > 0).

    One aggregate per side plus one union-sketch merge: each corpus is
    read ONCE, the driver sees three sketches. Returns one row:
    est_a, est_b, est_union, overlap_est (clamped at >= 0 —
    inclusion-exclusion noise can go slightly negative on disjoint
    corpora), jaccard_bp (floor of overlap/union in basis points).
    """
    value = F.col(value) if isinstance(value, str) else value
    sa = a.agg(F.hll_sketch_agg(value, F.lit(lg_k)).alias("sk"))
    sb = b.agg(F.hll_sketch_agg(value, F.lit(lg_k)).alias("sk"))
    both = sa.select(F.col("sk").alias("sk_a")).crossJoin(
        sb.select(F.col("sk").alias("sk_b"))
    )
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    overlap = F.greatest(est_a + est_b - est_u, F.lit(0))
    return both.select(
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        overlap.alias("overlap_est"),
        F.floor(overlap * 10_000 / F.greatest(est_u, F.lit(1)))
        .cast("long")
        .alias("jaccard_bp"),
    )


def histogram_ks(h1: DataFrame, h2: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance from two (bin_idx, cnt)
    histogram tables (histogram_counts / the rollup's hist column
    exploded): D = max over bins of |cdf1 − cdf2|, reported in
    integer basis points with EXACT rational arithmetic —
    |cum1*n2 − cum2*n1| * 10000 div (n1*n2) — so two engines agree
    bit-for-bit. The distribution-drift complement of PSI (q126): KS
    is threshold-free and sensitive to location shifts PSI's binned
    ratios can smear. Runs on <= n_bins rows; the heavy lifting
    happened in the mergeable histogram maintenance."""
    c1 = h1.select(F.col("bin_idx"), F.col("cnt").alias("c1"))
    c2 = h2.select(F.col("bin_idx"), F.col("cnt").alias("c2"))
    j = c1.join(c2, "bin_idx", "full_outer").select(
        "bin_idx",
        F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
        F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
    )
    w = Window.orderBy("bin_idx").rowsBetween(Window.unboundedPreceding, 0)
    cum = j.select(
        "bin_idx",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    tot = j.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    # den is constant across rows, so max of per-bin floors equals the
    # floor at the max numerator (floor is monotone at fixed den)
    d = cum.crossJoin(tot).select(
        F.expr(
            "abs(cum1 * n2 - cum2 * n1) * 10000 div (n1 * n2)"
        ).alias("ks_bin")
    )
    return d.agg(F.max("ks_bin").cast("long").alias("ks_bp"))
