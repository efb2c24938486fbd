"""Deduplication operators for streaming ingestion.

- exact:   ``stream_dedup_exact`` emits each md5-of-normalized-text
           fingerprint once within the watermark
           (dropDuplicatesWithinWatermark, state evicted by event time).
- near-dup: ``stream_neardup_gate`` checks every arriving document
           against a stored MinHash/LSH index (``neardup_index``):
           row-wise join-free band signatures on the stream, a
           stream-static (band, bucket) equi-join for candidates, and
           an exact gram-Jaccard verify. The index append that
           closes the loop (``accept_and_append_index``) lives in
           ``quanta_contrib.operators.dedup``.

The MinHash functions take a ``hasher`` parameter choosing the hash
family:

- ``xxhash64`` (default): Spark's JVM-side xxhash64 — the fast path.
- ``md5``: the PORTABLE family — every hash is derived from md5 hex
  digits, which DuckDB computes bit-identically, so the full
  signature -> band -> candidate -> verify pipeline is reproducible
  in plain SQL and oracle-checked end to end. The distributed plan
  shape is IDENTICAL between the two families; only the scalar hash
  expression differs.

The batch dedup family (exact groups, MinHash/SimHash pairs, semantic
and media near-dups, record linkage) lives in
``quanta_contrib.operators.dedup``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 as the universal-hash modulus: with 31-bit
# shingle hashes and 30-bit coefficients, a*x + b < 2^62 stays inside
# a signed 64-bit long (Spark 4 runs ANSI mode — overflow would raise,
# and silently wrapping would break min-hash uniformity anyway).
_P = (1 << 31) - 1

# Seeded universal-hash coefficients, shared VERBATIM by the Spark
# operator (numpy partial-min) and the DuckDB oracle SQL (literal
# arrays) — this is what makes the md5-family minhash cross-engine
# deterministic. Do not regenerate without updating both sides.
_RNG = np.random.default_rng(20250816)
MINHASH_A = _RNG.integers(1, (1 << 30) - 1, size=64, dtype=np.int64)
MINHASH_B = _RNG.integers(0, _P, size=64, dtype=np.int64)


def _shingle_hash(col: Column, hasher: str) -> Column:
    """31-bit (xxhash64) or 28-bit (md5) non-negative shingle hash.
    The md5 variant takes the first 7 hex digits of md5 — DuckDB
    reproduces it with strpos-over-hex-alphabet arithmetic."""
    if hasher == "xxhash64":
        return F.xxhash64(col).bitwiseAND(F.lit(_P))
    if hasher == "md5":
        return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")
    raise ValueError(f"unknown hasher {hasher!r} (want xxhash64|md5)")


def normalized(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def _grams_of_norm(norm: Column, n: int) -> Column:
    """Distinct character n-grams of an ALREADY-MATERIALIZED normalized
    column (empty array for too-short texts — sequence() would reverse
    on start>stop). The caller must ensure ``norm`` is a plain column
    reference, not an expression: the transform() lambda evaluates its
    captured expressions once PER ELEMENT, so an inline regexp_replace
    here costs O(len^2) regex work per document (measured 25x slower
    at sf0.1 — see _norm_grams_df)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )
    return F.when(F.length(norm) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _norm_grams_df(
    df: DataFrame, text_col: str, n: int, only_ids: DataFrame | None = None
) -> DataFrame:
    """(doc_id, grams) with the normalization materialized behind an
    exchange barrier: Catalyst's CollapseProject would otherwise inline
    the regexp_replace into the per-element lambda. The repartition
    also restores parallelism for the downstream explode/join — the
    plan shape you want at corpus scale anyway.

    ``only_ids`` (a small (doc_id) DataFrame, broadcast) restricts the
    CPU-heavy gram transform to just those docs — the verify step of a
    blocked pipeline only needs grams for CANDIDATE docs, not the
    corpus (guide §3.2: pre-filter before the expensive work)."""
    # explicit partition count: AQE would coalesce this tiny-bytes
    # exchange to 1 partition, serializing the (CPU-heavy) downstream
    # gram transform + explode onto one core (measured 4-16x slowdown)
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    normed = df.select(
        "doc_id", normalized(F.col(text_col)).alias("_nrm")
    ).repartition(n_parts, F.col("doc_id"))
    if only_ids is not None:
        normed = normed.join(F.broadcast(only_ids), "doc_id")
    return normed.select(
        "doc_id", _grams_of_norm(F.col("_nrm"), n).alias("grams")
    )


def minhash_signatures(
    df: DataFrame,
    shingle_n: int = 5,
    text_col: str = "text",
    hasher: str = "xxhash64",
    grams_df: DataFrame | None = None,
) -> DataFrame:
    """64 minhash values per doc over 5-gram shingles.

    Plan shape: explode shingles (shingle hash JVM-side, family per
    ``hasher``) -> numpy partial minhash per Arrow batch (one
    (a*x+b) mod p matrix op — measured ~10x faster than 64 JVM
    min-aggregates, which fall out of whole-stage codegen at this
    expression count) -> final groupBy(doc_id).min over the tiny
    per-partition partials. Universal-hash coefficients are the
    module-level seeded MINHASH_A/B => deterministic, and with
    hasher='md5' bit-reproducible in DuckDB SQL.
    """
    import pandas as pd

    a, b = MINHASH_A, MINHASH_B
    cols = [f"mh_{i}" for i in range(len(a))]

    # callers that already materialized (doc_id, grams) — e.g. the
    # index builder, which also stores the gram arrays — pass it in so
    # the corpus-wide normalization+gram pass runs once, not twice
    if grams_df is None:
        grams_df = _norm_grams_df(df, text_col, shingle_n)
    shingles = grams_df.select(
        "doc_id", F.explode("grams").alias("sh")
    ).select("doc_id", _shingle_hash(F.col("sh"), hasher).alias("x"))

    def partial(it):
        for pdf in it:
            if not len(pdf):
                continue
            # sort by doc, then one matrix pass: (n, k) = (a*x+b) % p
            pdf = pdf.sort_values("doc_id", kind="mergesort")
            x = pdf["x"].to_numpy(dtype=np.int64)
            h = (x[:, None] * a[None, :] + b[None, :]) % _P  # a<2^30,x<2^31: no overflow
            ids, starts = np.unique(pdf["doc_id"].to_numpy(), return_index=True)
            mins = np.minimum.reduceat(h, starts, axis=0)
            out = pd.DataFrame(mins, columns=cols)
            out.insert(0, "doc_id", ids)
            yield out

    schema = "doc_id long, " + ", ".join(f"{c} long" for c in cols)
    partials = shingles.mapInPandas(partial, schema=schema)
    return partials.groupBy("doc_id").agg(
        *[F.min(c).alias(c) for c in cols]
    )


def stream_dedup_exact(
    df: DataFrame, watermark: str = "1 hour", text_col: str = "text", ts_col: str = "ts"
) -> DataFrame:
    """Streaming exact dedup: emit each content fingerprint ONCE among
    all arrivals within the watermark window
    (dropDuplicatesWithinWatermark — state evicted by event time, the
    only dedup contract possible with finite state on an unbounded
    stream). Output is the fingerprint set (projected before dedup so
    the result is deterministic regardless of which duplicate arrives
    first)."""
    return (
        df.withWatermark(ts_col, watermark)
        .select(
            F.md5(normalized(F.col(text_col))).alias("fingerprint"),
            F.col(ts_col),
        )
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("fingerprint")
    )


def _bands(n_bands: int, rows_per_band: int, hasher: str) -> Column:
    """The LSH band array over the ``mh_<i>`` columns: one (band,
    bucket) struct per band, the bucket hashed from the band's row
    minhashes (xxhash64 fast path, md5 portable path). Shared by the
    batch-built index and the row-wise stream signatures so both land
    in identical buckets."""
    structs = []
    for bi in range(n_bands):
        mh = [F.col(f"mh_{bi * rows_per_band + r}") for r in range(rows_per_band)]
        if hasher == "xxhash64":
            bucket = F.xxhash64(F.lit(bi), *mh)
        else:
            bucket = F.md5(F.concat_ws("-", *[c.cast("string") for c in mh]))
        structs.append(F.struct(F.lit(bi).alias("band"), bucket.alias("bucket")))
    return F.array(*structs)


def rowwise_minhash_bands(
    df: DataFrame,
    id_cols: list[str],
    text_col: str = "text",
    shingle_n: int = 5,
    n_bands: int = 8,
    rows_per_band: int = 8,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Minhash band buckets computed per ROW — one projection, no
    aggregation — so it runs on an unbounded stream in append mode
    (a groupBy(doc).min signature can't). Identical values to
    minhash_signatures + banding: same distinct-gram set, same
    universal-hash coefficients, same bucket hash.

    Output: ``id_cols`` + ``grams`` (kept for the exact verify join)
    + exploded (band, bucket). The gram hashes are materialized into a
    column BEFORE the 64 per-hash array_min transforms — the captured-
    expression re-eval pitfall (_grams_of_norm doc) would otherwise
    re-hash every shingle 64 times."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    keep = [F.col(c) for c in id_cols]
    normed = df.select(
        *keep, normalized(F.col(text_col)).alias("_nrm")
    ).repartition(n_parts)
    grams = normed.select(
        *keep, _grams_of_norm(F.col("_nrm"), shingle_n).alias("grams")
    )
    xs = grams.withColumn(
        "_xs", F.transform("grams", lambda s: _shingle_hash(s, hasher))
    )
    # single-arg closure per coefficient pair: a two-parameter lambda
    # would be read by F.transform as its (element, index) form and the
    # array index would shadow the coefficient index
    def _uh(ai: int, bi: int):
        return lambda x: (x * ai + bi) % _P

    mh = [
        F.array_min(F.transform("_xs", _uh(int(a), int(b)))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    sigs = xs.select(*keep, "grams", *mh)
    bands = _bands(n_bands, rows_per_band, hasher)
    return sigs.select(*keep, "grams", F.explode(bands).alias("bb")).select(
        *keep, "grams", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def neardup_index(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 5,
    hasher: str = "xxhash64",
    n_bands: int = 8,
    rows_per_band: int = 8,
) -> DataFrame:
    """The STORED historical LSH index of a production dedup gate:
    (band, bucket, idx_doc_id, idx_grams) rows a pipeline keeps in a
    table and appends each day's accepted documents to. Built with the
    batch signature path (mapInPandas partials); carries the gram
    arrays so the gate's exact verify needs no second lookup."""
    grams = _norm_grams_df(df, text_col, shingle_n)
    sigs = minhash_signatures(
        df, shingle_n=shingle_n, text_col=text_col, hasher=hasher, grams_df=grams
    )
    stacked = sigs.select(
        "doc_id", F.explode(_bands(n_bands, rows_per_band, hasher)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    return stacked.join(grams, "doc_id").select(
        "band",
        "bucket",
        F.col("doc_id").alias("idx_doc_id"),
        F.col("grams").alias("idx_grams"),
    )


def stream_neardup_gate(
    stream_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    threshold: float = 0.8,
    shingle_n: int = 5,
    hasher: str = "xxhash64",
    watermark: str = "1 hour",
    n_bands: int = 8,
    rows_per_band: int = 8,
) -> DataFrame:
    """Streaming ingestion near-dup gate: every arriving document is
    checked against the historical index — THE production shape of
    dedup at 10^12 scale (nobody re-runs all-pairs over the full
    corpus per day; new data joins a maintained index).

    Plan: row-wise join-free signatures on the stream (stateless
    projection), stream-static equi-join on (band, bucket) — the
    static side shuffles once, the stream side is append-mode
    stateless — then watermark-bounded pair dedup (a doc matching the
    same index doc in several bands must report once) and the exact
    gram-Jaccard verify as a codegen filter. Emits matches eagerly;
    the watermark only evicts dedup state."""
    s = stream_df
    if s.isStreaming:
        s = s.withWatermark(ts_col, watermark)
    bands = rowwise_minhash_bands(
        s,
        [id_col, ts_col],
        text_col=text_col,
        shingle_n=shingle_n,
        hasher=hasher,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    )
    joined = bands.join(index, ["band", "bucket"])
    if joined.isStreaming:
        pairs = joined.dropDuplicatesWithinWatermark([id_col, "idx_doc_id"])
    else:
        pairs = joined.dropDuplicates([id_col, "idx_doc_id"])
    inter = F.size(F.array_intersect("grams", "idx_grams"))
    union = F.size(F.array_union("grams", "idx_grams"))
    out = pairs.select(
        F.col(id_col).alias("new_doc_id"),
        "idx_doc_id",
        inter.alias("n_common"),
        union.alias("n_union"),
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold)
