"""Similarity search over embedding columns (array<float>).

Two paths, matching how ANN is actually deployed on Spark:

- brute-force top-k (the exactness baseline): broadcast the (small)
  query matrix to every executor, scan the corpus ONCE with a
  vectorized Arrow UDF computing all query dot products per batch in
  numpy (BLAS), then a per-query top-k. Cost: one corpus scan — the
  right plan when |queries| << |corpus|, and the verifier for any
  approximate index.
- LSH-bucketed (the scale path): random-hyperplane signatures bucket
  the corpus; queries probe only their bucket (plus optional
  neighboring probes) — candidate set shrinks by ~2^bits, turning
  all-pairs into a bucket-equi-join, which is the only shape that
  survives 10^12 rows.

Determinism: similarity is computed in float64 and reported in basis
points (round(sim*1e4) as int) with doc-id tie-breaks, so results are
stable across engines and summation orders (the DuckDB oracle computes
the same integers via list_cosine_similarity on DOUBLE[]).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _bp_half_away(sims: np.ndarray) -> np.ndarray:
    """Basis points with HALF-AWAY-FROM-ZERO ties — the same rule as
    Spark's F.round (_cosine_bp) and DuckDB's round(), unlike np.rint
    (banker's half-to-even), so all three cosine paths agree on exact
    .5 bp values of either sign."""
    scaled = sims * 10_000.0
    return (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)


def _topk_window(df: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_bp").desc(), F.col("vec_id").asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim_bp")
    )


#: Hard ceiling on any collected-and-broadcast query set. The
#: broadcast pattern is only valid when |queries| is O(1) in the
#: corpus; exceeding this is a plan-shape bug, not a data size issue.
MAX_BROADCAST_QUERIES = 10_000


def _empty_topk(spark) -> DataFrame:
    """Typed empty result for a zero-query call — np.linalg.norm on a
    0-row matrix would raise an AxisError instead."""
    return spark.createDataFrame(
        [], "query_id long, rank int, vec_id long, sim_bp long"
    )


def _bounded_query_rows(queries: DataFrame, *cols: str) -> list:
    """Collect a query set under the MAX_BROADCAST_QUERIES ceiling —
    THE single chokepoint every broadcast-query ANN path goes through
    (collect-based paths call this; join-based paths call
    _enforce_query_budget). Raises past the ceiling."""
    rows = queries.select(*cols).limit(MAX_BROADCAST_QUERIES + 1).collect()
    if len(rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"query set exceeds MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}; "
            "bound it explicitly (the query side is collected/broadcast)"
        )
    return rows


def _enforce_query_budget(queries: DataFrame) -> None:
    """Count-based twin of _bounded_query_rows for paths that keep the
    query side a DataFrame but still F.broadcast() it."""
    if queries.limit(MAX_BROADCAST_QUERIES + 1).count() > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"query set exceeds MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}; "
            "bound it explicitly (the query side is collected/broadcast)"
        )


def brute_force_cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k. ``queries`` must be small (collected to the
    driver and broadcast — the standard pattern; for query STREAMS use
    the LSH path instead). One corpus scan, numpy per Arrow batch.
    Raises if the query set exceeds MAX_BROADCAST_QUERIES: the caller
    must bound the budget explicitly (e.g. a fixed id set or limit)."""
    q_rows = _bounded_query_rows(queries, "vec_id", "embedding")
    if not q_rows:
        return _empty_topk(corpus.sparkSession)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    sc = corpus.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(q_ids), sc.broadcast(q_mat)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, qm = b_ids.value, b_mat.value
        for pdf in it:
            if not len(pdf):
                continue
            c = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
            sims = c @ qm.T  # (batch, n_queries)
            n, q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qi, n),
                    "vec_id": np.tile(pdf["vec_id"].to_numpy(), q),
                    "sim_bp": _bp_half_away(sims.T.reshape(-1)),
                }
            )

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, vec_id long, sim_bp long"
    )
    scored = scored.filter(F.col("query_id") != F.col("vec_id"))
    return _topk_window(scored, k)


def hyperplane_signature(df: DataFrame, n_bits: int = 8, dim: int = 64, seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (one vectorized UDF
    pass). Fixed seed => deterministic buckets. All input columns are
    carried THROUGH the Arrow batch and the bucket appended — join-free
    by construction (re-attaching via a vec_id self-join would add an
    avoidable shuffle+join per signature pass)."""
    from pyspark.sql.types import LongType, StructField, StructType

    if "bucket" in df.columns:
        raise ValueError(
            "hyperplane_signature appends a 'bucket' column but the input "
            "already has one — rename or drop it first"
        )
    if not 1 <= n_bits <= 62:
        raise ValueError(
            f"n_bits={n_bits} out of range 1..62 (bucket ids are int64; "
            "63+ bit positions would silently overflow)"
        )
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    sc = df.sparkSession.sparkContext
    b_planes = sc.broadcast(planes)
    out_schema = StructType(df.schema.fields + [StructField("bucket", LongType())])

    def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = b_planes.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            bits = (v @ pl.T) > 0  # (n, n_bits)
            bucket = (bits * (1 << np.arange(bits.shape[1]))).sum(axis=1)
            out = pdf.copy()
            out["bucket"] = bucket.astype(np.int64)
            yield out

    return df.mapInPandas(sig, schema=out_schema)


def hyperplane_probes(
    df: DataFrame,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    extra_probes: int = 0,
) -> DataFrame:
    """Query-side MULTI-PROBE signatures: the exact bucket plus
    ``extra_probes`` single-bit-flip buckets, flipped in ascending
    |dot| (margin) order — the planes the query sits closest to, where
    its true neighbors most likely landed on the other side (classic
    multi-probe LSH). One Arrow pass, ``extra_probes + 1`` rows per
    query; each corpus vector lives in exactly one bucket and probe
    buckets are distinct, so a (query, vec) candidate pair still meets
    at most once — no dedup needed downstream. Same (seed, n_bits,
    dim) => same planes as hyperplane_signature."""
    from pyspark.sql.types import LongType, StructField, StructType

    if "bucket" in df.columns:
        raise ValueError("hyperplane_probes appends 'bucket'; drop the existing one")
    if not 1 <= n_bits <= 62:
        raise ValueError(
            f"n_bits={n_bits} out of range 1..62 (bucket ids are int64; "
            "63+ bit positions would silently overflow)"
        )
    if extra_probes < 0:
        raise ValueError(f"extra_probes={extra_probes} must be >= 0")
    p = min(extra_probes, n_bits)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    b_planes = df.sparkSession.sparkContext.broadcast(planes)
    out_schema = StructType(df.schema.fields + [StructField("bucket", LongType())])

    def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = b_planes.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            dots = v @ pl.T
            base = ((dots > 0) * (1 << np.arange(n_bits))).sum(axis=1).astype(np.int64)
            order = np.argsort(np.abs(dots), axis=1, kind="stable")
            buckets = [base] + [
                base ^ (np.int64(1) << order[:, j].astype(np.int64)) for j in range(p)
            ]
            out = pdf.loc[np.repeat(pdf.index, len(buckets))].reset_index(drop=True)
            out["bucket"] = np.stack(buckets, axis=1).reshape(-1)
            yield out

    return df.mapInPandas(sig, schema=out_schema)


def _cosine_bp(a: str, b: str):
    """Exact cosine similarity of two array<float> columns, JVM-side
    in float64, reported in basis points (round(sim*1e4) as long) —
    the integer report absorbs last-ULP summation-order differences
    vs the DuckDB oracle (proven by q27/q43 parity)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    sim = dot / F.greatest(norm(F.col(a)) * norm(F.col(b)), F.lit(1e-12))
    return F.round(sim * 10_000).cast("long")


def _bucketed_topk(c_sig: DataFrame, q_sig: DataFrame, k: int) -> DataFrame:
    """Shared tail of every LSH path: bucket equi-join (the 10^12-row
    shape — candidates shrink by ~2^bits vs all-pairs), exact cosine
    on candidates, per-query top-k. Callers enforce the query budget
    on the RAW query set before any multi-probe expansion — counting
    the expanded q_sig would shrink the documented ceiling by
    (extra_probes + 1)x."""
    paired = c_sig.join(F.broadcast(q_sig), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = paired.select(
        "query_id", "vec_id", _cosine_bp("embedding", "q_emb").alias("sim_bp")
    )
    return _topk_window(scored, k)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    extra_probes: int = 4,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus its
    ``extra_probes`` nearest-margin single-bit-flip buckets (multi-
    probe). Recall < 1 by construction; verified against brute force
    in tests (recall floor asserted). Default extra_probes=4 comes
    from the measured clustered-MoG frontier (BENCH/ann_recall.json
    lsh_sweep): 8-bit single-probe recalls 0.28 at 0.4% scan, while
    +4 probes recalls 0.69 at ~2% scan — the best recall-per-scan
    knee; pass extra_probes=0 for the cheapest single-bucket probe.
    ``dim`` is the embedding dimensionality — carried explicitly
    (schema metadata, dataset contract) rather than sniffed from a
    driver-side first() action."""
    _enforce_query_budget(queries)
    c_sig = hyperplane_signature(corpus, n_bits=n_bits, dim=dim).select(
        F.col("vec_id"), F.col("bucket"), F.col("embedding")
    )
    q_sig = hyperplane_probes(
        queries, n_bits=n_bits, dim=dim, extra_probes=extra_probes
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket"),
        F.col("embedding").alias("q_emb"),
    )
    return _bucketed_topk(c_sig, q_sig, k)


def axis_bucket_expr(n_bits: int = 8, stride: int = 8):
    """PORTABLE bucket id: bit i = sign of embedding[i*stride]. A
    degenerate random-hyperplane family (plane = coordinate axis):
    each bit is a single float comparison, bit-reproducible in any
    engine — no dot-product summation whose float ordering could
    diverge cross-engine. Used by the oracle-checked gate variant."""
    acc = F.lit(0)
    for i in range(n_bits):
        acc = acc + F.when(
            F.element_at("embedding", i * stride + 1).cast("double") > 0, F.lit(1 << i)
        ).otherwise(0)
    return acc.cast("long")


def auto_n_blocks(
    n_rows: int,
    dim: int,
    target_task_bytes: int = 256 << 20,
    parallelism: int = 32,
) -> int:
    """Derive the all-pairs block count so one block-pair task fits the
    memory target: the (n/B)^2 float64 sims matrix must take at most
    half the target, the two (n/B, dim) operand matrices the other
    half; and B(B+1)/2 block pairs must at least fill the cores. A
    static B that was right at sf0.1 would OOM at 100x — this makes
    per-task memory invariant to corpus growth (B grows ~linearly in
    n, shuffle volume O(n*B) grows accordingly: the inherent price of
    an exact O(n^2) answer)."""
    if n_rows <= 1:
        return 1
    sims_bound = math.ceil(n_rows / math.sqrt(target_task_bytes / 16.0))
    mats_bound = math.ceil(32.0 * n_rows * dim / target_task_bytes)
    par_bound = math.ceil(math.sqrt(2.0 * parallelism))
    return min(n_rows, max(1, sims_bound, mats_bound, par_bound))


def exact_allpairs_cosine(
    emb: DataFrame,
    threshold: float = 0.4,
    n_blocks: int | None = None,
    dim: int = 64,
    target_task_bytes: int = 256 << 20,
) -> DataFrame:
    """Distributed EXACT all-pairs cosine >= threshold — no driver
    collect, no broadcast of the corpus.

    Block-pair replication: each vector (block g = vec_id mod B) is
    replicated to the B block-pair keys {(min(g,k), max(g,k))} it
    participates in; every unordered vector pair meets in EXACTLY one
    key, where a numpy matmul scores it. Costs: shuffle O(n*B) rows,
    per-task memory O((n/B)^2 + n/B * dim) floats. ``n_blocks=None``
    (default) derives B from a corpus count() + ``dim`` via
    auto_n_blocks so tasks stay under ``target_task_bytes`` at any
    corpus size. Total compute is O(n^2), inherent to an exact answer;
    the sublinear path is the LSH bucket join (this operator is its
    exactness baseline / recall oracle)."""
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n_blocks = auto_n_blocks(
            emb.count(),  # one O(1)-result driver action
            dim,
            target_task_bytes=target_task_bytes,
            parallelism=emb.sparkSession.sparkContext.defaultParallelism,
        )

    g = F.pmod(F.col("vec_id"), F.lit(n_blocks))
    keys = F.array(*[
        F.struct(
            F.least(g, F.lit(k)).cast("int").alias("bp"),
            F.greatest(g, F.lit(k)).cast("int").alias("bq"),
        )
        for k in range(n_blocks)
    ])
    rep = emb.select(
        "vec_id", "embedding", F.explode(keys).alias("key")
    ).select(F.col("key.bp").alias("bp"), F.col("key.bq").alias("bq"), "vec_id", "embedding")

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        bp, bq = int(pdf["bp"].iloc[0]), int(pdf["bq"].iloc[0])
        ids = pdf["vec_id"].to_numpy(np.int64)
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        blk = ids % n_blocks
        if bp == bq:
            sims = mat @ mat.T
            ii, jj = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
            va, vb = ids[ii], ids[jj]
        else:
            la, lb = blk == bp, blk == bq
            ia, ib = ids[la], ids[lb]
            sims = mat[la] @ mat[lb].T
            ii, jj = np.nonzero(sims >= threshold)
            va = np.minimum(ia[ii], ib[jj])
            vb = np.maximum(ia[ii], ib[jj])
        return pd.DataFrame(
            {
                "vec_a": va,
                "vec_b": vb,
                "sim_bp": _bp_half_away(sims[ii, jj]),
            }
        )

    return rep.groupBy("bp", "bq").applyInPandas(
        block, schema="vec_a long, vec_b long, sim_bp long"
    )


#: Hard ceiling on the IVF coarse-centroid count: centroids are
#: collected to the driver and broadcast, so they must stay O(1) in
#: the corpus (a real deployment uses n_cells ~ sqrt(n) capped by
#: what a broadcast comfortably holds; 256 * 64 doubles is ~128 KB).
MAX_IVF_CELLS = 256
# default probe width: with ~sqrt(n) cells, 8 probes keep the scan
# fraction at 8/sqrt(n) (2.5% at n=100k). Measured on the clustered
# MoG corpus (20k vectors, BENCH/ann_recall.json): recall@10 = 0.696 /
# 0.878 / 0.970 at nprobe 2 / 4 / 8 — 8 buys comfortable headroom over
# the >=0.8 bar at a still-tiny scan fraction (5.7%).
DEFAULT_NPROBE = 8


def _ivf_centroids(corpus: DataFrame, n_cells: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic seed-free coarse centroids: the ``n_cells`` corpus
    vectors with the smallest md5(vec_id) (hex-string order, vec_id
    tie-break). md5 is bit-identical across engines, so an oracle can
    re-derive the exact same cells — a stand-in for k-means centroids
    whose iterative float updates would never hash-match cross-engine.
    Bounded driver action: collects exactly ``n_cells`` rows."""
    if n_cells > MAX_IVF_CELLS:
        raise ValueError(f"n_cells={n_cells} exceeds MAX_IVF_CELLS={MAX_IVF_CELLS}")
    rows = (
        corpus.select(
            "vec_id", "embedding", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy(F.col("h").asc(), F.col("vec_id").asc())
        .limit(n_cells)
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return ids, mat  # cell_id i == position i in (h, vec_id) order


def _ivf_cells(
    df: DataFrame,
    cent_mat: np.ndarray,
    top: int,
    id_out: str,
    emb_out: str,
    extra_cols: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Append the ``top`` nearest cell ids (by cosine, bp-rounded with
    cell-id tie-break) to every vector — one join-free, shuffle-free
    Arrow pass with the centroid matrix broadcast, same shape as
    hyperplane_signature. top=1 is corpus assignment; top=nprobe is
    query probing. ``top`` is clamped to the cell count (probing "more
    cells than exist" is an exhaustive scan, not an error).
    ``extra_cols``: (name, ddl_type) pairs carried through the pass
    untouched (e.g. an event-time column on a stream)."""
    top = min(top, cent_mat.shape[0])
    sc = df.sparkSession.sparkContext
    b_cent = sc.broadcast(cent_mat)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = b_cent.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            sims_bp = _bp_half_away(v @ cm.T)  # (n, n_cells)
            # argsort by (sim_bp desc, cell_id asc): cell ids ARE the
            # column order, and np.argsort is stable, so sorting -sims_bp
            # ascending yields exactly that tie-break
            order = np.argsort(-sims_bp, axis=1, kind="stable")[:, :top]
            n = len(pdf)
            out = pdf.loc[pdf.index.repeat(top)].reset_index(drop=True)
            out["cell_id"] = order.reshape(-1).astype(np.int64)
            yield out.rename(columns={"vec_id": id_out, "embedding": emb_out})

    out_schema = ", ".join(
        [f"{id_out} long", f"{emb_out} array<float>"]
        + [f"{n} {t}" for n, t in extra_cols]
        + ["cell_id long"]
    )
    return df.select(
        "vec_id", "embedding", *[n for n, _t in extra_cols]
    ).mapInPandas(assign, schema=out_schema)


def auto_n_cells(n_rows: int) -> int:
    """IVF coarse-cell count ~ sqrt(n) (the standard IVF sizing: cell
    scan cost n/n_cells balances against the n_cells centroid scan),
    capped by the broadcast ceiling. With nprobe fixed, candidate work
    per query is O(sqrt(n)) — sublinear in the corpus, vs linear at
    any static cell count (measured 10.3x wall at 10x rows with 16
    static cells in BENCH/scale_step.json before this)."""
    return max(1, min(MAX_IVF_CELLS, math.isqrt(max(n_rows, 1))))


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = DEFAULT_NPROBE,
    dim: int = 64,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-Flat approximate top-k — the inverted-file counterpart of
    the LSH path, and the other standard sub-linear ANN shape:

    1. coarse quantizer: ``n_cells`` deterministic centroids
       (md5-least vec_ids — portable; see _ivf_centroids);
    2. corpus assignment: every vector goes to its single nearest
       cell (one shuffle-free Arrow pass, broadcast centroids);
    3. query probing: each query expands to its ``nprobe`` nearest
       cells, then candidates come from a cell_id equi-join — the
       scan shrinks to ~nprobe/n_cells of the corpus, and the join is
       the partition-prunable shape that survives 10^12 rows (cell_id
       is the natural partition key for the stored index);
    4. exact cosine (JVM-side, bp-rounded) + per-query top-k on the
       candidates only.

    Recall < 1 by construction (a true neighbor may live in an
    unprobed cell); verified against brute force in tests. Each corpus
    vector is in EXACTLY one cell, so no candidate dedup is needed.

    ``n_cells=None`` (default) derives ~sqrt(corpus) cells via
    auto_n_cells — the sizing that keeps per-query candidate work
    sublinear; pass an explicit count for reproducible cell layouts
    (the q56 gate pins 16 so the oracle can re-derive them).

    ``train_iters > 0`` replaces the md5-least seed centroids with
    ``train_iters`` rounds of spherical k-means
    (clustering.train_spherical_centroids) — the production quality
    path (measured on the clustered corpus in BENCH/ann_recall.json);
    the default 0 keeps the seed path the oracle gates can replay."""
    if n_cells is None:
        n_cells = auto_n_cells(corpus.count())  # one O(1)-result action
    # the probe side is broadcast below — same hard query ceiling as
    # every other collected/broadcast-query ANN path
    _enforce_query_budget(queries)
    if train_iters > 0:
        from quanta_contrib.operators.clustering import train_spherical_centroids

        cent_mat = train_spherical_centroids(corpus, n_cells, n_iter=train_iters)
    else:
        _, cent_mat = _ivf_centroids(corpus, n_cells)
    assigned = _ivf_cells(corpus, cent_mat, 1, "vec_id", "embedding")
    q_probe = _ivf_cells(queries, cent_mat, nprobe, "query_id", "q_emb")
    paired = assigned.join(F.broadcast(q_probe), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = paired.select(
        "query_id", "vec_id", _cosine_bp("embedding", "q_emb").alias("sim_bp")
    )
    return _topk_window(scored, k)


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of the embedding
    column — the standard 4x storage cut for an embedding corpus (at
    100 TB of float32 vectors, the difference between one cluster and
    four). Pure Column math, whole-stage codegen, zero shuffle:

    - scale = max(|x_i|) / 127  (per vector, double)
    - q_i   = floor(x_i / scale + 0.5)  (portable half-up — identical
      IEEE-double ops in any engine, so q is bit-reproducible, unlike
      engine-native round() whose half-tie rule varies)

    Returns (vec_id, scale, q, embedding): the quantized codes, the
    dequant scale, and the original vector (so callers can measure
    reconstruction error without a re-join)."""
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v))) / F.lit(127.0),
        F.lit(1e-12),
    )
    q = F.transform(x, lambda v: F.floor(v / F.col("scale") + F.lit(0.5)).cast("int"))
    return (
        emb.select("vec_id", "embedding", scale.alias("scale"))
        .withColumn("q", q)
    )


def _pq_centroids(corpus: DataFrame, n_cent: int, n_sub: int, sub_dim: int) -> np.ndarray:
    """PQ codebooks from the same deterministic md5-least selection as
    IVF (_ivf_centroids): the n_cent chosen vectors, split into n_sub
    subvectors, give one n_cent-entry codebook PER subspace — seed-free
    and re-derivable in SQL, standing in for per-subspace k-means.
    Returns (n_sub, n_cent, sub_dim) float64."""
    rows = (
        corpus.select(
            "vec_id", "embedding", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy(F.col("h").asc(), F.col("vec_id").asc())
        .limit(n_cent)
        .collect()
    )
    if len(rows) < n_cent:
        raise ValueError(
            f"PQ codebook needs n_cent={n_cent} corpus vectors, "
            f"found only {len(rows)} — lower n_cent or grow the corpus"
        )
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return mat.reshape(n_cent, n_sub, sub_dim).transpose(1, 0, 2)


def _pq_dist_micro(vecs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Squared-L2 distance of every subvector to every codebook entry,
    FIXED-POINT in micro units: floor(d*1e6 + 0.5) as int64. Integer
    distances make every downstream sum/argmin/compare exact and
    cross-engine reproducible (float noise is ~1e-16 vs the 1e-6
    grid). vecs (n, dim) -> (n, n_sub, n_cent) int64."""
    n_sub, n_cent, sub_dim = cent.shape
    v = vecs.reshape(len(vecs), n_sub, 1, sub_dim)
    d = ((v - cent[None]) ** 2).sum(axis=3)  # (n, n_sub, n_cent)
    return np.floor(d * 1_000_000 + 0.5).astype(np.int64)


def pq_encode(corpus: DataFrame, cent: np.ndarray) -> DataFrame:
    """Product-quantization codes: per subspace, the index of the
    nearest codebook entry (micro-int distance, ties -> lowest index).
    One shuffle-free Arrow pass with the (tiny) codebook tensor
    broadcast — 64 float32 dims compress to n_sub bytes (32x), which
    at 10^12 vectors is the difference between an in-memory ANN index
    and none. Output: (vec_id, codes array<int>)."""
    sc = corpus.sparkSession.sparkContext
    b_cent = sc.broadcast(cent)

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = b_cent.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = _pq_dist_micro(v, cm).argmin(axis=2)  # first-min = lowest idx
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "codes": list(codes.astype(np.int32))}
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        enc, schema="vec_id long, codes array<int>"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    train_iters: int = 0,
) -> DataFrame:
    """PQ + ADC (asymmetric distance computation) top-k — the memory-
    bound ANN shape: the corpus is scanned as n_sub-byte codes, never
    raw vectors; each query precomputes an (n_sub x n_cent) lookup
    table of micro-int subspace distances, and a candidate's distance
    is n_sub table lookups + an integer sum. One corpus scan, zero
    shuffle before the final top-k; approximate by construction
    (quantization error), verified against brute force in tests.
    Exact-integer distances make the ranking deterministic and the
    q60 oracle re-derivable in SQL."""
    if dim % n_sub:
        raise ValueError(f"dim={dim} not divisible by n_sub={n_sub}")
    if train_iters > 0:
        # per-subspace k-means codebooks (Jegou et al.'s recipe) — the
        # float quality path, bench-graded; 0 keeps seed codebooks the
        # q60/q66 oracles replay
        from quanta_contrib.operators.clustering import train_pq_codebooks

        cent = train_pq_codebooks(
            corpus, n_cent=n_cent, n_sub=n_sub, dim=dim, n_iter=train_iters
        )
    else:
        cent = _pq_centroids(corpus, n_cent, n_sub, dim // n_sub)
    codes = pq_encode(corpus, cent)
    q_rows = _bounded_query_rows(queries, "vec_id", "embedding")
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    luts = _pq_dist_micro(q_mat, cent)  # (n_q, n_sub, n_cent) int64
    sc = corpus.sparkSession.sparkContext
    b_ids, b_luts = sc.broadcast(q_ids), sc.broadcast(luts)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, ql = b_ids.value, b_luts.value
        sub_idx = np.arange(ql.shape[1])
        for pdf in it:
            if not len(pdf):
                continue
            c = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, n_sub)
            vids = pdf["vec_id"].to_numpy(np.int64)
            frames = []
            for j in range(len(qi)):
                adist = ql[j][sub_idx[None, :], c].sum(axis=1)  # exact int
                frames.append(
                    pd.DataFrame(
                        {"query_id": qi[j], "vec_id": vids, "adist_micro": adist}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = codes.mapInPandas(
        score, schema="query_id long, vec_id long, adist_micro long"
    ).filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_micro").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adist_micro")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    train_iters: int = 0,
) -> DataFrame:
    """Two-stage ANN: PQ+ADC shortlist -> exact cosine rerank.

    Stage 1 scans the corpus as n_sub-byte codes (32x compression) and
    keeps ``shortlist`` candidates per query by integer ADC distance;
    stage 2 fetches ONLY those candidates' raw vectors (broadcast
    semi-join on vec_id into the corpus scan) and reranks them by exact
    float64 cosine in basis points. At 10^12 corpus vectors the
    raw-vector fetch is |queries| x shortlist rows — independent of
    corpus size — so the exact math touches a vanishing fraction of the
    data while recovering most of the recall PQ alone loses
    (bench_ann_recall.py: 5.2x lift at a 10% fetch fraction). Integer
    ADC distances + bp-rounded cosine with vec_id tie-breaks keep the
    full two-stage ranking deterministic and SQL-re-derivable (q66).
    """
    cand = pq_adc_topk(
        corpus, queries, k=shortlist, n_sub=n_sub, n_cent=n_cent, dim=dim,
        train_iters=train_iters,
    ).select("query_id", "vec_id")
    fetched = corpus.select("vec_id", F.col("embedding").alias("c_emb")).join(
        F.broadcast(cand), "vec_id"
    )
    q_emb = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = fetched.join(F.broadcast(q_emb), "query_id").select(
        "query_id", "vec_id", _cosine_bp("c_emb", "q_emb").alias("sim_bp")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_bp").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim_bp")
    )


def axis_lsh_cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, n_bits: int = 8, stride: int = 8
) -> DataFrame:
    """LSH top-k with the portable coordinate-sign bucket family.
    Same bucket-equi-join plan as lsh_cosine_topk — only the signature
    expression differs (pure Column math, whole-stage codegen, no
    Python)."""
    _enforce_query_budget(queries)
    bucket = axis_bucket_expr(n_bits=n_bits, stride=stride)
    c_sig = corpus.select("vec_id", bucket.alias("bucket"), "embedding")
    q_sig = queries.select(
        F.col("vec_id").alias("query_id"),
        bucket.alias("bucket"),
        F.col("embedding").alias("q_emb"),
    )
    return _bucketed_topk(c_sig, q_sig, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus items with a DIFFERENT label (the
    near-misses a retrieval model must learn to separate; same-label
    hits are positives, not negatives). Same bounded-query-broadcast
    scan shape as brute_force_cosine_topk — labels ride the Arrow
    batch, the label filter runs inside the scoring kernel, so the
    corpus crosses zero joins and zero extra shuffles."""
    q_rows = _bounded_query_rows(queries, "vec_id", "embedding", label_col)
    if not q_rows:
        return _empty_topk(corpus.sparkSession)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_lab = np.array([str(r[label_col]) for r in q_rows])
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    sc = corpus.sparkSession.sparkContext
    b_ids, b_lab, b_mat = sc.broadcast(q_ids), sc.broadcast(q_lab), sc.broadcast(q_mat)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, ql, qm = b_ids.value, b_lab.value, b_mat.value
        for pdf in it:
            if not len(pdf):
                continue
            c = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
            sims = c @ qm.T  # (batch, n_queries)
            n, q = sims.shape
            clab = pdf["_lab"].to_numpy().astype(str)
            keep = np.tile(clab, q) != np.repeat(ql, n)  # different-label only
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qi, n)[keep],
                    "vec_id": np.tile(pdf["vec_id"].to_numpy(), q)[keep],
                    "sim_bp": _bp_half_away(sims.T.reshape(-1))[keep],
                }
            )
            if len(out):
                yield out

    scored = corpus.select(
        "vec_id", "embedding", F.col(label_col).cast("string").alias("_lab")
    ).mapInPandas(score, schema="query_id long, vec_id long, sim_bp long")
    return _topk_window(scored, k)


def stream_ivf_ingest(
    stream_emb: DataFrame,
    cent_mat: np.ndarray,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming vector ingestion into an IVF index: every arriving
    embedding is assigned its nearest coarse cell (the same
    shuffle-free broadcast-centroid Arrow pass as the batch index —
    STATELESS, so it streams in append mode), then per-window cell
    occupancy counts come out of a windowed aggregation — the
    index-maintenance signal (when a cell outgrows its neighbors it's
    time to split/rebalance). At 10^12 vectors/day this is the only
    tenable shape: assignment is embarrassingly parallel, and the
    stateful part aggregates O(n_cells x windows) rows, not vectors.

    The watermark is applied AFTER the Arrow pass: mapInPandas emits
    fresh attributes, so an upstream event-time mark would not
    propagate through it."""
    assigned = _ivf_cells(
        stream_emb, cent_mat, 1, "vec_id", "embedding",
        extra_cols=((ts_col, "timestamp"),),
    )
    if assigned.isStreaming:
        assigned = assigned.withWatermark(ts_col, watermark)
    out = assigned.groupBy(
        F.window(ts_col, window).alias("win"), F.col("cell_id")
    ).agg(F.count(F.lit(1)).alias("n_vectors"))
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "cell_id",
        F.col("n_vectors").cast("long").alias("n_vectors"),
    )


def semantic_decontaminate(
    corpus: DataFrame, benchmark: DataFrame, threshold_bp: int = 9000
) -> DataFrame:
    """Embedding-level benchmark decontamination: for every corpus
    vector, the max cosine similarity against ANY benchmark/eval
    vector, its nearest benchmark id, and a contamination flag at
    ``threshold_bp``. The textual twin is text.decontaminate (exact
    n-gram) / fuzzy_decontaminate (overlap fraction); this catches
    paraphrased or re-embedded eval leakage those miss.

    Scale shape: the benchmark set is the SMALL side by construction
    (eval suites are thousands of rows, the corpus is the 100 TB
    side) — it is collected under MAX_BROADCAST_QUERIES and broadcast;
    the corpus crosses ONE Arrow scan with a (batch x bench) matmul
    per batch, zero joins, zero shuffles, output one row per corpus
    vector. Ties on the rounded-bp max resolve to the LOWEST benchmark
    id (bench matrix is sorted by id; integer argmax takes the first
    max), matching the oracle's ORDER BY sim_bp DESC, bench_id ASC.
    """
    b_rows = _bounded_query_rows(benchmark, "vec_id", "embedding")
    if not b_rows:
        raise ValueError("benchmark set is empty; nothing to decontaminate against")
    b_rows.sort(key=lambda r: r["vec_id"])
    b_ids = np.array([r["vec_id"] for r in b_rows], dtype=np.int64)
    b_mat = np.array([r["embedding"] for r in b_rows], dtype=np.float64)
    b_mat /= np.maximum(np.linalg.norm(b_mat, axis=1, keepdims=True), 1e-12)
    sc = corpus.sparkSession.sparkContext
    br_ids, br_mat = sc.broadcast(b_ids), sc.broadcast(b_mat)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bi, bm = br_ids.value, br_mat.value
        for pdf in it:
            if not len(pdf):
                continue
            c = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
            sims_bp = _bp_half_away(c @ bm.T)  # (batch, n_bench) ints
            best = np.argmax(sims_bp, axis=1)  # first max -> lowest bench_id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "nearest_bench_id": bi[best],
                    "max_sim_bp": sims_bp[np.arange(len(best)), best],
                }
            )

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_id long, nearest_bench_id long, max_sim_bp long"
    )
    return scored.withColumn(
        "contaminated", (F.col("max_sim_bp") >= F.lit(int(threshold_bp)))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    standard way hybrid retrieval combines a lexical ranking (BM25)
    with a vector ranking (cosine ANN) without score calibration:

        rrf(d) = sum over rankings r containing d of  1 / (k + rank_r(d))

    Each input DataFrame carries (id_col, rank) with rank a 1-based
    INTEGER — integer ranks in, fixed-order float expression out, so
    the score is engine-deterministic (no float aggregation). Emits
    the per-list ranks (null where absent) and rrf_e6 =
    floor(score*1e6 + 0.5). Deliberately NO global fused-rank column:
    that would be a single-partition window at corpus scale — feed
    rrf_e6 to the skew-safe top-k instead.

    Plan: len(rankings)-1 full-outer equi-joins on the id — each
    ranking is already top-N-sized (rankings are produced by top-k
    retrieval, not corpus scans), so the joins are small-by-small."""
    if len(rankings) < 2:
        raise ValueError(f"rrf_fuse needs >= 2 rankings, got {len(rankings)}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sides = [
        r.select(
            F.col(id_col),
            F.col("rank").cast("long").alias(f"rank_{i}"),
        )
        for i, r in enumerate(rankings)
    ]
    out = sides[0]
    for s in sides[1:]:
        out = out.join(s, id_col, "full_outer")
    score = None
    for i in range(len(sides)):
        term = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{i}")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return out.select(
        id_col,
        *[F.col(f"rank_{i}") for i in range(len(sides))],
        F.floor(score * 1_000_000 + F.lit(0.5)).cast("long").alias("rrf_e6"),
    )


def retrieval_gains_e6(k: int) -> list[int]:
    """Binary-relevance DCG gains, PRE-QUANTIZED: gain(rank i) =
    round(1e6 / log2(i+1)) computed once in python and embedded as
    integer literals on BOTH engine sides — libm log2 may differ by an
    ulp between engines, so the quantization must happen in exactly
    one place."""
    import math

    return [int(round(1_000_000 / math.log2(i + 1))) for i in range(1, k + 1)]


def retrieval_metrics(approx: DataFrame, truth: DataFrame, k: int = 5) -> DataFrame:
    """Retrieval evaluation — recall@k, MRR and binary-relevance
    nDCG@k of an approximate top-k result against an exact one (the
    operator form of the ANN recall harness, so index quality is a
    QUERY over two result tables, not a python script): both inputs
    carry (query_id, rank, vec_id). All metrics are integer-exact —
    reciprocal ranks via integer division (1e6 div rank), DCG over the
    pre-quantized gain table, nDCG/recall as floor basis points — so a
    SQL oracle reproduces every value bit-for-bit.

    The base set is TRUTH's queries: a query the index returned
    nothing for scores zero instead of vanishing. One (query_id,
    vec_id) equi-join + two bounded aggregates; both inputs are top-k
    tables (O(queries x k) rows), so this costs nothing at any corpus
    scale."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gains = retrieval_gains_e6(k)
    prefix = [sum(gains[: i + 1]) for i in range(k)]
    gain_col = F.element_at(
        F.array(*[F.lit(g) for g in gains]), F.col("rank").cast("int")
    )
    t = truth.select("query_id", "vec_id", F.lit(1).alias("_rel"))
    tn = truth.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("truth_n"))
    j = (
        approx.select("query_id", "rank", "vec_id")
        .filter(F.col("rank") <= k)
        .join(t, ["query_id", "vec_id"], "left")
    )
    per_q = j.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_rel"), F.lit(0))).cast("long").alias("hits"),
        F.sum(
            F.when(F.col("_rel") == 1, gain_col).otherwise(F.lit(0))
        ).cast("long").alias("dcg_e6"),
        F.min(F.when(F.col("_rel") == 1, F.col("rank"))).cast("long").alias("_fr"),
    )
    idcg_col = F.element_at(
        F.array(*[F.lit(p) for p in prefix]),
        F.least(F.col("truth_n"), F.lit(k)).cast("int"),
    ).cast("long")
    out = tn.join(per_q, "query_id", "left").select(
        "query_id",
        "truth_n",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        F.expr("coalesce(hits, 0) * 10000 div truth_n").alias("recall_bp"),
        F.coalesce(
            F.expr("1000000 div _fr"), F.lit(0)
        ).cast("long").alias("mrr_e6"),
        F.coalesce(F.col("dcg_e6"), F.lit(0)).cast("long").alias("dcg_e6"),
        idcg_col.alias("idcg_e6"),
    )
    return out.withColumn(
        "ndcg_bp", F.expr("dcg_e6 * 10000 div idcg_e6").cast("long")
    )


def tokenize_vectors(
    df: DataFrame,
    n_tokens: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Slice each d-dim vector into ``n_tokens`` contiguous sub-vectors
    — the long-format (id, token_idx, tvec) table multi-vector
    retrieval runs on. Pure Catalyst slice/posexplode (zero Python);
    real token embeddings drop in with the same shape."""
    if n_tokens < 1:
        raise ValueError(f"n_tokens must be >= 1, got {n_tokens}")
    toks = F.expr(
        f"transform(sequence(0, {n_tokens - 1}), i -> "
        f"slice({vec_col}, i * (size({vec_col}) div {n_tokens}) + 1, "
        f"size({vec_col}) div {n_tokens}))"
    )
    return df.select(
        F.col(id_col), F.posexplode(toks).alias("token_idx", "tvec")
    )


def maxsim_topk(
    corpus_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT MaxSim —
    Khattab & Zaharia, SIGIR'20): score(q, d) = sum over q's tokens of
    the MAX cosine against any of d's tokens. This is the EXACT
    brute-force baseline of the family (the multi-vector q27): per
    query-token cosines quantize to integer basis points FIRST, then
    max, then sum — so the score is engine- and partitioning-exact and
    the top-k (score desc, id asc) is a total order.

    Inputs are long-format token tables from :func:`tokenize_vectors`
    (or any (id, token_idx, tvec) source). The query token table is
    broadcast under the shared MAX_BROADCAST_QUERIES budget; the
    corpus streams through one scan — no shuffle before the per-query
    top-k. Candidate pruning at 100 TB composes upstream: filter the
    corpus-token side with any blocking family (LSH buckets, IVF
    cells) before calling; MaxSim itself is the verify stage.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _enforce_query_budget(query_tokens.select("query_id").distinct())
    q = query_tokens.select(
        "query_id", F.col("token_idx").alias("q_token_idx"), F.col("tvec").alias("qvec")
    )
    c = corpus_tokens.select("vec_id", F.col("tvec").alias("cvec"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        "q_token_idx",
        _cosine_bp("qvec", "cvec").alias("sim_bp"),
    )
    per_qtok = scored.groupBy("query_id", "vec_id", "q_token_idx").agg(
        F.max("sim_bp").alias("m")
    )
    per_pair = per_qtok.groupBy("query_id", "vec_id").agg(
        F.sum("m").cast("long").alias("maxsim_bp")
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("query_id").orderBy(F.col("maxsim_bp").desc(), F.col("vec_id"))
    return (
        per_pair.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "maxsim_bp")
    )


def maxsim_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tokens: int = 4,
) -> DataFrame:
    """LSH-blocked MaxSim — the composition :func:`maxsim_topk`'s
    docstring promises, materialized: document-level axis-LSH buckets
    (the q30 family, one float comparison per bit) prune the corpus to
    same-bucket candidates per query, and the late-interaction MaxSim
    score runs ONLY on (query, candidate) token pairs. The verify-
    after-blocking shape of the whole dedup/ANN family, applied to
    multi-vector retrieval: candidate work shrinks by ~2^bits while
    the scoring arithmetic (and its oracle) stays byte-identical to
    the exact baseline's.

    Inputs are (id, embedding) tables — tokenization happens inside so
    the doc-level bucket and the token slices derive from the same
    vector. Same MAX_BROADCAST_QUERIES budget; same integer-exact
    scoring and (score desc, id asc) total order.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _enforce_query_budget(queries)
    bucket = axis_bucket_expr()
    c_b = corpus.select(F.col("vec_id"), bucket.alias("bucket"))
    q_b = queries.select(F.col("vec_id").alias("query_id"), bucket.alias("bucket"))
    cand = c_b.join(F.broadcast(q_b), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    c_tok = tokenize_vectors(corpus, n_tokens=n_tokens)
    q_tok = tokenize_vectors(queries, n_tokens=n_tokens).select(
        F.col("vec_id").alias("query_id"),
        F.col("token_idx").alias("q_token_idx"),
        F.col("tvec").alias("qvec"),
    )
    pairs = (
        cand.join(c_tok, "vec_id")
        .join(F.broadcast(q_tok), "query_id")
        .select(
            "query_id",
            "vec_id",
            "q_token_idx",
            _cosine_bp("qvec", "tvec").alias("sim_bp"),
        )
    )
    per_qtok = pairs.groupBy("query_id", "vec_id", "q_token_idx").agg(
        F.max("sim_bp").alias("m")
    )
    per_pair = per_qtok.groupBy("query_id", "vec_id").agg(
        F.sum("m").cast("long").alias("maxsim_bp")
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("query_id").orderBy(F.col("maxsim_bp").desc(), F.col("vec_id"))
    return (
        per_pair.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "maxsim_bp")
    )
