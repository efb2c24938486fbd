"""Batch dedup family — exact, MinHash-LSH, SimHash, paragraph,
semantic and media near-dup pairs, connected components, record
linkage — plus the phash and conversation-fingerprint ingestion gates.

The streaming exact and near-dup gates the pipeline uses, and the
shingle/MinHash primitives shared with this module, live in
``quanta_spark.operators.dedup``."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quanta_spark.operators.dedup import _norm_grams_df, minhash_signatures, normalized


_HEX = "0123456789abcdef"


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct
    content with the kept doc (lowest doc_id) and duplicate count."""
    return (
        df.select("doc_id", F.md5(normalized(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Row-preserving exact dedup: keep the lowest-doc_id row of every
    normalized-content fingerprint group, all input columns intact —
    the composition-friendly counterpart of exact_dedup_groups (which
    returns group summaries, not survivor rows). ONE shuffle (window
    keyed on the fingerprint); per-group sorts are bounded by the
    duplicate-group size, never the corpus."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("_fp").orderBy(F.col("doc_id").asc())
    return (
        df.withColumn("_fp", F.md5(normalized(F.col(text_col))))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pair_df: DataFrame | None = None,
    n: int = 3,
    text_col: str = "text",
    only_docs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs.

    ``pair_df(doc_a, doc_b)`` supplies candidates (from LSH or any
    blocking); default blocks on consecutive doc_ids (cheap demo
    blocking). Jaccard is computed with array_intersect/union —
    whole-stage-codegen'd, no Python. ``only_docs`` (small (doc_id)
    frame) restricts gram computation to those docs — pass the distinct
    ids of ``pair_df`` (CACHED, or it is recomputed) so the verify
    stage never re-shingles the whole corpus.
    """
    grams = _norm_grams_df(df, text_col, n, only_ids=only_docs)
    if pair_df is None:
        pair_df = df.select((F.col("doc_id")).alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b"))
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("g_a"))
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("g_b"))
    joined = pair_df.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return joined.select(
        "doc_a",
        "doc_b",
        inter.alias("n_common"),
        union.alias("n_union"),
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )


def minhash_lsh_candidates(
    sigs: DataFrame, n_bands: int = 8, rows_per_band: int = 8, hasher: str = "xxhash64"
) -> DataFrame:
    """Band the signature, bucket-join within each band: docs sharing
    any full band are candidate near-dups. Output distinct
    (doc_a < doc_b) pairs. The shuffle key is (band, bucket), so skew
    is bounded by actual near-dup cluster sizes.

    Band geometry matters: the LSH s-curve threshold is (1/b)^(1/r).
    8 bands x 8 rows => ~0.77, matched to the 0.8 near-dup threshold;
    16x4 (~0.5) was measured to explode candidates 10x on a corpus
    with high baseline similarity, and the verify join cost is linear
    in candidates.

    The band bucket is xxhash64 of the band's minhashes (fast) or
    md5 of their '-'-joined decimal strings (portable — DuckDB:
    md5(string_agg(mh, '-' ORDER BY i)))."""

    def band_bucket(b: int) -> Column:
        mh = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hasher == "xxhash64":
            return F.xxhash64(F.lit(b), *mh)
        return F.md5(F.concat_ws("-", *[c.cast("string") for c in mh]))

    bands = sigs.select(
        "doc_id",
        *[band_bucket(b).alias(f"band_{b}") for b in range(n_bands)],
    )
    stacked = bands.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    left = stacked.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    right = stacked.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    shingle_n: int = 5,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates from LSH, then
    EXACT n-gram Jaccard verification >= threshold. The verify step
    makes the output exact-on-candidates (LSH only affects recall).

    Materialization (guide §5, persist-when-reused): the signature
    table feeds BOTH sides of the band self-join — without a persist
    the whole shingle->minhash pipeline is planned (and executed)
    twice, and the candidate table feeds both the verify join and the
    only-docs filter. Both tables are tiny relative to the corpus
    (n_docs x 64 longs; pairs), so they are persisted for the life of
    the query instead of recomputed; the verify stage then re-shingles
    only CANDIDATE docs instead of the corpus. Measured ~2.8s -> ~1.7s
    warm on sf0.1."""
    sigs = minhash_signatures(
        df, shingle_n=shingle_n, text_col=text_col, hasher=hasher
    ).persist()
    cands = minhash_lsh_candidates(sigs, hasher=hasher).persist()
    ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    verified = ngram_jaccard_pairs(
        df, pair_df=cands, n=shingle_n, text_col=text_col, only_docs=ids
    )
    return verified.filter(F.col("jaccard") >= threshold)


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star step over canonical undirected edges (a < b):
    every node u attaches its LARGER neighbors to m(u) = min(N(u) ∪
    {u}). Output stays canonical (m <= u < v). groupBy + equi-join —
    the min pre-aggregates map-side and AQE can split a hot vertex in
    the join, so a mega-component's root doesn't single-task the step
    (a window over u would materialize the whole neighborhood)."""
    nbr = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = nbr.groupBy("u").agg(F.min("v").alias("_mv"))
    m = F.least(F.col("_mv"), F.col("u"))
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(m.alias("a"), F.col("v").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star step: every node u attaches its SMALLER
    neighbors (and itself) to the min of those neighbors. Canonical
    output: m <= v < u for neighbor edges, m < u for the self edge."""
    nbr = edges.select(F.col("b").alias("u"), F.col("a").alias("v"))  # v < u
    mins = nbr.groupBy("u").agg(F.min("v").alias("_m"))
    attach_nbrs = (
        nbr.join(mins, "u")
        .filter(F.col("v") != F.col("_m"))
        .select(F.col("_m").alias("a"), F.col("v").alias("b"))
    )
    attach_self = mins.select(F.col("_m").alias("a"), F.col("u").alias("b"))
    return attach_nbrs.union(attach_self).distinct()


def dedup_components(pairs: DataFrame, max_iterations: int = 30) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id,
    component_id) with component_id = min doc_id in the component —
    the step that turns pairwise near-dup evidence into dedup GROUPS
    (pick one survivor per component).

    Algorithm: alternating LARGE-STAR / SMALL-STAR (the MapReduce
    connected-components construction for trillion-edge graphs —
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Each component contracts toward a star rooted at its
    minimum vertex in O(log n) expected rounds REGARDLESS of graph
    diameter — a 10^6-long chain (shingled spam) converges in ~20
    rounds where per-hop min-label propagation needs 10^6. Each round
    is two groupBy-min + equi-join steps; lineage is truncated with
    localCheckpoint and convergence is detected by an edge-set
    checksum (count + order-independent hash xor), ONE driver action
    per round of O(1) rows.
    """
    edges = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig: tuple | None = None
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        # xor, not sum: order-independent over the distinct edge set
        # and immune to ANSI-mode long overflow at any edge count
        sig_row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:  # pragma: no cover - would need ~2^30 vertices
        raise RuntimeError(
            f"dedup_components did not converge in {max_iterations} rounds; "
            "raise max_iterations"
        )
    # At the fixed point every component is a star rooted at its min:
    # members are the b side, roots label themselves.
    return edges.select(
        F.col("b").alias("doc_id"), F.col("a").alias("component_id")
    ).union(
        edges.select(F.col("a").alias("doc_id"), F.col("a").alias("component_id"))
    ).distinct()


def keep_best_survivors(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: turn pairwise near-dup
    evidence into components, then keep exactly ONE row per component
    — its highest-quality member (ties -> lowest id) — instead of the
    arbitrary min-id keeper. This is how production corpus dedup
    actually picks representatives (a model-based or heuristic quality
    score decides which near-duplicate survives, e.g. the cleanest
    extraction of a boilerplate-cloned page); min-id survivorship is
    the degenerate quality = -id case.

    Returns one row per input row: (id, component_id, keep_<id>,
    survives). Singletons (no near-dup evidence) form their own
    component and always survive.

    Scale: components are O(log n) alternating-star rounds
    (:func:`dedup_components`); the keeper is a single ``max_by`` over
    a lexicographic (quality, -id) struct — a plain hash aggregate
    with map-side partials, so a mega-component never sorts in one
    task (a row_number window would); one final equi-join annotates
    members with their keeper (AQE splits a hot component)."""
    comp = dedup_components(pairs)
    left = df.select(F.col(id_col).alias("_kbs_id"), F.col(quality_col))
    members = (
        left.join(comp, left["_kbs_id"] == comp["doc_id"], "left")
        .select(
            F.col("_kbs_id").alias(id_col),
            F.coalesce(F.col("component_id"), F.col("_kbs_id")).alias("component_id"),
            F.col(quality_col),
        )
    )
    keepers = members.groupBy("component_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col(quality_col), (-F.col(id_col)).alias("_ni"))
        ).alias("_keep")
    )
    return members.join(keepers, "component_id").select(
        F.col(id_col),
        F.col("component_id"),
        F.col("_keep").alias(f"keep_{id_col}"),
        (F.col(id_col) == F.col("_keep")).alias("survives"),
    )


def _token_bit(h: Column, i: int, hasher: str) -> Column:
    """Bit i (0..63) of a token's hash. xxhash64: plain bit of the
    64-bit value. md5: bit of the first 16 hex nibbles — nibble i//4,
    bit (3 - i%4) — reproducible in DuckDB via strpos arithmetic."""
    if hasher == "xxhash64":
        return F.shiftright(h, i).bitwiseAND(F.lit(1))
    nibble = F.conv(F.substring(h, 1 + i // 4, 1), 16, 10).cast("int")
    return F.shiftright(nibble, 3 - i % 4).bitwiseAND(F.lit(1))


def simhash(df: DataFrame, text_col: str = "text", hasher: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token hashes. Vectorized as: explode tokens -> for each bit, sum
    (+1/-1) -> sign -> reassemble. One shuffle (groupBy doc_id).

    Output is the signature as 4 x 16-bit chunk columns (c0..c3) —
    exactly the blocking granularity, and it sidesteps 64-bit sign
    issues when reassembling under ANSI mode."""
    tok_hash = F.xxhash64("tok") if hasher == "xxhash64" else F.md5("tok")
    toks = df.select(
        "doc_id",
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok"),
    ).select("doc_id", tok_hash.alias("h"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(_token_bit(F.col("h"), i, hasher) == 1, 1).otherwise(-1)
            ).alias(f"bit_{i}")
            for i in range(64)
        ]
    )

    def chunk(c: int) -> Column:
        acc = F.lit(0)
        for j in range(16):
            i = c * 16 + j
            acc = acc + F.when(F.col(f"bit_{i}") > 0, F.lit(1 << j)).otherwise(0)
        return acc.cast("int")

    return bit_sums.select("doc_id", *[chunk(c).alias(f"c{c}") for c in range(4)])


def chunked_hamming_pairs(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pigeonhole-blocked Hamming pairs over a 64-bit signature stored
    as 4 x 16-bit chunk columns (doc_id, c0..c3): any pair within
    Hamming distance <=3 shares at least one intact chunk, so blocking
    on (chunk_id, chunk) has candidate recall 1.0 DETERMINISTICALLY
    and the blocked output equals the all-pairs answer. Shared by text
    SimHash and image pHash — the signature layout is the contract."""
    sig_cols = [f"c{c}" for c in range(4)]
    chunks = sh.select(
        "doc_id",
        *sig_cols,
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk_id"), F.col(f"c{c}").alias("chunk"))
                for c in range(4)
            ])
        ).alias("cc"),
    ).select("doc_id", *sig_cols, "cc.chunk_id", "cc.chunk")
    left = chunks.select(
        "chunk_id", "chunk", F.col("doc_id").alias("doc_a"),
        *[F.col(f"c{c}").alias(f"a{c}") for c in range(4)],
    )
    right = chunks.select(
        "chunk_id", "chunk", F.col("doc_id").alias("doc_b"),
        *[F.col(f"c{c}").alias(f"b{c}") for c in range(4)],
    )
    pairs = (
        left.join(right, ["chunk_id", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *[f"a{c}" for c in range(4)], *[f"b{c}" for c in range(4)])
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}")).cast("long"))
        for c in range(4)
    ).cast("int")
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_near_dup_pairs(
    df: DataFrame, max_hamming: int = 3, hasher: str = "xxhash64"
) -> DataFrame:
    """SimHash near-dup pairs: block on the 4 x 16-bit chunks (see
    chunked_hamming_pairs for the pigeonhole argument), verify
    Hamming JVM-side via bit_count(xor) per chunk."""
    return chunked_hamming_pairs(simhash(df, hasher=hasher), max_hamming)


def phash_near_dup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual IMAGE near-dup pairs — the multimodal member of the
    dedup family: 64-bit DCT pHash per blob (multimodal.phash_images,
    one Arrow decode pass) band-bucketed exactly like text SimHash.
    Re-encodes of the same pixels (PNG <-> BMP <-> JPEG-q75) land
    within ``max_hamming`` bits and collide; distinct images do not —
    pinned by the q103 gate with planted cross-container clones.
    Input: (media_id, payload); output (doc_a, doc_b, hamming)."""
    from quanta_contrib.operators.multimodal import phash_images

    sig = phash_images(media).withColumnRenamed("media_id", "doc_id")
    return chunked_hamming_pairs(sig, max_hamming)


def audio_near_dup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual AUDIO near-dup pairs — completes the multimodal
    dedup family (text SimHash / image pHash / audio fingerprint):
    64-bit spectral band-energy fingerprint per blob
    (multimodal.audio_fingerprint, one Arrow decode pass over
    PCM16/IMA-ADPCM WAV) band-bucketed exactly like text SimHash.
    Lossy ADPCM re-encodes and trailing-silence pads of the same
    samples land within ``max_hamming`` bits and collide; distinct
    clips do not — pinned by the q109 gate with planted
    cross-codec clone groups. Input: (media_id, payload); output
    (doc_a, doc_b, hamming)."""
    from quanta_contrib.operators.multimodal import audio_fingerprint

    sig = audio_fingerprint(media).withColumnRenamed("media_id", "doc_id")
    return chunked_hamming_pairs(sig, max_hamming)


def video_near_dup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual VIDEO near-dup pairs — the fourth member of the
    multimodal dedup family (text SimHash / image pHash / audio
    fingerprint / video fingerprint): 64-bit frame-vote perceptual
    hash per blob (multimodal.video_fingerprint — evenly sampled
    frames random-access decoded from QVID/MJPEG, per-frame pHash,
    per-bit majority vote) band-bucketed exactly like text SimHash.
    Lossy MJPEG-q75 re-encodes and frame-doubled temporal resamples of
    the same frames land within ``max_hamming`` bits and collide;
    distinct videos do not — pinned by the q111 gate with planted
    cross-container clone groups. Input: (media_id, payload); output
    (doc_a, doc_b, hamming)."""
    from quanta_contrib.operators.multimodal import video_fingerprint

    sig = video_fingerprint(media).withColumnRenamed("media_id", "doc_id")
    return chunked_hamming_pairs(sig, max_hamming)


def token_paragraphs(toks: Column, k: int = 20) -> Column:
    """Segment a token ARRAY column into k-token "paragraph" strings
    (array<string>). Pass an already-materialized array attribute —
    NOT an inline split(...) expression: F.transform re-evaluates
    captured expressions once per element (measured 25x on the n-gram
    path), so paragraph_dedup materializes the split behind an
    exchange first."""
    n_paras = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda i: F.array_join(F.slice(toks, i * F.lit(k) + 1, F.lit(k)), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    k: int = 20,
    min_dup: int = 2,
    sep: str = " ",
) -> DataFrame:
    """Paragraph-level CORPUS dedup (the CCNet/RefinedWeb boilerplate
    pass, over the reference's document model): segment every document
    into paragraphs (k-token groups here; the segmentation is a pure
    Column expression, swap in a newline split for real corpora),
    count each distinct paragraph CORPUS-WIDE, drop every occurrence
    of any paragraph appearing >= min_dup times (boilerplate headers,
    cookie banners, license blurbs — CCNet drops ALL copies, not
    keep-first; keep-first whole-doc semantics is exact_dedup's job),
    and reassemble each document from its surviving paragraphs in
    original order.

    100 TB shape: the token split materializes ONCE behind an explicit
    repartition (transform-lambda re-eval pitfall); paragraph counting
    groups on xxhash64(para), so partial aggregation crushes repeated
    boilerplate map-side and only (hash, count) rows shuffle — the
    all-corpus paragraph table never materializes driver-side; the
    drop is a shuffle LEFT ANTI join on the hash (the duplicate-hash
    set is corpus-scale, never collected/broadcast); reassembly is one
    groupBy(doc) of surviving paragraphs. Skewed boilerplate keys
    pre-aggregate map-side, and each para row matches at most one dup
    row, so the anti-join has no fan-out.

    Output: (doc_col, text_dedup, n_paras_kept); documents whose every
    paragraph was boilerplate disappear (0 survivors)."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    toks = docs.select(
        doc_col, F.split(F.col(text_col), " ").alias("_toks")
    ).repartition(par, doc_col)
    paras = toks.select(
        doc_col, F.posexplode(token_paragraphs(F.col("_toks"), k)).alias("pid", "para")
    ).withColumn("_h", F.xxhash64("para"))
    dup = (
        paras.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_dup)
        .select("_h")
    )
    kept = paras.join(dup, "_h", "left_anti")
    return kept.groupBy(doc_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pid", "para"))),
                lambda x: x["para"],
            ),
            sep,
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )


def _session_fingerprint(
    turns: DataFrame, gap: str, min_turns: int
) -> DataFrame:
    """Shared session-fingerprint aggregation (batch AND streaming —
    session_window groups identically in both modes, which is what
    makes the stream gate probe a batch-built index): one
    (session_window, conv_id) groupBy; fingerprint = md5 over the
    session's turn texts sorted by (ts, turn_idx) and joined with the
    0x1F unit separator. Sessions under ``min_turns`` are dropped —
    short generic sessions ("click {}") collide across conversations
    by construction, substantive ones don't (measured: 0 cross-conv
    fp collisions among >=3-turn sessions on the gate fixture)."""
    return (
        turns.groupBy(F.session_window("ts", gap), "conv_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ts", "turn_idx", "text"))),
                        lambda x: x["text"],
                    ),
                )
            ).alias("fp"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .filter(F.col("n_turns") >= min_turns)
    )


def session_fingerprint_index(
    turns: DataFrame, gap: str = "1 day", min_turns: int = 3
) -> DataFrame:
    """Static historical CONVERSATION-SESSION fingerprint index for the
    streaming transcript dedup gate: one row per substantive session
    (>= min_turns turns) of the historical corpus, keyed by the exact
    content fingerprint. Build once per ingestion epoch; the stream
    probes it with an fp equi-join. Output: (fp, idx_conv_id)."""
    return _session_fingerprint(turns, gap, min_turns).select(
        "fp", F.col("conv_id").alias("idx_conv_id")
    )


def stream_conv_dedup_gate(
    stream_turns: DataFrame,
    index: DataFrame,
    gap: str = "1 day",
    watermark: str = "1 hour",
    min_turns: int = 3,
) -> DataFrame:
    """Streaming CONVERSATION dedup gate — the transcript-ingestion
    analog of the document/media gates (stream_neardup_gate /
    stream_phash_gate): arriving turns sessionize on the stream
    (session_window + watermark, state O(open sessions)); when the
    watermark closes a session its exact content fingerprint (md5
    over (ts, turn_idx)-ordered turn texts) probes the static
    historical index via a stream-STATIC equi-join on fp — a repeated
    conversation (agent retry storms, spam, replayed sessions) is
    caught the moment its session closes, at O(new sessions)/day cost,
    never O(corpus). Emits (new_conv_id, idx_conv_id, fp) per matched
    session. Sessions under ``min_turns`` are suppressed on BOTH sides
    (identical short generic sessions are expected collisions, not
    duplicates). The same aggregation expression builds the index and
    the stream signature, so batch/stream fingerprints are
    bit-identical by construction.

    Reference semantics: this is the transforms-over-committed-stream
    shape of runner.go:120-160 specialized to dedup; the exactly-once
    emission contract comes from the session close (append mode), not
    the sink."""
    sig = _session_fingerprint(
        stream_turns.withWatermark("ts", watermark), gap, min_turns
    )
    return sig.join(index, "fp").select(
        F.col("conv_id").alias("new_conv_id"), "idx_conv_id", "fp"
    )


#: target vectors per IVF cell when semantic dedup sizes its own
#: clustering: within-cell pair work is then ~n * DEDUP_CELL_TARGET/2
#: — LINEAR in the corpus (SemDeDup's k-means plays the same role:
#: fixed expected cluster size keeps the quadratic step bounded).
#: Above MAX_IVF_CELLS * DEDUP_CELL_TARGET vectors the broadcast-
#: centroid cap binds and cells grow; the cluster-scale answer is a
#: hierarchical (two-level) quantizer, same equi-join shape per level.
DEDUP_CELL_TARGET = 256


def semantic_dedup_pairs(
    corpus: DataFrame, n_cells: int | None = 16, tau_bp: int = 9900
) -> DataFrame:
    """Candidate pairs for embedding-level semantic dedup — the
    SemDeDup shape (Abbas et al. 2023, arXiv:2303.09540): cluster the
    corpus with a coarse quantizer, then compare ONLY within-cluster
    pairs against a cosine threshold. The quadratic step is bounded by
    the largest cell, never the corpus: with ~sqrt(n) cells the
    expected within-cell work is ~n^1.5/n_cells, and the join is a
    cell_id equi-join (partition-prunable at 10^12 rows) — no
    all-pairs comparison exists anywhere in the plan (plan-asserted by
    tests: no Cartesian/BroadcastNestedLoop).

    Reuses the IVF coarse quantizer (similarity._ivf_centroids /
    _ivf_cells: deterministic md5-least centroids, broadcast
    assignment pass) so the index built for ANN serving IS the dedup
    clustering. Returns (doc_a, doc_b) with doc_a < doc_b and
    within-cell cosine >= tau_bp basis points.
    """
    from quanta_contrib.operators.similarity import (
        MAX_IVF_CELLS,
        _cosine_bp,
        _ivf_cells,
        _ivf_centroids,
    )

    if n_cells is None:
        # fixed expected cell SIZE, not sqrt(n): keeps within-cell
        # pair work linear in the corpus (one O(1)-result action)
        n_cells = max(
            1, min(MAX_IVF_CELLS, corpus.count() // DEDUP_CELL_TARGET)
        )
    _, cent_mat = _ivf_centroids(corpus, n_cells)
    assigned = _ivf_cells(corpus, cent_mat, 1, "vec_id", "embedding")
    a = assigned.select(
        "cell_id", F.col("vec_id").alias("doc_a"), F.col("embedding").alias("_emb_a")
    )
    b = assigned.select(
        "cell_id", F.col("vec_id").alias("doc_b"), F.col("embedding").alias("_emb_b")
    )
    return (
        a.join(b, "cell_id")  # equi-join: bounded by the largest cell
        .filter(F.col("doc_b") > F.col("doc_a"))
        .filter(_cosine_bp("_emb_a", "_emb_b") >= F.lit(int(tau_bp)))
        .select("doc_a", "doc_b")
    )


def semantic_dedup(
    corpus: DataFrame, n_cells: int | None = 16, tau_bp: int = 9900
) -> DataFrame:
    """Full SemDeDup composite: IVF cell assignment -> within-cell
    cosine>=tau candidate pairs -> large/small-star connected
    components -> survivor anti-join (keep each component's min
    vec_id). Proves the ANN family and the dedup family COMPOSE —
    the embedding analog of the text pipeline q63.

    Returns the SURVIVING corpus as (vec_id, group_size) where
    group_size counts the corpus vectors this survivor absorbed
    (1 = no semantic duplicate found)."""
    pairs = semantic_dedup_pairs(corpus, n_cells=n_cells, tau_bp=tau_bp)
    comps = dedup_components(pairs)
    removed = comps.filter(F.col("doc_id") != F.col("component_id"))
    sizes = (
        removed.groupBy("component_id")
        .agg((F.count(F.lit(1)) + F.lit(1)).alias("group_size"))
    )
    return (
        corpus.join(
            removed.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
        )
        .join(
            sizes.select(F.col("component_id").alias("vec_id"), "group_size"),
            "vec_id",
            "left",
        )
        .select("vec_id", F.coalesce("group_size", F.lit(1)).alias("group_size"))
    )


def phash_index(media: DataFrame, signer=None) -> DataFrame:
    """Static historical fingerprint index for the streaming media
    gates: one row per (chunk_id, chunk) per blob, full signature
    carried for the verify step. Build once per ingestion epoch; the
    stream probes it with a (chunk_id, chunk) equi-join. ``signer``
    maps (media_id, payload) -> (media_id, c0..c3) and defaults to the
    image pHash; pass multimodal.audio_fingerprint for the audio gate
    — the shared 4 x 16-bit chunk layout is the contract."""
    if signer is None:
        from quanta_contrib.operators.multimodal import phash_images as signer

    sig = signer(media)
    return sig.select(
        F.col("media_id").alias("idx_media_id"),
        *[F.col(f"c{c}").alias(f"i{c}") for c in range(4)],
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk_id"), F.col(f"c{c}").alias("chunk"))
                for c in range(4)
            ])
        ).alias("cc"),
    ).select("idx_media_id", "i0", "i1", "i2", "i3", "cc.chunk_id", "cc.chunk")


def stream_phash_gate(
    stream_media: DataFrame,
    index: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_hamming: int = 3,
    signer=None,
) -> DataFrame:
    """Streaming MEDIA ingestion near-dup gate — the multimodal analog
    of stream_neardup_gate: every arriving blob is fingerprinted in a
    stateless Arrow pass (append-mode safe; the watermark is applied
    AFTER the pass since mapInPandas emits fresh attributes), probed
    against the historical fingerprint index via a stream-static
    (chunk_id, chunk) equi-join — O(new data + matched buckets) per
    day, never O(corpus) — then watermark-bounded pair dedup (a clone
    sharing several intact chunks must report once) and the exact
    Hamming verify as a codegen filter. Emits matches eagerly; the
    watermark only evicts dedup state. ``signer`` defaults to the
    image pHash; pass multimodal.audio_fingerprint (with the SAME
    signer used to build the index) for the audio gate."""
    if signer is None:
        from quanta_contrib.operators.multimodal import phash_images as signer

    sig = signer(stream_media, keep=((ts_col, "timestamp"),))
    if sig.isStreaming:
        sig = sig.withWatermark(ts_col, watermark)
    chunks = sig.select(
        F.col("media_id").alias("new_media_id"),
        *[f"c{c}" for c in range(4)],
        ts_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk_id"), F.col(f"c{c}").alias("chunk"))
                for c in range(4)
            ])
        ).alias("cc"),
    ).select(
        "new_media_id", "c0", "c1", "c2", "c3", ts_col, "cc.chunk_id", "cc.chunk"
    )
    joined = chunks.join(index, ["chunk_id", "chunk"])
    if joined.isStreaming:
        pairs = joined.dropDuplicatesWithinWatermark(["new_media_id", "idx_media_id"])
    else:
        pairs = joined.dropDuplicates(["new_media_id", "idx_media_id"])
    hamming = sum(
        F.bit_count(F.col(f"c{c}").bitwiseXOR(F.col(f"i{c}")).cast("long"))
        for c in range(4)
    ).cast("int")
    return pairs.select(
        "new_media_id", "idx_media_id", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest accounting between two corpus snapshots —
    the per-day bookkeeping an incremental pipeline emits: every doc
    classified as ``added`` / ``removed`` / ``changed`` / ``unchanged``
    by a full-outer join on id with normalized content fingerprints,
    and added docs additionally flagged ``added_dup_content`` when
    their content already existed ANYWHERE in the old snapshot (the
    re-upload / mirror case exact dedup must catch on day N+1 without
    rescanning day N's pairs).

    Returns (category, n_docs). Scale: one id-keyed full-outer join
    (both sides pre-projected to id+fp), one fp-keyed LEFT SEMI join
    of the added slice against the old fp set, then a 5-row aggregate.
    Nothing is collected; both joins are plain shuffles AQE can
    re-plan (broadcast when a day's delta is small — the usual case).
    """
    o = old.select(
        F.col(id_col).alias("_id"), F.md5(normalized(F.col(text_col))).alias("_ofp")
    )
    n = new.select(
        F.col(id_col).alias("_id"), F.md5(normalized(F.col(text_col))).alias("_nfp")
    )
    j = o.join(n, "_id", "full_outer")
    base = j.select(
        "_id",
        "_nfp",
        F.when(F.col("_ofp").isNull(), "added")
        .when(F.col("_nfp").isNull(), "removed")
        .when(F.col("_ofp") == F.col("_nfp"), "unchanged")
        .otherwise("changed")
        .alias("category"),
    )
    counts = base.groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    added_dup = (
        base.filter(F.col("category") == "added")
        .join(
            o.select(F.col("_ofp").alias("_nfp")).distinct(),
            "_nfp",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(F.lit("added_dup_content").alias("category"), "n_docs")
    )
    return counts.unionByName(added_dup)


def containment_pairs(
    df: DataFrame,
    n: int = 8,
    threshold: float = 0.9,
    max_df: int = 64,
    min_shared: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Directional n-gram CONTAINMENT near-dup: for document pair
    (a, b), containment(a in b) = |grams(a) ∩ grams(b)| / |grams(a)|.
    Catches quotes, excerpts, and wholesale inclusion that symmetric
    Jaccard dilutes toward 0 as the containing document grows (a 10%
    excerpt has Jaccard <= 0.1 but containment 1.0) — the Broder
    resemblance-vs-containment distinction.

    Scale shape (self-blocking, no candidate list needed):
    normalize -> distinct char n-grams -> explode -> xxhash64 gram
    fingerprints (ints shuffle, strings don't) -> drop grams present in
    more than ``max_df`` docs (stopword-gram pruning — this bounds each
    gram's pair fan-out at max_df^2 EXACTLY, so the candidate join is
    O(sum_g df_g^2), never corpus-quadratic) -> self-join on gram_fp
    with doc_a < doc_b -> count shared grams per pair -> containment
    against each side's RETAINED-gram count (numerator and denominator
    both post-pruning, so the ratio is well-defined and the planted
    full-inclusion case still reads exactly 1.0: a subset's retained
    grams are a subset of the superset's retained grams).

    Emits one row per unordered pair with both directions; ``keep``
    marks pairs whose max-direction containment >= threshold.
    ``min_shared`` is a support floor applied INSIDE the pair
    aggregation (HAVING, map-side combined): accidental pairs sharing
    fewer than that many grams never reach the containment joins —
    on short-gram corpora those 1-gram-collision pairs are the bulk
    of the candidate set and pure noise for excerpt detection.
    """
    grams = _norm_grams_df(df, text_col, n)
    exploded = grams.select(
        "doc_id", F.explode("grams").alias("_g")
    ).select("doc_id", F.xxhash64("_g").alias("gram_fp"))
    # stopword-gram pruning: drop grams with df > max_df (corpus
    # boilerplate whose fan-out would dominate the join). df=1 grams
    # stay: they witness no pair but MUST count in the denominator —
    # a doc's unique content lowering its containment is the point.
    df_per_gram = exploded.groupBy("gram_fp").agg(
        F.count(F.lit(1)).alias("_df")
    )
    retained = exploded.join(
        df_per_gram.filter(F.col("_df") <= max_df).select("gram_fp"),
        "gram_fp",
    )
    n_retained = retained.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    pairs = (
        retained.alias("l")
        .join(retained.alias("r"), "gram_fp")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    out = (
        pairs.join(
            n_retained.select(
                F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            n_retained.select(
                F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b")
            ),
            "doc_b",
        )
    )
    cont_a = F.col("n_shared") / F.col("n_a")
    cont_b = F.col("n_shared") / F.col("n_b")
    return out.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "n_a",
        "n_b",
        F.round(cont_a, 4).alias("containment_a_in_b"),
        F.round(cont_b, 4).alias("containment_b_in_a"),
        (F.greatest(cont_a, cont_b) >= F.lit(float(threshold))).alias("keep"),
    )


def fuzzy_link(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "m_id",
    right_id: str = "v_id",
    key_col: str = "key",
    max_subs: int = 2,
) -> DataFrame:
    """Blocked record linkage: link ``right`` records back to ``left``
    records whose fixed-length join keys differ by at most ``max_subs``
    character SUBSTITUTIONS (Hamming distance over equal-length keys —
    the dirty-replica reconciliation shape: OCR'd ids, fat-fingered
    account numbers, corrupted registry rows).

    Recall is EXACT by pigeonhole: both keys are cut into
    ``max_subs + 1`` contiguous chunks, and <= max_subs substitutions
    on equal-length strings leave at least one chunk untouched, so
    every true link shares at least one (chunk_idx, chunk, key_len)
    block — the same argument as the SimHash 4x16-bit blocking
    (chunked_hamming_pairs), applied to raw characters. Verification
    recomputes the exact Hamming distance on each candidate.

    Plan: each side explodes to (max_subs+1) chunk rows; candidates
    come from an equi-join on the block key (shuffle hash/sort-merge on
    high-entropy chunks — never a cross join); distinct pair ids, then
    one joined verify pass. At 100 TB both sides stay
    O(rows * (max_subs+1)); the join degenerates only if the key space
    itself is degenerate (all-equal keys), which blocking cannot fix
    and the verify cap makes visible.

    Keys of unequal length never link (a substitution preserves
    length); mixed lengths are fine — length is part of the block key.
    """
    if max_subs < 0:
        raise ValueError(f"max_subs must be >= 0, got {max_subs}")
    n_chunks = max_subs + 1

    def chunks(df: DataFrame, id_col: str, side: str) -> DataFrame:
        k = f"cast({key_col} AS STRING)"
        return df.select(
            F.col(id_col),
            F.col(key_col).alias(f"{side}_key"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_chunks - 1}), i -> struct("
                    f"i AS chunk_idx, "
                    f"substring({k}, CAST(floor(i * length({k}) / {n_chunks}) AS INT) + 1, "
                    f"CAST(floor((i + 1) * length({k}) / {n_chunks}) AS INT) "
                    f"- CAST(floor(i * length({k}) / {n_chunks}) AS INT)) AS chunk))"
                )
            ).alias("c"),
            F.length(key_col).alias("key_len"),
        ).select(id_col, f"{side}_key", "c.chunk_idx", "c.chunk", "key_len")

    lc = chunks(left, left_id, "l")
    rc = chunks(right, right_id, "r")
    cand = (
        lc.join(rc, ["chunk_idx", "chunk", "key_len"])
        .select(left_id, right_id, "l_key", "r_key")
        .distinct()
    )
    dist = F.expr(
        "size(filter(sequence(1, length(l_key)), "
        "i -> substring(l_key, i, 1) <> substring(r_key, i, 1)))"
    )
    return (
        cand.withColumn("dist", dist.cast("int"))
        .filter(F.col("dist") <= max_subs)
        .select(left_id, right_id, "dist")
    )


def edit_link(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "m_id",
    right_id: str = "v_id",
    key_col: str = "key",
    max_edits: int = 2,
) -> DataFrame:
    """Blocked record linkage under EDIT distance (insert/delete/
    substitute) <= ``max_edits`` — the indel-tolerant sibling of
    :func:`fuzzy_link` (which is Hamming-only), built on PassJoin's
    partition scheme (Li, Deng, Feng — VLDB'11).

    Recall is EXACT by the shifted pigeonhole: cut the LEFT key
    (length n) into k+1 contiguous pieces; <= k edits leave at least
    one piece untouched, and that piece appears verbatim in the RIGHT
    key shifted by at most k positions (the net indels before it).
    Left keys SHORTER than k+1 characters cannot be cut into k+1
    non-empty pieces; they go through a direct length-blocked join
    instead (see the short-key fallback below), so recall is exact for
    every key length.
    The RIGHT side therefore enumerates, for every plausible left
    length n in [len(t)-k, len(t)+k], every piece index, every shift
    in [-k, k] — a bounded (2k+1)^2 (k+1) fan-out per row, k tiny —
    and candidates come from an equi-join on
    (piece_idx, piece_text, left_len). Verification is exact
    ``levenshtein() <= k`` (built-in in Spark and every SQL oracle
    engine, so the gate proves the blocked plan loses nothing against
    a brute-force all-pairs join).

    Plan shape at 100 TB: both sides stay O(rows * k^2) exploded rows;
    the join is a shuffle equi-join on high-entropy piece blocks;
    never a cross join (plan-asserted in tests).
    """
    if max_edits < 0:
        raise ValueError(f"max_edits must be >= 0, got {max_edits}")
    k = max_edits
    nc = k + 1

    lkey = f"cast({key_col} AS STRING)"
    lc = left.select(
        F.col(left_id),
        F.col(key_col).alias("l_key"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {nc - 1}), i -> struct("
                f"i AS piece_idx, "
                f"substring({lkey}, CAST(floor(i * length({lkey}) / {nc}) AS INT) + 1, "
                f"CAST(floor((i + 1) * length({lkey}) / {nc}) AS INT) "
                f"- CAST(floor(i * length({lkey}) / {nc}) AS INT)) AS piece, "
                f"length({lkey}) AS left_len))"
            )
        ).alias("c"),
    ).select(left_id, "l_key", "c.piece_idx", "c.piece", "c.left_len")

    rkey = f"cast({key_col} AS STRING)"
    # every (left_len, piece_idx, shift) cell that could hide the
    # untouched piece, deduplicated per row before the join
    probe_expr = f"""
    array_distinct(transform(
      filter(
        flatten(flatten(
          transform(sequence(greatest(length({rkey}) - {k}, {nc}), length({rkey}) + {k}), n ->
            transform(sequence(0, {k}), i ->
              transform(sequence(-{k}, {k}), d ->
                struct(
                  i AS piece_idx,
                  CAST(floor(i * n / {nc}) AS INT) + d AS start0,
                  CAST(floor((i + 1) * n / {nc}) AS INT)
                    - CAST(floor(i * n / {nc}) AS INT) AS plen,
                  n AS left_len)))))),
        s -> s.start0 >= 0 AND s.plen > 0
             AND s.start0 + s.plen <= length({rkey})),
      s -> struct(s.piece_idx AS piece_idx,
                  substring({rkey}, s.start0 + 1, s.plen) AS piece,
                  s.left_len AS left_len)))
    """
    rc = right.select(
        F.col(right_id),
        F.col(key_col).alias("r_key"),
        F.explode(F.expr(probe_expr)).alias("c"),
    ).select(right_id, "r_key", "c.piece_idx", "c.piece", "c.left_len")

    cand = (
        lc.join(rc, ["piece_idx", "piece", "left_len"])
        .select(left_id, right_id, "l_key", "r_key")
    )

    # Short-key fallback: the probe enumerates left
    # lengths n >= k+1 only (a length-n key cut into k+1 pieces needs
    # n >= k+1 for non-empty pieces), so pairs whose LEFT key is
    # shorter than k+1 characters — including exact duplicates — were
    # never generated. Route those rows through a direct length-blocked
    # equi-join (explode the <= 2k+1 admissible right lengths; join on
    # length(r_key)) — bounded fan-out, no cross join, and the slice is
    # tiny by construction (keys shorter than k+1 chars).
    if k > 0:
        short_lc = (
            left.filter(F.length(F.col(key_col).cast("string")) <= k)
            .select(
                F.col(left_id),
                F.col(key_col).cast("string").alias("l_key"),
                F.explode(
                    F.sequence(
                        F.greatest(
                            F.length(F.col(key_col).cast("string")) - k, F.lit(0)
                        ),
                        F.length(F.col(key_col).cast("string")) + k,
                    )
                ).alias("_rlen"),
            )
        )
        short_rc = right.select(
            F.col(right_id),
            F.col(key_col).cast("string").alias("r_key"),
            F.length(F.col(key_col).cast("string")).alias("_rlen"),
        )
        cand = cand.unionByName(
            short_lc.join(short_rc, "_rlen").select(
                left_id, right_id, "l_key", "r_key"
            )
        )
    cand = cand.distinct()
    return (
        cand.withColumn("dist", F.levenshtein("l_key", "r_key").cast("int"))
        .filter(F.col("dist") <= k)
        .select(left_id, right_id, "dist")
    )
