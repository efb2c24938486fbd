"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

All hot-path logic is built-in Column expressions (JVM-side, inside
WholeStageCodegen) — no Python in the scan loop, so these run at
parquet-scan speed on 100 TB. Every function has an exact ANSI-SQL
twin in queries.ORACLES (DuckDB), which is why the
heuristics avoid engine-specific hashing: md5 and regex classes that
evaluate identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# deterministic mini stopword lists per language — shared with the SQL
# oracle; presence counts decide the language guess.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}

_WORD_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def ws_token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(col), "\\s+"))


def subword_token_count(col: Column) -> Column:
    """BPE-ish token count: alpha runs, digit runs, single punctuation
    — the standard pre-tokenization regex shape."""
    return F.size(F.regexp_extract_all(col, F.lit(_WORD_RE), 0))


def quality_keep(text_col: str = "text") -> Column:
    """The keep predicate of quality_features as a standalone Column —
    lets a pipeline filter on quality WITHOUT projecting away its
    payload columns (pure codegen filter, no shuffle, no join-back)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, "[^A-Za-z0-9\\s]", ""))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    return (n_chars >= 64) & (ws_token_count(c) >= 10) & (punct_ratio <= 0.3)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, punctuation ratio,
    stopword ratio, and a boolean keep flag (the filter a training-data
    pipeline applies before dedup)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = ws_token_count(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, "[^A-Za-z0-9\\s]", ""))
    n_stop = (
        F.size(F.split(F.lower(c), "\\bthe\\b")) - 1
        + F.size(F.split(F.lower(c), "\\band\\b")) - 1
    )
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_ws_tokens"),
        subword_token_count(c).alias("n_subword_tokens"),
        n_punct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality_keep(text_col).alias("keep"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-stopword language ID: count each language's marker words
    (as whole tokens); highest count wins, ties broken by language code
    order; no markers -> 'und'. Deterministic and SQL-expressible."""
    c = F.lower(F.col(text_col))
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        score = None
        for m in markers:
            hits = F.size(F.split(c, f"\\b{m}\\b")) - 1
            score = hits if score is None else score + hits
        scores.append((lang, score))
    # argmax with deterministic tie-break on code order
    guess = F.lit("und")
    best = F.lit(0)
    for lang, score in scores:
        take = score > best
        guess = F.when(take, F.lit(lang)).otherwise(guess)
        best = F.when(take, score).otherwise(best)
    exprs = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    for lang, score in scores:
        exprs.append(score.alias(f"score_{lang}"))
    exprs.append(guess.alias("lang_guess"))
    return df.select(*exprs)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 16,
    overlap: int = 0,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token-count chunks —
    context-window preparation for training pipelines. One row per
    chunk: (doc_id, chunk_idx, chunk_text, n_chunk_tokens).

    Pure Column expressions (split -> sequence of starts -> slice ->
    array_join): the explode is the only row-multiplying step and the
    whole thing stays inside whole-stage codegen — no Python in a path
    that fans out every document at 100 TB."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    n = F.size(toks)
    last_idx = F.floor((n - 1) / step).cast("int")
    out = df.select(
        "doc_id",
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_idx"),
    )
    start = out.chunk_idx * step + 1  # slice() is 1-indexed
    return out.select(
        "doc_id",
        "chunk_idx",
        F.array_join(F.slice("_toks", start, F.lit(chunk_tokens)), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk_tokens), F.col("_n") - out.chunk_idx * step)
        .cast("int")
        .alias("n_chunk_tokens"),
    )


#: CDC rolling-hash parameters — shared with the q64 SQL oracle.
#: Power-sum (not Horner) keeps the arithmetic a single order-free
#: integer expression both engines evaluate identically: max sum is
#: 8 * 255 * 31^7 ~ 5.6e13, far under int64.
CDC_WINDOW = 8
CDC_BASE = 31
CDC_MOD = 1_000_003
CDC_MASK = 64  # boundary when hash % CDC_MASK == 0 -> ~64-char chunks
CDC_POW = [CDC_BASE ** (CDC_WINDOW - 1 - j) for j in range(CDC_WINDOW)]


def cdc_chunks(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-defined chunking via a polynomial ROLLING HASH
    (Rabin-Karp style): a chunk boundary falls after position i
    whenever the hash of the trailing CDC_WINDOW bytes satisfies
    hash % CDC_MASK == 0. Unlike fixed-size chunking, an insertion
    near the start of a document shifts only the chunks it touches —
    every later boundary re-synchronizes, so per-chunk fingerprints
    still match (THE dedup-robustness property; asserted in tests).

    Pure Column expressions end to end (chars -> per-position hash ->
    boundary filter -> slice) — JVM-side with zero Python; the
    higher-order-function lambdas evaluate interpreted (not
    whole-stage codegen), which is still ~an order faster than a
    per-row Python path and keeps the operator usable in SQL-only
    deployments. Explode is the only fan-out; one row per chunk:
    (doc_id, chunk_idx, chunk_md5, n_chars)."""
    s = F.col(text_col)
    n = F.length(s)
    pow_arr = F.array(*[F.lit(p) for p in CDC_POW])

    # materialize the char-code array ONCE per row before any
    # per-position reference: inlining it into the boundary filter
    # would re-evaluate split+transform per candidate position — the
    # O(n^2) lambda re-evaluation pitfall (measured 57s -> 9s at
    # sf0.01 for this exact operator)
    base = df.select(
        "doc_id",
        s.alias("_t"),
        n.alias("_n"),
        F.transform(F.split(s, ""), lambda ch: F.ascii(ch)).alias("_c"),
    ).repartition(F.col("doc_id"))
    # ^ the exchange is a PROJECTION-COLLAPSE BARRIER (same rationale
    # as dedup._norm_grams_df): without it Catalyst folds this select
    # into the boundary filter and re-expands split+transform per
    # candidate position
    cc = F.col("_c")
    nn = F.col("_n")

    def roll_hash(i):
        # power-sum of the window ENDING at 1-indexed position i
        return (
            F.aggregate(
                F.sequence(F.lit(0), F.lit(CDC_WINDOW - 1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.element_at(cc, (i - CDC_WINDOW + 1 + j).cast("int")).cast("long")
                * F.element_at(pow_arr, (j + 1).cast("int")),
            )
            % CDC_MOD
        )

    candidates = F.when(
        nn >= CDC_WINDOW, F.sequence(F.lit(CDC_WINDOW), nn)
    ).otherwise(F.array().cast("array<int>"))
    ends = F.filter(candidates, lambda i: roll_hash(i) % CDC_MASK == 0)
    ends2 = F.array_distinct(F.concat(ends, F.array(nn.cast("int"))))
    # second materialization barrier: the boundary array is consumed
    # k+1 times below (slicing per chunk) — bind it to a column too
    bounded = base.select("doc_id", "_t", ends2.alias("_e"))
    idx = F.sequence(F.lit(1), F.size(F.col("_e")))
    out = bounded.select(
        "doc_id",
        "_t",
        "_e",
        F.posexplode(idx).alias("_pos", "_k"),
    )
    prev_end = F.when(
        F.col("_k") == 1, F.lit(0)
    ).otherwise(F.element_at("_e", (F.col("_k") - 1).cast("int")))
    this_end = F.element_at("_e", F.col("_k").cast("int"))
    chunk = F.col("_t").substr(prev_end + 1, this_end - prev_end)
    return out.select(
        "doc_id",
        F.col("_pos").cast("int").alias("chunk_idx"),
        F.md5(chunk).alias("chunk_md5"),
        (this_end - prev_end).cast("int").alias("n_chars"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    min_overlap_bp: int | None = None,
) -> DataFrame:
    """Training-data DECONTAMINATION: flag corpus documents that share
    any word n-gram with an eval/benchmark set (the standard 8-to-13-
    gram overlap rule for keeping test sets out of training data).
    Output: (doc_id, n_contaminated_grams, contaminated) — one row per
    corpus document, count = distinct overlapping n-grams.

    Plan shape at 100 TB: the benchmark's distinct gram set is tiny
    relative to the corpus (eval sets are fixed-size), so the overlap
    join BROADCASTS it — the corpus is touched by exactly one scan +
    one explode, no corpus-sized shuffle; the per-doc count shuffles
    only the matched (doc_id, gram) hits. Tokenization is materialized
    behind an exchange barrier before the per-element gram transform
    (see dedup._norm_grams_df: transform() re-evaluates captured
    expressions once PER ELEMENT, and AQE would serialize the tiny
    exchange onto one core without the explicit partition count).

    ``min_overlap_bp``: FUZZY decontamination (the "drop a document
    when >= X% of its n-grams appear in the benchmark" rule) — when
    set, the output adds ``n_grams_total`` (the doc's distinct-gram
    count) and ``contaminated`` becomes the pure-INTEGER test
    hits * 10000 >= min_overlap_bp * total (engine-portable, no float
    division); any-hit semantics (the default) stays unchanged."""
    from quanta_spark.operators.dedup import normalized

    n_parts = docs.sparkSession.sparkContext.defaultParallelism

    def grams_of(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = ["doc_id"] if keep_id else []
        toked = df.select(
            *cols, F.split(normalized(F.col(text_col)), " ").alias("_toks")
        )
        toked = (
            toked.repartition(n_parts, *cols) if cols else toked.repartition(n_parts)
        )
        toks = F.col("_toks")
        starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        grams = F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))
        gram_arr = F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )
        return toked.select(*cols, gram_arr.alias("_grams"))

    doc_g = grams_of(docs, keep_id=True)
    doc_grams = doc_g.select("doc_id", F.explode("_grams").alias("gram"))
    bench_grams = (
        grams_of(benchmark, keep_id=False)
        .select(F.explode("_grams").alias("gram"))
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_contaminated_grams"))
    )
    n_hits = F.coalesce("n_contaminated_grams", F.lit(0))
    if min_overlap_bp is None:
        return (
            docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                n_hits.alias("n_contaminated_grams"),
                (n_hits > 0).alias("contaminated"),
            )
        )
    totals = doc_g.select(
        "doc_id", F.size("_grams").cast("long").alias("n_grams_total")
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_contaminated_grams"),
            "n_grams_total",
            (
                (F.col("n_grams_total") > 0)
                & (n_hits * 10000 >= F.lit(min_overlap_bp) * F.col("n_grams_total"))
            ).alias("contaminated"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the normalized text (lowercased,
    non-alphanumeric collapsed) — the canonical content key used for
    exact dedup across shards. md5 is bit-identical across engines."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    return df.select(
        "doc_id",
        F.md5(F.trim(norm)).alias("fingerprint"),
        F.length(F.col(text_col)).alias("n_chars_calc"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set
    (Robertson/Sparck-Jones, the standard retrieval scoring used to
    mine topical training data from a crawl):

        score(d) = sum_t IDF(t) * tf * (k1+1) / (tf + k1*(1-b+b*dl/avgdl))
        IDF(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)

    Plan: one explode over normalized tokens feeds (a) per-doc length
    (one doc_id shuffle) and (b) term frequencies of ONLY the query
    terms (the isin filter prunes the corpus-sized token stream before
    its shuffle). Corpus scalars N/avgdl stay a 1-row DataFrame joined
    via broadcast crossJoin — no driver collect. Scores are reported
    in basis points (floor(x*1e4+0.5), x >= 0) so the DuckDB oracle
    hash-matches despite float summation-order noise (q69)."""
    from quanta_spark.operators.dedup import normalized

    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = (
        df.select(
            "doc_id",
            F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("tok").isin(list(query_terms)))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    per_term = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    return scored.groupBy("doc_id").agg(
        F.floor(F.sum(per_term) * 10_000 + F.lit(0.5)).cast("long").alias("score_bp"),
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
    )


def repetition_ratio(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Intra-document repetition (the Gopher-rules quality signal):
    fraction of word n-grams that are duplicates of an earlier n-gram
    in the SAME document — high values mark boilerplate/looping text
    that LLM-data curation drops.

        dup_ratio = 1 - distinct_ngrams / total_ngrams   (0 if none)

    Plan: pure Column codegen, no shuffle at all — the token array is
    materialized behind an exchange barrier first (transform() lambdas
    re-evaluate captured EXPRESSIONS per element; see _norm_grams_df's
    measured 25x pitfall), then grams, counts and the ratio are
    per-row array ops. Ratio reported in basis points."""
    from quanta_spark.operators.dedup import normalized

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    toked = df.select(
        "doc_id", F.split(normalized(F.col(text_col)), " ").alias("_toks")
    ).repartition(n_parts, F.col("doc_id"))
    toks = F.col("_toks")
    n_tok = F.size(toks)
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_tok - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select("doc_id", grams.alias("_grams"))
    total = F.size("_grams")
    distinct = F.size(F.array_distinct("_grams"))
    return g.select(
        "doc_id",
        total.cast("int").alias("n_grams"),
        distinct.cast("int").alias("n_distinct"),
        F.floor(
            (F.lit(1.0) - distinct / F.greatest(total, F.lit(1))) * 10_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dup_ratio_bp"),
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-LM document scoring — the cheap statistical stand-in for
    perplexity filtering: train word-bigram counts on the corpus
    itself, then score each document by the mean conditional frequency
    P(w_i | w_{i-1}) = c2(prev, cur) / c1(prev) of its bigrams. Low
    scores mark documents whose word transitions are rare in the
    corpus (noise, mangled text); high scores mark formulaic text.

    Plan (100 TB posture): one explode to bigram rows, then the count
    tables. c1 (prefix counts) is derived from c2 by a window over the
    MUCH smaller count table — not a second corpus aggregation — so
    the corpus-sized bigram rows cross exactly two shuffles: the join
    on (prev, cur) against the count table, and the per-doc rollup.
    All counts are integers; only the final mean is a double, reported
    floor(x*1e4+0.5) so the oracle hash-matches.
    """
    from pyspark.sql.window import Window

    from quanta_spark.operators.dedup import normalized

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    toked = df.select(
        F.col(id_col), F.split(normalized(F.col(text_col)), " ").alias("_toks")
    ).repartition(n_parts, F.col(id_col))
    toks = F.col("_toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1))),
            lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<prev:STRING,cur:STRING>>)"))
    big = toked.select(id_col, F.explode(pairs).alias("_b")).select(
        id_col, F.col("_b.prev").alias("prev"), F.col("_b.cur").alias("cur")
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n2"))
    c2e = c2.withColumn(
        "n1", F.sum("n2").over(Window.partitionBy("prev"))
    )
    scored = big.join(c2e, ["prev", "cur"]).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum("n2").cast("long").alias("sum_bigram_count"),
        F.floor(
            F.avg(F.col("n2").cast("double") / F.col("n1")) * 10_000 + F.lit(0.5)
        )
        .cast("long")
        .alias("score_bp"),
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("int").alias("n_bigrams"),
            F.coalesce("sum_bigram_count", F.lit(0)).cast("long").alias("sum_bigram_count"),
            F.coalesce("score_bp", F.lit(0)).cast("long").alias("score_bp"),
        )
    )


# shared with the q91 oracle — RE2-compatible (DuckDB) AND Java-regex
# compatible: no backrefs, no lookaround
_URL_RE = "(?i)https?://[^ ]+"
_EMAIL_RE = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
# a character-class run, NOT a backreference run — RE2 (DuckDB's regex
# engine) has no backreferences, so the oracle could not share one
_PUNCT_RUN_RE = "[!?.,;:*#=~-]{3,}"


def strip_boilerplate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Boilerplate stripping — the mechanical cleanup pass of a text
    curation pipeline: URLs, e-mail addresses and runs of 3+ repeated
    punctuation are removed (runs collapse to a space), whitespace is
    re-normalized. Emits the cleaned text plus the removed-character
    count (the 'how much was boilerplate' signal downstream filters
    threshold on). Pure per-row codegen — scan speed, no shuffle."""
    # match case-insensitively via inline (?i) — RE2 and Java both
    # support it — but PRESERVE the text's case: silently lowercasing a
    # curated corpus destroys information stripping never promised
    c = F.col(text_col)
    cleaned = F.regexp_replace(c, _URL_RE, " ")
    cleaned = F.regexp_replace(cleaned, _EMAIL_RE, " ")
    cleaned = F.regexp_replace(cleaned, _PUNCT_RUN_RE, " ")
    cleaned = F.trim(F.regexp_replace(cleaned, "\\s+", " "))
    return df.withColumn("clean_text", cleaned).withColumn(
        "removed_chars",
        (F.length(F.col(text_col)) - F.length("clean_text")).cast("int"),
    )


def duplicate_spans(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicated-substring spans — the suffix-array dedup of
    Lee et al. (2022, "Deduplicating Training Data Makes Language
    Models Better") re-expressed as relational algebra: instead of a
    global suffix array, every k-token gram is fingerprinted and the
    grams that occur in >=2 DISTINCT documents are merged back into
    maximal per-document spans (gaps-and-islands over gram start
    positions). The reference engine has no relational layer at all
    (stage chain only, /root/reference/engine/runner.go); this is the
    training-data operator its pipelines would feed.

    Plan shape at 100 TB: ONE explode (a gram per token, like the
    suffix array's suffix-per-token), ONE shuffle on the 16-byte gram
    fingerprint (the relational analog of the suffix sort — inherent
    to global duplicate detection), a self-semi-join on the same key
    (AQE reuses the exchange), then a per-document window. Nothing is
    quadratic; the gram->docs fan-in is bounded by true duplication.

    Returns (id_col, span_start, span_end, n_grams, n_tokens) with
    1-based inclusive TOKEN indexes; a span covers every position
    whose k-gram is duplicated somewhere else in the corpus.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    g = (
        df.select(id_col, toks.alias("_t"))
        .where(F.size("_t") >= k)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_t) - {k - 1}), "
                    f"i -> struct(i AS pos, "
                    f"md5(array_join(slice(_t, i, {k}), ' ')) AS gram_id))"
                )
            ).alias("g"),
        )
        .select(id_col, "g.pos", "g.gram_id")
    )
    dup = (
        g.groupBy("gram_id")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("gram_id")
    )
    hits = g.join(dup, "gram_id")
    w = Window.partitionBy(id_col).orderBy("pos")
    island = (F.col("pos") - F.row_number().over(w)).alias("_island")
    return (
        hits.select(id_col, "pos", island)
        .groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            "n_grams",
            (F.col("span_end") - F.col("span_start") + 1).cast("int").alias("n_tokens"),
        )
    )


# Gopher (Rae et al. 2021) / C4 (Raffel et al. 2020) rule thresholds —
# shared with the q-gate oracle; the EN stopword set is the C4 one.
# Mean-word-length and dup-ratio bounds are kept as exact rationals so
# every rule evaluates in INTEGER arithmetic (charlen >= 3*words, not
# charlen/words >= 3.0) — engine-portable with no float boundary risk.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3  # chars per word, inclusive
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_DUP_WORD_PCT = 85  # (words - distinct) * 100 <= 85 * words
GOPHER_MIN_STOPWORD_HITS = 2
_C4_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filters(
    df: DataFrame, text_col: str = "text", stopwords: list[str] | None = None
) -> DataFrame:
    """Rule-based quality filtering in the C4 / Gopher style — the
    standard pre-dedup gate of a web-scale training corpus. Every rule
    is a pure Column expression (scan-speed, zero shuffle, zero
    Python):

    - word-count bounds and mean-word-length bounds (Gopher repetition
      & gibberish rules);
    - duplicate-word ratio (1 - distinct/total tokens) as the
      line-free analog of Gopher's duplicate-line fraction;
    - >=2 distinct C4 stopwords present (C4's "real prose" test);
    - C4 blocklist flags: '{' (code), 'lorem ipsum' (placeholder).

    keep = conjunction of all rules, every comparison in INTEGER
    arithmetic (no float thresholds anywhere). Emits every
    intermediate signal so downstream tuning can re-threshold without
    a rescan; the two ratio signals ship as e4 fixed-point longs
    (floor(x*1e4 + 0.5)) for engine-portable hashing. ``stopwords``
    defaults to the C4 English set; pass a corpus-appropriate list for
    non-English or synthetic corpora."""
    if stopwords is None:
        stopwords = _C4_STOPWORDS
    c = F.col(text_col)
    t = F.split(F.trim(c), r"\s+")
    n_words = F.size(t)
    n_chars = F.length(F.regexp_replace(F.trim(c), r"\s+", ""))
    n_distinct = F.size(F.array_distinct(t))
    wsafe = F.greatest(n_words, F.lit(1))
    mean_wl_e4 = F.floor((n_chars * 10000) / wsafe + 0.5).cast("long")
    dup_e4 = F.floor(((n_words - n_distinct) * 10000) / wsafe + 0.5).cast("long")
    stop_hits = sum(
        F.when(F.array_contains(t, s), 1).otherwise(0) for s in stopwords
    ).cast("int")
    has_brace = c.contains("{")
    has_lorem = F.lower(c).contains("lorem ipsum")
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & (n_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_words)
        & (n_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_words)
        & ((n_words - n_distinct) * 100 <= GOPHER_MAX_DUP_WORD_PCT * n_words)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
        & ~has_brace
        & ~has_lorem
    )
    return df.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_wl_e4.alias("mean_word_len_e4"),
        dup_e4.alias("dup_word_ratio_e4"),
        stop_hits.alias("stopword_hits"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        keep.alias("keep"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    head_k: int = 5,
    n_buckets: int = 32,
) -> DataFrame:
    """Inverted-index (posting-list) construction — term -> document
    frequency, total term frequency, doc-id range, and a BOUNDED
    posting head (the ``head_k`` smallest doc ids, comma-joined): the
    retrieval-side index a training-data pipeline builds to serve
    decontamination lookups, topical mining, and term-level corpus
    audits.

    Scale: tokens explode inside the scan stage; (term, doc) term
    frequencies and the per-term stats are hash aggregates with
    map-side partials (two shuffles total, the second on the vocab-
    sized tf table). The posting head is two-phase min-k in the
    top_k_turns_per_conv pattern: partial row_number within
    (term, salt) buckets, final min-k over <= head_k * n_buckets
    survivors — a stopword's full posting list never sorts (or even
    co-locates) in one task. Full postings are never collected; the
    output is O(vocab) rows with an O(head_k) payload each.
    """
    from pyspark.sql import Window

    from quanta_spark.operators.dedup import normalized

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.min(id_col).alias("min_doc_id"),
        F.max(id_col).alias("max_doc_id"),
    )
    w_partial = Window.partitionBy("term", "_salt").orderBy(F.col(id_col).asc())
    w_final = Window.partitionBy("term").orderBy(F.col(id_col).asc())
    head = (
        tf.withColumn("_salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)))
        .withColumn("_rn", F.row_number().over(w_partial))
        .filter(F.col("_rn") <= head_k)
        .withColumn("_rn2", F.row_number().over(w_final))
        .filter(F.col("_rn2") <= head_k)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head")
        )
    )
    return stats.join(head, "term")


def zipf_fit(
    df: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
    max_rank: int = 1000,
) -> DataFrame:
    """Zipf power-law fit per stratum: the least-squares slope of
    ln(freq) on ln(rank) over the top ``max_rank`` word frequencies —
    the corpus-health diagnostic (natural language sits near slope -1;
    a flat slope flags template/boilerplate floods, a cliff flags
    tiny-vocabulary synthetic text; Zipf 1949, Piantadosi 2014).

    Determinism: each retained (rank, freq) point's logs are quantized
    to 1e-6 units (floor(ln(x)*1e6 + 0.5) as LONG) BEFORE the
    regression sums, so Sum-x/Sum-y/Sum-xy/Sum-xx are INTEGER sums —
    exact and order-independent across engines and partitionings; only
    the final closed-form combination of five integers runs in double.

    Plan: one explode -> (stratum, word) count -> per-stratum rank
    window (freq desc, word asc tie-break) -> top-max_rank filter ->
    one per-stratum aggregate. The rank window's grain is the DISTINCT
    VOCABULARY of a stratum, not the corpus: the token stream crushes
    map-side in the count aggregate first."""
    from quanta_spark.operators.dedup import normalized

    if max_rank < 2:
        raise ValueError(f"max_rank must be >= 2, got {max_rank}")
    toks = df.select(
        F.col(stratum_col).alias("stratum"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    counts = toks.groupBy("stratum", "word").agg(
        F.count(F.lit(1)).alias("freq")
    )
    w = Window.partitionBy("stratum").orderBy(
        F.col("freq").desc(), F.col("word").asc()
    )
    ranked = counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= max_rank
    )
    q6 = lambda c: F.floor(F.log(c) * 1_000_000 + F.lit(0.5)).cast("long")  # noqa: E731
    pts = ranked.select(
        "stratum", q6(F.col("rank")).alias("x"), q6(F.col("freq")).alias("y")
    )
    sums = pts.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # slope in ln/ln space; the 1e-6 quantization units cancel in the
    # ratio. Combination in double: the five integers are identical in
    # any engine, so the doubles are too.
    n, sx, sy, sxy, sxx = (F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n / F.lit(1e6)
    return sums.select(
        F.col("stratum").alias(stratum_col),
        F.col("n").alias("n_ranks"),
        F.floor(slope * 10_000 + F.lit(0.5)).cast("long").alias("slope_bp"),
        F.floor(intercept * 10_000 + F.lit(0.5)).cast("long").alias("intercept_bp"),
    )


#: shared PII patterns — Java-regex/RE2-compatible subset only (no
#: lookaround), so Spark and the SQL oracle extract identical spans
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_OCT = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
PII_IPV4_RE = rf"\b{_OCT}\.{_OCT}\.{_OCT}\.{_OCT}\b"
PII_CC_RE = r"[0-9][0-9 -]{11,22}[0-9]"


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Typed PII scan — the detection complement of the redaction
    stage (stages.redact_pii_stage): per document, COUNT emails,
    syntactically valid IPv4 addresses (octet-range checked in the
    pattern itself), and card-shaped digit runs that pass the LUHN
    checksum (mod-10, ISO/IEC 7812) — the validator is what separates
    a compliance scan from a digit-run grep (a 16-digit order id
    fails Luhn 90% of the time).

    Everything is per-row Catalyst expressions (regexp_extract_all +
    an aggregate() fold over the digit positions for Luhn): scan
    speed, zero shuffle, zero Python — the shape that lets a 100 TB
    compliance sweep ride a single corpus scan."""
    clean = "regexp_replace(c, '[^0-9]', '')"
    digit = f"CAST(substring({clean}, i, 1) AS INT)"
    luhn_term = (
        f"CASE WHEN (length({clean}) - i) % 2 = 0 THEN {digit} "
        f"ELSE CASE WHEN 2 * {digit} > 9 THEN 2 * {digit} - 9 "
        f"ELSE 2 * {digit} END END"
    )
    luhn_ok = (
        f"length({clean}) BETWEEN 13 AND 19 AND "
        f"aggregate(sequence(1, length({clean})), 0, "
        f"(acc, i) -> acc + {luhn_term}) % 10 = 0"
    )
    n_emails = F.expr(
        f"size(regexp_extract_all({text_col}, '{PII_EMAIL_RE}', 0))"
    )
    n_ipv4 = F.expr(
        f"size(regexp_extract_all({text_col}, r'{PII_IPV4_RE}', 0))"
    )
    cands = f"regexp_extract_all({text_col}, '{PII_CC_RE}', 0)"
    n_cc = F.expr(f"size({cands})")
    n_luhn = F.expr(f"size(filter({cands}, c -> {luhn_ok}))")
    return df.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_ipv4.cast("int").alias("n_ipv4"),
        n_cc.cast("int").alias("n_cc_candidates"),
        n_luhn.cast("int").alias("n_luhn_valid"),
        (n_emails + n_ipv4 + n_luhn > 0).alias("has_pii"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 200,
) -> DataFrame:
    """Top-``top_n`` bigram collocations by pointwise mutual
    information over the normalized corpus — the classic phrase-mining
    diagnostic (Church & Hanks 1990): PMI = ln(c_xy * N / (c_x * c_y))
    ranks adjacent pairs that co-occur far above chance ("los angeles")
    over pairs glued by frequency alone ("of the").

    Determinism: c_xy, c_x, c_y and N are exact integers in any
    engine; PMI combines them in double with a FIXED expression tree
    ((c_xy*N)/(c_x*c_y), IEEE-identical) and is then quantized to
    basis points, so the (pmi_bp, w1, w2) ordering that selects the
    top-n is a total order computed identically by Spark and the SQL
    oracle.

    Plan: the token stream crushes map-side into two vocabulary-sized
    count tables (partial aggregation before either shuffle); the two
    unigram lookups are equi-joins on the word key (vocab-sized, never
    corpus-sized); N is a one-row aggregate broadcast via cross join;
    the final top-n is TakeOrderedAndProject (per-partition heads,
    driver merge) — no global sort materializes. Zero Python, zero
    all-pairs anywhere: at 100 TB the only corpus-sized pass is the
    initial scan."""
    from quanta_spark.operators.dedup import normalized

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    ws = df.select(
        F.split(normalized(F.col(text_col)), " ").alias("w")
    ).filter(F.expr("size(w) >= 1 AND w[0] <> ''"))
    uni = (
        ws.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n_tokens"))
    big = (
        ws.filter(F.expr("size(w) >= 2"))
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))")
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_y"))
    ratio = (F.col("c_xy").cast("double") * F.col("n_tokens")) / (
        F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("pair_count"),
            F.floor(F.log(ratio) * 10_000 + F.lit(0.5)).cast("long").alias("pmi_bp"),
        )
        .orderBy(F.col("pmi_bp").desc(), "w1", "w2")
        .limit(top_n)
    )


#: Unicode script ranges as LITERAL character classes — defined once
#: and imported by the gate oracle so both engines count with the
#: byte-identical pattern (Java regex and RE2 both accept literal
#: range endpoints; \\u escapes differ between them).
SCRIPT_RANGES = {
    "latin": "[A-Za-z]",
    "digit": "[0-9]",
    "cyrillic": "[\u0400-\u04ff]",
    "greek": "[\u0370-\u03ff]",
    "arabic": "[\u0600-\u06ff]",
    "cjk": "[\u4e00-\u9fff]",
}


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script profile — the multilingual-triage
    signal a web-scale corpus needs before language-specific filters
    (the n-gram language ID here only separates latin-script
    languages): counts of characters per major script block plus the
    dominant script (most characters; ties break by the fixed
    priority latin > digit > cyrillic > greek > arabic > cjk >
    ``other``). Pure regexp_count Column expressions — scan-speed,
    zero shuffle, zero Python — and the range patterns are literal
    characters shared with the SQL oracle, so both engines count the
    same classes.

    ``other`` counts everything outside the six blocks and
    whitespace; a document of pure punctuation is dominant-``other``,
    the junk signal."""
    t = F.col(text_col)
    counts = {
        name: F.regexp_count(t, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_RANGES.items()
    }
    ws = F.regexp_count(t, F.lit("\\s")).cast("long")
    n_chars = F.length(t).cast("long")
    known = None
    for c in counts.values():
        known = c if known is None else known + c
    other = (n_chars - known - ws).alias("n_other")
    cols = [F.col("doc_id"), n_chars.alias("n_chars")] + [
        c.alias(f"n_{name}") for name, c in counts.items()
    ] + [other]
    out = df.select(*cols)
    dominant = F.lit("other")
    # reverse priority: later WHEN wins only by being checked FIRST,
    # so build from lowest priority upward with >= on the running max
    best = F.col("n_other")
    for name in ["cjk", "arabic", "greek", "cyrillic", "digit", "latin"]:
        c = F.col(f"n_{name}")
        dominant = F.when(c >= best, F.lit(name)).otherwise(dominant)
        best = F.greatest(c, best)
    # empty / all-whitespace documents carry no script signal at all
    dominant = F.when(best == 0, F.lit("other")).otherwise(dominant)
    return out.withColumn("dominant", dominant)
