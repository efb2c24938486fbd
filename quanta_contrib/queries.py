"""Operator query registry, checked against DuckDB by
tests/test_oracle_parity.py.

Every implemented operator (SURVEY.md §2 + the training-data pipeline
ops) has an entry here: a Spark callable ``(spark, sf_dir) -> DataFrame``
and, where ANSI-SQL-expressible, a DuckDB oracle producing the same
rows (same column NAMES and comparable types — the parity test compares
values after sorting columns by name).

Cross-engine determinism rules used throughout:
- money/double sums reported as integers: CAST(round(sum*100) AS BIGINT)
  — float summation order differs between engines only in the last ULP,
  which integer rounding absorbs;
- similarities reported in basis points (round(sim*1e4) as BIGINT);
- rankings always carry a total tie-break (id column);
- md5 for fingerprints (bit-identical in both engines);
- timestamps compared directly (session TZ pinned to UTC).

Transcript-shaped queries derive a deterministic ``transcripts`` table
from the ``events`` parquet with dialect-shared SQL, so both
engines see identical input without this repo shipping data.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quanta_spark.datagen import stamp_arrival_order

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERY_FNS: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


# view-registration memo: (session identity) -> (sf_dir, table mtimes).
# _prepare is called by EVERY registered query; re-reading ten parquet
# footers + re-registering ten temp views measured ~1.0 s per call even
# warm (driver-side file listing via py4j), which dominated the 1-2 s
# batch bench legs. The key carries each table path's mtime, so a
# rewritten/added table (fixture tests) re-registers automatically, and
# a CHANGED sf_dir always re-registers (staleness contract below).
_PREPARED: dict[tuple, tuple] = {}


def _prepare(spark: SparkSession, sf_dir: str) -> None:
    """Make a driver-provided session behave like ours: UTC timestamps
    (DuckDB comparability), map-merge policy, package on executors."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # a driver-created session may default to 200 shuffle partitions;
    # size to the box (AQE coalesces further) — matters most for the
    # iterative q45 joins (4 rounds) at gate scale
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # see session.py: keeps explode'd array exprs above the repartition
    # barrier (runtime-settable, so driver-created sessions get it too)
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    try:
        from quanta_spark.session import _ship_package

        _ship_package(spark)
    except Exception:
        pass
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLES]
    state = tuple(
        os.path.getmtime(p) if os.path.exists(p) else None for p in paths
    )
    sess_key = (spark.sparkContext.applicationId, id(spark._jsparkSession))
    if _PREPARED.get(sess_key) == (sf_dir, state):
        return
    for t, path, mtime in zip(TABLES, paths, state):
        if mtime is not None:
            spark.read.parquet(path).createOrReplaceTempView(t)
        else:
            # never let a query silently run against a STALE view from a
            # previous sf_dir — fail with TABLE_OR_VIEW_NOT_FOUND instead
            spark.catalog.dropTempView(t)
    _PREPARED[sess_key] = (sf_dir, state)


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark, sf_dir)
            return fn(spark, sf_dir)

        QUERY_FNS[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def sql_query(name: str, spark_sql: str, oracle: str | None = None) -> None:
    """Register a query whose Spark side is SQL too. ``oracle`` defaults
    to the same text (dialect-shared SQL)."""

    @query(name, oracle if oracle is not None else spark_sql)
    def _fn(spark: SparkSession, sf_dir: str, _sql=spark_sql) -> DataFrame:
        return spark.sql(_sql)


# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# deterministic transcripts derived from events — dialect-shared
TRANSCRIPTS_CTE = """
t0 AS (
  SELECT user_id, ts, event_type, props, event_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx
  FROM events
),
transcripts AS (
  SELECT concat('conv-', lpad(CAST(user_id AS STRING), 8, '0')) AS conv_id,
         turn_idx,
         CASE WHEN turn_idx % 2 = 0 THEN 'user'
              WHEN turn_idx % 3 = 0 THEN 'tool'
              ELSE 'assistant' END AS role,
         concat(event_type, ' ', props) AS text,
         CASE WHEN turn_idx % 2 = 1 AND turn_idx % 3 = 0 THEN 'search'
              ELSE CAST(NULL AS STRING) END AS tool,
         ts
  FROM t0
)
"""

SPARK_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))"
DUCK_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


def transcripts_df(spark: SparkSession) -> DataFrame:
    return spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT * FROM transcripts")


# ---------------------------------------------------------------------------
# relational core (dialect-shared SQL — registered for both engines)
# ---------------------------------------------------------------------------

sql_query(
    "q01_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
       CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_base_price_c,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS sum_disc_price_c,
       CAST(round(avg(l_quantity) * 10000) AS BIGINT) AS avg_qty_bp,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)

sql_query(
    "q02_top_orders",
    """
SELECT o.o_orderkey,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT) AS revenue_c,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue_c DESC, o_orderkey ASC
LIMIT 10
""",
)

sql_query(
    "q03_regional_revenue",
    """
SELECT r_name, n_name,
       count(*) AS n_lineitems,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT) AS revenue_c
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem l ON l.l_orderkey = o_orderkey
GROUP BY r_name, n_name
""",
)

sql_query(
    "q04_distinct_counts",
    """
SELECT count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""",
)

sql_query(
    "q05_rollup",
    """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)

sql_query(
    "q06_topk_per_brand",
    """
SELECT p_brand, rk, p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(row_number() OVER (PARTITION BY p_brand
                                 ORDER BY p_retailprice DESC, p_partkey ASC) AS INT) AS rk
  FROM part
) ranked
WHERE rk <= 3
""",
)

sql_query(
    "q07_setops",
    """
SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
EXCEPT
SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
""",
)

sql_query(
    "q08_anti_join",
    """
SELECT n_name, count(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
""",
)

sql_query(
    "q09_monthly_orders",
    """
SELECT date_trunc('month', o_orderdate) AS month,
       count(*) AS n_orders,
       CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_c,
       count(DISTINCT o_custkey) AS n_custs
FROM orders
GROUP BY date_trunc('month', o_orderdate)
""",
)

sql_query(
    "q10_string_funcs",
    """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       substr(c_name, 1, 8) AS name_prefix,
       length(c_name) AS name_len,
       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c
FROM customer
WHERE c_acctbal > 9000
""",
)

# ---------------------------------------------------------------------------
# event-time windows (Spark side uses the engine operators)
# ---------------------------------------------------------------------------


@query(
    "q11_tumbling_events",
    """
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000) AS window_start,
       count(*) AS n_events,
       CAST(round(sum(value) * 100) AS BIGINT) AS value_c
FROM events
GROUP BY 1
""",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100).cast("long").alias("value_c"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "value_c")
    )


@query(
    "q12_sliding_events",
    """
SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) - k) * 300 * 1000000) AS window_start,
       count(*) AS n_events
FROM events, (SELECT unnest([0, 1]) AS k) offs
GROUP BY 1
""",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


@query(
    "q13_session_windows",
    f"""
WITH {TRANSCRIPTS_CTE},
d AS (
  SELECT conv_id, turn_idx, ts, length(text) AS tl, role,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                   <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
  FROM transcripts
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM d
)
SELECT conv_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_turns,
       CAST(min(turn_idx) AS INT) AS first_turn,
       CAST(max(turn_idx) AS INT) AS last_turn,
       CAST(sum(tl) AS BIGINT) AS n_chars,
       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool
FROM s
GROUP BY conv_id, sess
""",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.windows import sessionize

    return sessionize(transcripts_df(spark), gap="30 minutes")


@query(
    "q14_reply_join",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT u.conv_id,
       u.turn_idx AS user_turn_idx, u.text AS user_text, u.ts AS user_ts,
       r.turn_idx AS reply_turn_idx, r.role AS reply_role, r.text AS reply_text,
       r.tool AS reply_tool, r.ts AS reply_ts,
       epoch(r.ts) - epoch(u.ts) AS reply_latency_s
FROM transcripts u
JOIN transcripts r
  ON r.conv_id = u.conv_id
 AND r.turn_idx = u.turn_idx + 1
 AND r.ts >= u.ts AND r.ts <= u.ts + INTERVAL 30 MINUTE
WHERE u.role = 'user' AND r.role IN ('assistant', 'tool')
""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.stateful import join_user_replies

    return join_user_replies(transcripts_df(spark), max_reply_delay="30 minutes")


@query(
    "q53_unanswered_turns",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT u.conv_id,
       u.turn_idx AS user_turn_idx, u.text AS user_text, u.ts AS user_ts,
       r.turn_idx AS reply_turn_idx, r.role AS reply_role, r.ts AS reply_ts,
       r.turn_idx IS NOT NULL AS answered
FROM transcripts u
LEFT JOIN transcripts r
  ON r.conv_id = u.conv_id
 AND r.turn_idx = u.turn_idx + 1
 AND r.ts >= u.ts AND r.ts <= u.ts + INTERVAL 30 MINUTE
 AND r.role IN ('assistant', 'tool')
WHERE u.role = 'user'
""",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER user/reply join — every user turn, answered or not
    (stateful.join_user_replies_outer; in streaming mode the NULL rows
    emit once the watermark passes the reply-delay bound — the
    outer-join-with-watermark contract, pytest-verified vs this batch
    flavor in test_stateful.py)."""
    from quanta_spark.operators.stateful import join_user_replies_outer

    return join_user_replies_outer(transcripts_df(spark), max_reply_delay="30 minutes")


@query(
    "q15_turn_order",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, role, text, tool, ts, false AS flushed
FROM transcripts
""",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.stateful import enforce_turn_order

    return enforce_turn_order(transcripts_df(spark))


@query(
    "q16_two_phase_conv_stats",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(max(turn_idx) AS INT) AS last_turn,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM transcripts
GROUP BY conv_id
""",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.skew import two_phase_conv_stats

    return two_phase_conv_stats(transcripts_df(spark))


@query(
    "q17_topk_turns_salted",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, CAST(rk AS INT) AS rank, turn_idx,
       CAST(text_len AS INT) AS text_len, role
FROM (
  SELECT conv_id, turn_idx, role, length(text) AS text_len,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY length(text) DESC, turn_idx ASC) AS rk
  FROM transcripts
) t
WHERE rk <= 3
""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.skew import top_k_turns_per_conv

    return top_k_turns_per_conv(transcripts_df(spark), k=3)


# ---------------------------------------------------------------------------
# stage-chain semantics (map / filter / fan-out) in the correctness gate
# ---------------------------------------------------------------------------


@query(
    "q18_uppercase_stage",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, upper(text) AS text FROM transcripts
""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.stages import apply_chain

    out = apply_chain(transcripts_df(spark), ["uppercase"])
    return out.select("conv_id", "turn_idx", "text")


@query(
    "q19_filter_stage",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, role, text FROM transcripts WHERE role <> 'tool'
""",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.stages import apply_chain, native_filter

    stage = native_filter("no-tools", F.col("role") != "tool")
    out = apply_chain(transcripts_df(spark), [stage])
    return out.select("conv_id", "turn_idx", "role", "text")


@query(
    "q20_fanout_stage",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, role, text FROM transcripts
UNION ALL
SELECT conv_id, turn_idx, 'echo' AS role, reverse(text) AS text FROM transcripts
""",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from quanta_spark.operators.stages import Stage, apply_chain

    def fanout(pdf: pd.DataFrame) -> pd.DataFrame:
        echo = pdf.copy()
        echo["role"] = "echo"
        echo["text"] = echo["text"].map(lambda s: s[::-1])
        return pd.concat([pdf, echo], ignore_index=True)

    out = apply_chain(transcripts_df(spark), [Stage(name="echo-fanout", batch_fn=fanout)])
    return out.select("conv_id", "turn_idx", "role", "text")


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / text analysis / similarity
# ---------------------------------------------------------------------------

_DOCS2 = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
"""


@query(
    "q21_exact_dedup",
    f"""
WITH {_DOCS2}
SELECT md5({DUCK_NORM}) AS fingerprint,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM docs2
GROUP BY 1
""",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.dedup import exact_dedup_groups

    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2")
    return exact_dedup_groups(docs2)


@query(
    "q22_ngram_jaccard",
    f"""
WITH n AS (
  SELECT doc_id, {DUCK_NORM} AS norm FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct([substr(norm, i, 3) for i in generate_series(1, len(norm) - 2)]) AS grams
  FROM n WHERE len(norm) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS n_common,
       CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS INT) AS n_union,
       round(len(list_intersect(a.grams, b.grams)) /
             greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 4) AS jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.dedup import ngram_jaccard_pairs

    docs = spark.table("documents")
    out = ngram_jaccard_pairs(docs, n=3)
    return out.filter(F.col("n_union") > 0)


@query(
    "q23_quality_features",
    """
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars_calc,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_subword_tokens,
       CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_punct,
       round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
             / greatest(length(text), 1), 4) AS punct_ratio,
       round((len(regexp_extract_all(lower(text), '\\bthe\\b'))
              + len(regexp_extract_all(lower(text), '\\band\\b')))
             / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) AS stopword_ratio,
       (length(text) >= 64
        AND len(regexp_split_to_array(trim(text), '\\s+')) >= 10
        AND round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                  / greatest(length(text), 1), 4) <= 0.3) AS keep
FROM documents
""",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.text import quality_features

    return quality_features(spark.table("documents"))


@query(
    "q24_language_id",
    """
WITH s AS (
  SELECT doc_id, lang AS labeled_lang,
    CAST(len(regexp_extract_all(lower(text), '\\bder\\b')) + len(regexp_extract_all(lower(text), '\\bdie\\b')) + len(regexp_extract_all(lower(text), '\\bund\\b')) AS INT) AS score_de,
    CAST(len(regexp_extract_all(lower(text), '\\bthe\\b')) + len(regexp_extract_all(lower(text), '\\band\\b')) + len(regexp_extract_all(lower(text), '\\bof\\b')) AS INT) AS score_en,
    CAST(len(regexp_extract_all(lower(text), '\\bel\\b')) + len(regexp_extract_all(lower(text), '\\bla\\b')) + len(regexp_extract_all(lower(text), '\\bde\\b')) AS INT) AS score_es,
    CAST(len(regexp_extract_all(lower(text), '\\ble\\b')) + len(regexp_extract_all(lower(text), '\\bla\\b')) + len(regexp_extract_all(lower(text), '\\bet\\b')) AS INT) AS score_fr
  FROM documents
)
SELECT doc_id, labeled_lang, score_de, score_en, score_es, score_fr,
  CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
       WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
       WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
       WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
       ELSE 'fr' END AS lang_guess
FROM s
""",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.text import language_id

    return language_id(spark.table("documents"))


@query(
    "q25_fingerprint",
    f"""
SELECT doc_id, md5({DUCK_NORM}) AS fingerprint,
       CAST(length(text) AS INT) AS n_chars_calc
FROM documents
""",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.text import fingerprint

    return fingerprint(spark.table("documents"))


@query(
    "q26_explode_tokens",
    """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
""",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "q27_cosine_topk",
    """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id % 50 = 0 AND vec_id < 2500),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(q.embedding AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM q, embeddings c
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, sim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, vec_id ASC) AS rk
  FROM scored
) t
WHERE rk <= 5
""",
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k. The query set is a FIXED budget
    (vec_id in {0, 50, ..., 2450} — at most 50 queries no matter the
    corpus size), so the collect+broadcast of the query matrix stays
    O(1) in the corpus: the plan survives a 100x scale-up unchanged."""
    from quanta_contrib.operators.similarity import brute_force_cosine_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return brute_force_cosine_topk(emb, queries_df, k=5)


# --- hash-seeded ops, made oracle-checkable with the PORTABLE (md5)
# hash family: the oracle SQL re-derives the identical signatures,
# bands, candidates and verification in DuckDB, so these gate rows are
# full rows+schema+hash checks, not rows-only. The operators' default
# xxhash64 family (bench/scale path) shares the exact plan shape and
# is pinned by the property tests in test_dedup_similarity.py. ---

from quanta_spark.operators.dedup import MINHASH_A, MINHASH_B  # noqa: E402

_MINHASH_COEF = (
    "SELECT unnest(generate_series(0, 63)) AS i, "
    f"unnest([{', '.join(str(int(v)) for v in MINHASH_A)}]) AS a, "
    f"unnest([{', '.join(str(int(v)) for v in MINHASH_B)}]) AS b"
)

_Q28_CTES = f"""{_DOCS2},
nrm AS (SELECT doc_id, {DUCK_NORM} AS norm FROM docs2),
g AS (
  SELECT doc_id,
         list_distinct([substr(norm, i, 5) for i in generate_series(1, len(norm) - 4)]) AS grams
  FROM nrm WHERE len(norm) >= 5
),
sh AS (SELECT doc_id, unnest(grams) AS s FROM g),
sx AS (
  SELECT doc_id,
         list_sum([CAST(strpos('0123456789abcdef', substr(md5(s), j, 1)) - 1 AS BIGINT)
                   * (1::BIGINT << ((7 - j) * 4))
                   for j in generate_series(1, 7)]) AS x
  FROM sh
),
coef AS ({_MINHASH_COEF}),
mh AS (SELECT doc_id, i, min((a * x + b) % 2147483647) AS mh FROM sx, coef GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 8 AS band, md5(string_agg(mh::VARCHAR, '-' ORDER BY i)) AS bucket
  FROM mh GROUP BY doc_id, i // 8
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

_Q28_SELECT = """
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(ga.grams, gb.grams)) AS INT) AS n_common,
       CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS INT) AS n_union,
       round(len(list_intersect(ga.grams, gb.grams)) /
             greatest(len(list_distinct(list_concat(ga.grams, gb.grams))), 1), 4) AS jaccard
FROM cand c JOIN g ga ON ga.doc_id = c.doc_a JOIN g gb ON gb.doc_id = c.doc_b
WHERE round(len(list_intersect(ga.grams, gb.grams)) /
            greatest(len(list_distinct(list_concat(ga.grams, gb.grams))), 1), 4) >= 0.8
"""

_Q28_ORACLE = f"WITH {_Q28_CTES}\n{_Q28_SELECT}"


@query("q28_minhash_neardup", _Q28_ORACLE)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.dedup import minhash_near_dup_pairs

    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2")
    return minhash_near_dup_pairs(docs2, threshold=0.8, hasher="md5")


def bench_minhash_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q28's PRODUCTION hash family (xxhash64, the dedup.py default and
    the path a cluster deployment runs) — bench-only, NOT a gate query:
    xxhash64 has no cross-engine DuckDB reproduction, which is exactly
    why the gate q28 uses the md5 family. Identical plan shape; only
    the scalar hash expression differs."""
    from quanta_contrib.operators.dedup import minhash_near_dup_pairs

    _prepare(spark, sf_dir)
    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2")
    return minhash_near_dup_pairs(docs2, threshold=0.8, hasher="xxhash64")


_Q29_SIG_CHUNKS = ",\n".join(
    "         CAST(sum(CASE WHEN s > 0 AND i // 16 = {c} THEN (1::BIGINT << (i % 16)) "
    "ELSE 0 END) AS INT) AS c{c}".format(c=c)
    for c in range(4)
)
_Q29_HAMMING = " + ".join(
    f"bit_count(xor(CAST(a.c{c} AS BIGINT), CAST(b.c{c} AS BIGINT)))" for c in range(4)
)

_Q29_ORACLE = f"""
WITH {_DOCS2},
nrm AS (SELECT doc_id, {DUCK_NORM} AS norm FROM docs2),
toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM nrm),
th AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (
  SELECT doc_id, i,
         CASE WHEN (((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1)
                     >> (3 - i % 4)) & 1) = 1 THEN 1 ELSE -1 END AS v
  FROM th, generate_series(0, 63) t(i)
),
sums AS (SELECT doc_id, i, sum(v) AS s FROM bits GROUP BY doc_id, i),
sig AS (
  SELECT doc_id,
{_Q29_SIG_CHUNKS}
  FROM sums GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({_Q29_HAMMING} AS INT) AS hamming
FROM sig a JOIN sig b ON b.doc_id > a.doc_id
WHERE {_Q29_HAMMING} <= 3
"""


@query("q29_simhash_neardup", _Q29_ORACLE)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle computes ALL-PAIRS hamming <= 3 on the same portable
    signatures — equal to the chunk-blocked output deterministically
    (pigeonhole: <=3 differing bits over 4 chunks leaves one chunk
    intact), so this checks both the signature math and the lossless-
    ness of the blocking."""
    from quanta_contrib.operators.dedup import simhash_near_dup_pairs

    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2")
    return simhash_near_dup_pairs(docs2, max_hamming=3, hasher="md5")


_Q30_BUCKET_DUCK = " + ".join(
    f"(CASE WHEN embedding[{i * 8 + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)

_Q30_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_Q30_BUCKET_DUCK} AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, bucket, embedding AS q_emb
  FROM b WHERE vec_id % 50 = 0 AND vec_id < 2500
),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(q.q_emb AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, sim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, vec_id ASC) AS rk
  FROM scored
) t
WHERE rk <= 5
"""


@query("q30_lsh_cosine_topk", _Q30_ORACLE)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN with the PORTABLE bucket family (coordinate-
    sign bits — deterministic float comparisons, no summation-order
    ambiguity cross-engine). The gaussian-hyperplane family (same
    bucket-equi-join plan) stays the recall-tuned default, pinned by
    property tests. Query budget fixed at <=50 (vec_id < 2500)."""
    from quanta_contrib.operators.similarity import axis_lsh_cosine_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return axis_lsh_cosine_topk(emb, queries_df, k=5)


@query(
    "q31_media_decode",
    """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS decoded_kind,
       CAST(16 + doc_id % 496 AS INT) AS width,
       CAST(16 + (doc_id * 7) % 496 AS INT) AS height,
       md5(text) AS content_md5,
       CAST(12 + strlen(text) AS BIGINT) AS n_bytes
FROM documents
""",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing, oracle-checked: payloads are REAL binary
    blobs (12-byte header + utf-8 body) built from the documents table,
    parsed back by the Arrow-batched header decoder; DuckDB predicts
    every output column from the text alone."""
    from quanta_contrib.operators.multimodal import decode_header, media_from_documents

    return decode_header(media_from_documents(spark.table("documents")))


# ---------------------------------------------------------------------------
# streaming queries run end-to-end inside the callable (real Structured
# Streaming over a temp parquet stream; oracle = batch SQL on the same
# derived transcripts). These prove streaming==batch parity in the
# driver's gate, not just in pytest.
# ---------------------------------------------------------------------------


# The streaming GATE queries below are test scaffolding: they funnel
# their (gate-sized) result through the driver so the DataFrame contract
# of queries() holds. The production path is start_pipeline -> sinks
# (exercised by tests/test_e2e_pipeline.py and bench.py). Cap the
# driver-side materialization so a future sf bump fails loudly with a
# clear error instead of silently OOMing the gate driver.
GATE_HARNESS_MAX_ROWS = 2_000_000


def _guard_gate_rows(n: int, what: str) -> None:
    if n > GATE_HARNESS_MAX_ROWS:
        raise RuntimeError(
            f"streaming gate harness {what} = {n} rows exceeds the "
            f"driver-side budget {GATE_HARNESS_MAX_ROWS}; run this sf "
            "through the sink-based path (start_pipeline + IdempotentSink) "
            "instead of the collect-based gate harness"
        )


def _write_transcript_stream(spark: SparkSession, jitter: bool) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _guard_gate_rows(transcripts_df(spark).count(), "input stream")
    pdf = transcripts_df(spark).toPandas()
    if jitter:
        # deterministic arrival jitter (minutes) well inside the watermark
        delay = (pdf["turn_idx"].to_numpy() % 7) * 60
        arrival = pdf["ts"].to_numpy() + delay.astype("timedelta64[s]")
    else:
        arrival = pdf["ts"].to_numpy()
    pdf = pdf.assign(_arr=arrival).sort_values("_arr", kind="mergesort").drop(columns="_arr")
    d = tempfile.mkdtemp(prefix="qs_stream_q_")
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
    idx = np.array_split(np.arange(len(pdf)), 8)
    paths = []
    for k, ix in enumerate(idx):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    # 8 parts written within one tick WOULD collide on ms mtimes and
    # replay in arbitrary order (FileStreamSource has no path tiebreak)
    # — the round-5 latent flake. Stamp arrival order explicitly.
    stamp_arrival_order(paths)
    return d


def _run_stream_query(
    spark: SparkSession,
    op,
    jitter: bool,
    heartbeat_in_output: bool = True,
    strip_heartbeat=None,
) -> DataFrame:
    """``heartbeat_in_output=False``: the operator's output carries no
    conv_id to filter the watermark-heartbeat row by, so the heartbeat
    is excluded at the SOURCE instead — valid for operators that emit
    rows eagerly (e.g. streaming dedup) and only use the watermark to
    evict state, never to release held results.

    ``strip_heartbeat`` (pdf -> pdf): for operators whose output has
    neither a conv_id column nor eager emission (e.g. windowed
    aggregates that NEED the heartbeat to advance the watermark and
    release held windows) — drops the heartbeat's own output rows by
    whatever predicate fits the schema."""
    import pandas as pd

    from quanta_spark.datagen import HEARTBEAT_CONV, write_heartbeat_file
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    data_dir = _write_transcript_stream(spark, jitter)
    ckpt = tempfile.mkdtemp(prefix="qs_stream_ckpt_")
    rows: list = []
    src = stream_transcripts_files(spark, data_dir, max_files_per_trigger=2, with_lineage=False)
    if not heartbeat_in_output:
        src = src.filter(F.col("conv_id") != HEARTBEAT_CONV)
    def _sink(b, i):
        rows.extend(b.collect())
        _guard_gate_rows(len(rows), "collected output")

    h = start_pipeline(op(src), _sink, ckpt)
    h.process_all_available()
    max_ts = pd.Timestamp(spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT max(ts) m FROM transcripts").first()["m"])
    write_heartbeat_file(data_dir, max_ts + pd.Timedelta(days=30))
    run_to_completion(h)
    out_pdf = pd.DataFrame([r.asDict() for r in rows])
    if strip_heartbeat is not None:
        out_pdf = strip_heartbeat(out_pdf)
    elif heartbeat_in_output:
        out_pdf = out_pdf[out_pdf["conv_id"] != HEARTBEAT_CONV]
    return spark.createDataFrame(out_pdf, schema=op(src).schema)


@query("q32_stream_sessionize", ORACLES.get("q13_session_windows"))
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.windows import sessionize

    return _run_stream_query(
        spark, lambda src: sessionize(src, gap="30 minutes", watermark="1 hour"), jitter=False
    )


@query("q33_stream_turn_order", ORACLES.get("q15_turn_order"))
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_spark.operators.stateful import enforce_turn_order

    return _run_stream_query(
        spark, lambda src: enforce_turn_order(src, watermark="1 hour"), jitter=True
    )


@query(
    "q34_reply_sessions",
    f"""
WITH {TRANSCRIPTS_CTE},
j AS (
  SELECT u.conv_id, u.turn_idx AS user_turn_idx, r.turn_idx AS reply_turn_idx,
         r.ts AS reply_ts, epoch(r.ts) - epoch(u.ts) AS lat
  FROM transcripts u
  JOIN transcripts r
    ON r.conv_id = u.conv_id AND r.turn_idx = u.turn_idx + 1
   AND r.ts >= u.ts AND r.ts <= u.ts + INTERVAL 30 MINUTE
  WHERE u.role = 'user' AND r.role IN ('assistant', 'tool')
),
d AS (
  SELECT *, CASE WHEN reply_ts - lag(reply_ts) OVER (PARTITION BY conv_id ORDER BY reply_ts)
                      <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
  FROM j
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY reply_ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM d
)
SELECT conv_id,
       min(reply_ts) AS session_start,
       max(reply_ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_replies,
       CAST(round(avg(lat) * 1000000) AS BIGINT) AS avg_latency_us,
       CAST(min(user_turn_idx) AS INT) AS first_user_turn,
       CAST(max(reply_turn_idx) AS INT) AS last_reply_turn
FROM s
GROUP BY conv_id, sess
""",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composite: stream-stream join -> session windows,
    batch flavor (the streaming flavor is the scaling-bench headline)."""
    from quanta_spark.operators.stateful import reply_session_stats

    return reply_session_stats(transcripts_df(spark))


sql_query(
    "q35_cube",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT coalesce(role, 'ALL') AS role,
       coalesce(tool, 'NONE') AS tool,
       count(*) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM transcripts
GROUP BY CUBE (role, tool)
""",
)

sql_query(
    "q36_intersect",
    """
SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
INTERSECT
SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
""",
)

sql_query(
    "q37_exists_semi",
    """
SELECT n_name, count(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
""",
)

sql_query(
    "q38_scalar_subquery",
    """
SELECT p_partkey, p_brand, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
FROM part p
WHERE CAST(round(p_retailprice * 100) AS BIGINT) >
      (SELECT CAST(round(avg(p2.p_retailprice) * 150) AS BIGINT)
       FROM part p2 WHERE p2.p_brand = p.p_brand)
""",
)


@query(
    "q39_pivot_roles",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS user,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS assistant,
       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS tool
FROM transcripts
GROUP BY conv_id
""",
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark)
    out = (
        t.groupBy("conv_id")
        .pivot("role", ["user", "assistant", "tool"])
        .count()
        .na.fill(0, ["user", "assistant", "tool"])
    )
    return out


@query(
    "q40_window_funcs",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       CAST(sum(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_chars,
       lead(role) OVER w AS next_role
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
""",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = transcripts_df(spark)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return t.select(
        "conv_id",
        "turn_idx",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
        ).alias("gap_us"),
        F.sum(F.length("text"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_chars"),
        F.lead("role").over(w).alias("next_role"),
    )


@query(
    "q41_asof_join",
    f"""
WITH {TRANSCRIPTS_CTE},
tools AS (
  SELECT conv_id, turn_idx AS tool_turn_idx, tool AS tool_name, ts AS tool_ts
  FROM transcripts WHERE role = 'tool'
),
users AS (
  SELECT conv_id AS u_conv_id, turn_idx AS user_turn_idx, ts AS user_ts
  FROM transcripts WHERE role = 'user'
)
SELECT t.conv_id, t.tool_turn_idx, t.tool_name, t.tool_ts,
       u.user_turn_idx, u.user_ts
FROM tools t
ASOF JOIN users u
  ON t.conv_id = u.u_conv_id AND t.tool_ts >= u.user_ts
WHERE t.tool_ts - u.user_ts <= INTERVAL 2 HOUR
""",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quanta_contrib.operators.asof import asof_join_tool_to_user

    return asof_join_tool_to_user(transcripts_df(spark), horizon="2 hours")


@query(
    "q42_approx_stats",
    """
SELECT count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_orderkey) AS n_orders,
       true AS approx_parts_ok,
       true AS approx_orders_ok,
       true AS p50_ok,
       true AS p99_ok
FROM lineitem
""",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL / quantile sketch) next to their
    exact counterparts. The sketches are engine-specific, so the gate
    hashes the EXACT columns and boolean |approx-exact| bound checks
    (rsd=0.02 HLL must land within 5%; percentile_approx accuracy=1e4
    must land inside the exact 49th..51st / 98.5th..99.5th percentile
    band) — the oracle asserts the bounds hold as literal ``true``."""
    li = spark.table("lineitem")
    exact_parts = F.count_distinct("l_partkey")
    exact_orders = F.count_distinct("l_orderkey")
    approx_parts = F.approx_count_distinct("l_partkey", 0.02)
    approx_orders = F.approx_count_distinct("l_orderkey", 0.02)
    pct = lambda q: F.percentile("l_extendedprice", F.lit(q))  # noqa: E731
    return li.agg(
        exact_parts.alias("n_parts"),
        exact_orders.alias("n_orders"),
        (F.abs(approx_parts - exact_parts) <= exact_parts * F.lit(0.05)).alias(
            "approx_parts_ok"
        ),
        (F.abs(approx_orders - exact_orders) <= exact_orders * F.lit(0.05)).alias(
            "approx_orders_ok"
        ),
        F.percentile_approx("l_extendedprice", 0.5, 10000)
        .between(pct(0.49), pct(0.51))
        .alias("p50_ok"),
        F.percentile_approx("l_extendedprice", 0.99, 10000)
        .between(pct(0.985), pct(0.995))
        .alias("p99_ok"),
    )


@query(
    "q44_real_media_decode",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS decoded_kind,
       CAST(16 + doc_id % 48 AS INT) AS width,
       CAST(16 + (doc_id * 3) % 48 AS INT) AS height,
       CASE WHEN doc_id % 2 = 0 THEN CAST(NULL AS INT)
            ELSE CAST(2 + doc_id % 7 AS INT) END AS n_frames,
       CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS BIGINT) AS n_samples,
       CAST(floor((doc_id % 256) / 255.0 * 1000 + 0.5) AS BIGINT) AS feature_milli
FROM documents
""",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary decode, oracle-checked end to end: actual BMP/QVID
    container bytes are built per doc_id (solid gray content), then
    the pure-numpy decoders parse them back — dimensions, frame counts
    and the mean-pixel statistic must equal what SQL predicts from
    doc_id arithmetic alone. Proves the decode path touches real
    pixels, not just headers."""
    from quanta_contrib.operators.multimodal import (
        decode_media,
        solid_media_from_documents,
    )

    return decode_media(solid_media_from_documents(spark.table("documents")))


@query(
    "q45_dedup_components",
    f"""
WITH RECURSIVE {_Q28_CTES},
pairs AS ({_Q28_SELECT}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
)
SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node
""",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components (iterative min-label
    propagation, one shuffle per round) — the step that turns pairwise
    evidence into dedup GROUPS. Oracle: DuckDB recursive CTE computing
    min reachable id over the same (oracle-re-derived) edge set."""
    from quanta_contrib.operators.dedup import dedup_components, minhash_near_dup_pairs

    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2")
    pairs = minhash_near_dup_pairs(docs2, threshold=0.8, hasher="md5")
    return dedup_components(pairs.select("doc_a", "doc_b"))


@query(
    "q63_dedup_pipeline",
    f"""
WITH RECURSIVE {_Q28_CTES},
pairs AS ({_Q28_SELECT}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node)
SELECT d.doc_id, md5(d.text) AS text_md5
FROM docs2 d
LEFT JOIN comp ON comp.doc_id = d.doc_id AND comp.component_id <> d.doc_id
WHERE comp.doc_id IS NULL
""",
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup dedup pipeline as one composed flow:
    MinHash/LSH candidate pairs -> exact-Jaccard verify -> connected
    components (large/small-star) -> SURVIVOR corpus (keep each
    component's min doc_id) via one anti-join. This is the second
    composite (q58 is filter->exact-dedup->sample->chunk); together
    they prove the operators COMPOSE, not just pass isolated gates.
    The oracle re-derives the entire chain in SQL, recursive CTE
    included."""
    from quanta_contrib.operators.dedup import dedup_components, minhash_near_dup_pairs

    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2")
    pairs = minhash_near_dup_pairs(docs2, threshold=0.8, hasher="md5")
    comps = dedup_components(pairs.select("doc_a", "doc_b"))
    removed = comps.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    return docs2.join(removed, "doc_id", "left_anti").select(
        "doc_id", F.md5(F.col("text")).alias("text_md5")
    )


from quanta_contrib.operators.text import CDC_MASK, CDC_MOD, CDC_POW, CDC_WINDOW

_CDC_SUM = " + ".join(
    f"c[i - {CDC_WINDOW} + {j + 1}] * {p}::BIGINT" for j, p in enumerate(CDC_POW)
)

_Q64_ORACLE = f"""
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
ch AS (
  SELECT doc_id, text, n,
         [ascii(substr(text, i, 1)) for i in generate_series(1, n)] AS c
  FROM t
),
e AS (
  SELECT doc_id, text, n,
         list_sort(list_distinct(list_append(
           CASE WHEN n >= {CDC_WINDOW}
                THEN [i for i in generate_series({CDC_WINDOW}, n)
                      if (({_CDC_SUM}) % {CDC_MOD}) % {CDC_MASK} = 0]
                ELSE CAST([] AS BIGINT[]) END,
           n))) AS e2
  FROM ch
),
x AS (
  SELECT doc_id, text, e2, unnest(generate_series(1, len(e2))) AS k FROM e
)
SELECT doc_id, CAST(k - 1 AS INT) AS chunk_idx,
       md5(substr(text,
                  CASE WHEN k = 1 THEN 1 ELSE e2[k - 1] + 1 END,
                  e2[k] - (CASE WHEN k = 1 THEN 0 ELSE e2[k - 1] END))) AS chunk_md5,
       CAST(e2[k] - (CASE WHEN k = 1 THEN 0 ELSE e2[k - 1] END) AS INT) AS n_chars
FROM x
"""


@query("q64_cdc_chunks", _Q64_ORACLE)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (polynomial ROLLING HASH boundaries):
    chunk fingerprints re-synchronize after insertions, the property
    fixed-size chunking lacks (tested). Pure codegen Column math; the
    oracle re-derives every boundary from the same shared power-sum
    constants."""
    from quanta_contrib.operators.text import cdc_chunks

    return cdc_chunks(spark.table("documents"))


_HEX16_DUCK = (
    "list_sum([CAST(strpos('0123456789abcdef', "
    "substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT) "
    "* (1::BIGINT << ((4 - j) * 4)) for j in generate_series(1, 4)])"
)

_Q65_CUT1 = int(0.9 * 65536)
_Q65_CUT2 = int((0.9 + 0.05) * 65536)

_Q65_ORACLE = f"""
SELECT doc_id, lang,
       CASE WHEN {_HEX16_DUCK} < {_Q65_CUT1} THEN 'train'
            WHEN {_HEX16_DUCK} < {_Q65_CUT2} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@query("q65_train_val_test_split", _Q65_ORACLE)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by md5-bucket
    range: disjoint + exhaustive by construction, stable across
    runs/engines/corpus growth, pure codegen filter-free expression
    (sampling.assign_splits)."""
    from quanta_contrib.operators.sampling import assign_splits

    return assign_splits(
        spark.table("documents").select("doc_id", "lang"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )


@query(
    "q46_stream_dedup",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT DISTINCT md5({DUCK_NORM}) AS fingerprint FROM transcripts
""",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup: each content fingerprint emitted once
    across all arrivals within the watermark
    (dropDuplicatesWithinWatermark, state evicted by event time).
    Duplicates separated by MORE than the watermark may legitimately
    re-emit (bounded state is the whole point), so for a deterministic
    oracle the gate variant uses a watermark spanning the entire
    input: the streamed fingerprint set then equals batch DISTINCT.
    Short-watermark eviction behavior is pinned in pytest instead."""
    from quanta_spark.operators.dedup import stream_dedup_exact

    return _run_stream_query(
        spark,
        lambda src: stream_dedup_exact(src, watermark="3650 days"),
        jitter=True,
        heartbeat_in_output=False,
    )


@query(
    "q47_sink_roundtrip",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, turn_idx, upper(text) AS text FROM transcripts
""",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once sink, value-checked in the gate: stream the
    derived transcripts through the uppercase stage into the
    idempotent batch-dir sink, COMPACT the batch dirs behind the
    atomic manifest, and read committed data back — every turn must
    match the batch oracle exactly (no dup, no loss, text
    transformed). This puts the sink+compaction commit protocol under
    the same value-level check as the operators."""
    from quanta_spark.operators.stages import apply_chain
    from quanta_spark.sinks.idempotent import IdempotentSink
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    data_dir = _write_transcript_stream(spark, jitter=False)
    sink = IdempotentSink(base_dir=tempfile.mkdtemp(prefix="qs_sink_rt_"))
    src = stream_transcripts_files(spark, data_dir, max_files_per_trigger=3)
    h = start_pipeline(
        apply_chain(src, ["uppercase"]), sink, tempfile.mkdtemp(prefix="qs_sink_rt_ckpt_")
    )
    run_to_completion(h)
    sink.compact(spark)
    return sink.read_data(spark).select("conv_id", "turn_idx", "text")




@query(
    "q48_stratified_sample",
    f"""
SELECT doc_id, lang, CAST({_HEX16_DUCK} AS INT) AS bucket16
FROM documents
WHERE {_HEX16_DUCK} <
      CASE lang WHEN 'en' THEN 32768
                WHEN 'de' THEN 16384 WHEN 'fr' THEN 16384 WHEN 'es' THEN 16384
                ELSE 8192 END
""",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling (training-data
    mixing): keep a row iff md5-bucket16(doc_id) < fraction * 65536.
    A pure filter — no shuffle, no RNG state, membership reproducible
    across runs and engines."""
    from quanta_contrib.operators.sampling import _hash16, deterministic_sample

    docs = spark.table("documents")
    out = deterministic_sample(
        docs,
        {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25},
        stratum_col="lang",
        id_col="doc_id",
        default_fraction=0.125,
    )
    return out.select(
        "doc_id", "lang", _hash16(F.col("doc_id")).alias("bucket16")
    )


@query(
    "q49_token_budget_mix",
    """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_ws_tokens
  FROM documents
),
r AS (
  SELECT *, sum(n_ws_tokens) OVER (PARTITION BY lang
                                   ORDER BY n_ws_tokens DESC, doc_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS running
  FROM t
)
SELECT doc_id, lang, n_ws_tokens FROM r WHERE running <= 2000
""",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum token-budget enforcement ("mix <= 2000 tokens of
    each language, biggest documents first") — the data-mixing step of
    a training pipeline. One shuffle (window per stratum)."""
    from quanta_contrib.operators.sampling import token_budget_per_stratum
    from quanta_contrib.operators.text import ws_token_count

    docs = spark.table("documents").select(
        "doc_id", "lang", ws_token_count(F.col("text")).alias("n_ws_tokens")
    )
    return token_budget_per_stratum(
        docs, budget=2000, stratum_col="lang", tokens_col="n_ws_tokens"
    )


@query(
    "q54_redact_pii",
    f"""
WITH {TRANSCRIPTS_CTE},
seeded AS (
  SELECT conv_id, turn_idx,
         concat(text, ' contact me at user', CAST(turn_idx AS VARCHAR),
                '@example.com or +1 (555) 010-', lpad(CAST(turn_idx AS VARCHAR), 4, '0'))
           AS text
  FROM transcripts
)
SELECT conv_id, turn_idx,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
         '\\+?[0-9][0-9 ()-]{{7,}}[0-9]', '[PHONE]', 'g') AS text
FROM seeded
""",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction through the STAGE CHAIN (stages.redact_pii_stage):
    every turn gets a synthetic email + phone appended (so redactions
    really happen on every row), then flows through the registered
    map stage; the oracle applies the same shared regexes with
    global replace. Exercises the second built-in plugin end to end
    at value level."""
    from quanta_spark.operators.stages import apply_chain

    seeded = transcripts_df(spark).select(
        "conv_id",
        "turn_idx",
        F.concat(
            F.col("text"),
            F.lit(" contact me at user"),
            F.col("turn_idx").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad(F.col("turn_idx").cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = apply_chain(seeded, ["redact_pii"])
    return out.select("conv_id", "turn_idx", "text")


@query(
    "q55_pooled_embeddings",
    """
SELECT label, i - 1 AS pos,
       CAST(round(avg(embedding[i]) * 10000) AS BIGINT) AS avg_bp
FROM (
  SELECT label, embedding,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
)
GROUP BY label, i
""",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled (mean) embeddings per label — the class-centroid /
    conversation-embedding aggregation of a training pipeline. Plan:
    posexplode -> groupBy(label, pos) partial-aggregates map-side, so
    the shuffle carries one partial per (label, pos, partition) — never
    the vectors themselves. Reported in basis points (proven integer
    trick) with pos 0-based."""
    emb = spark.table("embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")) * 10_000).cast("long").alias("avg_bp"))
        .select(F.col("label"), F.col("pos").cast("long").alias("pos"), "avg_bp")
    )


_Q56_CENT_ORDER = "md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC"

_Q56_ORACLE = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY {_Q56_CENT_ORDER}) - 1 AS BIGINT) AS cell_id,
         embedding AS c_emb
  FROM embeddings
  ORDER BY {_Q56_CENT_ORDER}
  LIMIT 16
),
asg AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(c.c_emb AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM embeddings e, cents c
),
cell AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim_bp DESC, cell_id ASC) AS rk
    FROM asg
  ) t WHERE rk = 1
),
qp AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim_bp DESC, cell_id ASC) AS rk
    FROM asg WHERE vec_id % 50 = 0 AND vec_id < 2500
  ) t WHERE rk <= 4
),
scored AS (
  SELECT qp.query_id, c.vec_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(qp.q_emb AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM qp JOIN cell c ON c.cell_id = qp.cell_id AND c.vec_id <> qp.query_id
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, sim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, vec_id ASC) AS rk
  FROM scored
) t
WHERE rk <= 5
"""


@query("q56_ivf_cosine_topk", _Q56_ORACLE)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: deterministic md5-least coarse centroids, single-
    cell corpus assignment, nprobe-cell query probing, exact cosine on
    candidates only. The inverted-file complement of q30's LSH path —
    candidates shrink to ~nprobe/n_cells of the corpus and arrive via
    a cell_id equi-join (the partition-prunable shape at 10^12 rows).
    The oracle re-derives centroids, assignment and probing from the
    same md5 order. Query budget fixed at <=50 (vec_id < 2500)."""
    from quanta_contrib.operators.similarity import ivf_cosine_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return ivf_cosine_topk(emb, queries_df, k=5, n_cells=16, nprobe=4)


_Q57_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127.0,
                  1e-12) AS scale
  FROM embeddings
),
qs AS (
  SELECT vec_id, embedding, scale,
         [CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) for x in embedding] AS q
  FROM s
)
SELECT vec_id,
       CAST(floor(scale * 1000000 + 0.5) AS BIGINT) AS scale_ppm,
       CAST(list_sum(q) AS BIGINT) AS qsum,
       CAST(list_sum([q[i] * i for i in generate_series(1, len(q))]) AS BIGINT) AS qdot,
       CAST(floor(list_max([abs(CAST(embedding[i] AS DOUBLE) - q[i] * scale)
                            for i in generate_series(1, len(q))]) * 1000000 + 0.5)
            AS BIGINT) AS max_err_ppm
FROM qs
"""


@query("q57_quantize_embeddings", _Q57_ORACLE)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the 4x storage cut for
    an embedding corpus) with bit-reproducible codes: q_i =
    floor(x_i/scale + 0.5) is the same IEEE-double expression in both
    engines, so codes, checksums and the reconstruction-error bound
    hash-match exactly — no rounding-rule ambiguity. Pure codegen
    Column math, zero shuffle, zero Python."""
    from quanta_contrib.operators.similarity import quantize_int8

    qd = quantize_int8(spark.table("embeddings"))
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    qsum = F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, v: a + v.cast("long"))
    qdot = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.sequence(F.lit(1), F.size(F.col("q"))),
            lambda v, i: v.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    max_err = F.array_max(
        F.zip_with(xd, F.col("q"), lambda x, v: F.abs(x - v.cast("double") * F.col("scale")))
    )
    return qd.select(
        "vec_id",
        F.floor(F.col("scale") * 1_000_000 + F.lit(0.5)).cast("long").alias("scale_ppm"),
        qsum.alias("qsum"),
        qdot.alias("qdot"),
        F.floor(max_err * 1_000_000 + F.lit(0.5)).cast("long").alias("max_err_ppm"),
    )


_Q58_ORACLE = f"""
WITH kept AS (
  SELECT doc_id, lang, text FROM documents
  WHERE length(text) >= 64
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 10
    AND round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
              / greatest(length(text), 1), 4) <= 0.3
),
ded AS (
  SELECT doc_id, lang, text FROM (
    SELECT k.*, row_number() OVER (PARTITION BY md5({DUCK_NORM}) ORDER BY doc_id) AS rn
    FROM kept k
  ) t WHERE rn = 1
),
samp AS (
  SELECT doc_id, lang, text FROM ded
  WHERE {_HEX16_DUCK} <
        CASE lang WHEN 'en' THEN 32768
                  WHEN 'de' THEN 16384 WHEN 'fr' THEN 16384 WHEN 'es' THEN 16384
                  ELSE 8192 END
),
t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM samp),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(floor((len(toks) - 1) / 18) AS INT))) AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[chunk_idx * 18 + 1 : chunk_idx * 18 + 24], ' ') AS chunk_text,
       CAST(least(24, len(toks) - chunk_idx * 18) AS INT) AS n_chunk_tokens
FROM c
"""


@query("q58_training_pipeline", _Q58_ORACLE)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline as ONE composed plan:
    quality filter -> exact dedup (keep first) -> per-language
    stratified sample -> context-window chunking. The stage order is
    the scale order — the codegen quality filter and the md5-bucket
    sample are shuffle-free row reducers, so the ONLY shuffle in the
    whole pipeline is the dedup fingerprint window, and it runs on
    pre-filtered data; chunk explode is the only fan-out. At 100 TB
    this is the plan you want: scan -> filter -> one exchange ->
    filter -> explode, no joins, no collects."""
    from quanta_contrib.operators.dedup import exact_dedup_keep_first
    from quanta_contrib.operators.sampling import deterministic_sample
    from quanta_contrib.operators.text import chunk_documents, quality_keep

    docs = spark.table("documents").select("doc_id", "lang", "text")
    kept = docs.filter(quality_keep("text"))
    ded = exact_dedup_keep_first(kept)
    samp = deterministic_sample(
        ded,
        {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25},
        stratum_col="lang",
        default_fraction=0.125,
    )
    return chunk_documents(samp, chunk_tokens=24, overlap=6)


_Q59_TIER_DUCK = (
    "list_sum([CAST(strpos('0123456789abcdef', substr(md5(conv_id), j, 1)) - 1 AS BIGINT)"
    " * (1::BIGINT << ((4 - j) * 4)) for j in generate_series(1, 4)]) % 4"
)

_Q59_ORACLE = f"""
WITH {TRANSCRIPTS_CTE},
dim AS (
  SELECT conv_id, CAST({_Q59_TIER_DUCK} AS INT) AS tier
  FROM (SELECT DISTINCT conv_id FROM transcripts) d
)
SELECT t.conv_id, t.turn_idx, t.role, dim.tier
FROM transcripts t JOIN dim USING (conv_id)
"""


@query("q59_stream_static_enrich", _Q59_ORACLE)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment join — the dimension-lookup
    shape of a production stream (user tier, account flags, model
    routing). The static dim broadcasts into every micro-batch task,
    so the 10^12-row stream side NEVER shuffles for the join and no
    state store is involved (stateless append). Value-checked row-for-
    row against the batch join oracle via the streaming harness."""
    from quanta_contrib.operators.sampling import _hash16

    dim = (
        transcripts_df(spark)
        .select("conv_id")
        .distinct()
        .select(
            "conv_id", (_hash16(F.col("conv_id")) % 4).cast("int").alias("tier")
        )
    )

    def op(src):
        return src.join(F.broadcast(dim), "conv_id").select(
            "conv_id", "turn_idx", "role", "tier"
        )

    return _run_stream_query(spark, op, jitter=False)


_Q60_DMIC = (
    "CAST(floor(list_sum([ (CAST({v}[t.s * 8 + i] AS DOUBLE) - CAST(c.c_emb[t.s * 8 + i] AS DOUBLE))"
    " * (CAST({v}[t.s * 8 + i] AS DOUBLE) - CAST(c.c_emb[t.s * 8 + i] AS DOUBLE))"
    " for i in generate_series(1, 8)]) * 1000000 + 0.5) AS BIGINT)"
)

_Q60_ORACLE = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY {_Q56_CENT_ORDER}) - 1 AS BIGINT) AS cid,
         embedding AS c_emb
  FROM embeddings
  ORDER BY {_Q56_CENT_ORDER}
  LIMIT 16
),
vd AS (
  SELECT e.vec_id, t.s, c.cid, {_Q60_DMIC.format(v='e.embedding')} AS dmic
  FROM embeddings e, generate_series(0, 7) t(s), cents c
),
codes AS (
  SELECT vec_id, s, cid AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dmic ASC, cid ASC) AS rk
    FROM vd
  ) z WHERE rk = 1
),
qd AS (
  SELECT e.vec_id AS query_id, t.s, c.cid, {_Q60_DMIC.format(v='e.embedding')} AS dmic
  FROM embeddings e, generate_series(0, 7) t(s), cents c
  WHERE e.vec_id % 50 = 0 AND e.vec_id < 2500
),
scored AS (
  SELECT qd.query_id, codes.vec_id, CAST(sum(qd.dmic) AS BIGINT) AS adist_micro
  FROM codes JOIN qd ON qd.s = codes.s AND qd.cid = codes.code
  WHERE codes.vec_id <> qd.query_id
  GROUP BY qd.query_id, codes.vec_id
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, adist_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist_micro ASC, vec_id ASC) AS rk
  FROM scored
) t
WHERE rk <= 5
"""


@query("q60_pq_adc_topk", _Q60_ORACLE)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + ADC top-k: 64-dim float vectors compress
    to 8 one-byte codes (32x — the memory-bound ANN path at 10^12
    vectors); queries scan CODES, not vectors, via per-query lookup
    tables of micro-int subspace distances. Codebooks are the same
    deterministic md5-least selection as IVF, and all distances are
    fixed-point integers, so the SQL oracle re-derives codebooks,
    codes, LUTs and the full ranking exactly. Query budget <=50."""
    from quanta_contrib.operators.similarity import pq_adc_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return pq_adc_topk(emb, queries_df, k=5, n_sub=8, n_cent=16)


_Q66_ORACLE = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY {_Q56_CENT_ORDER}) - 1 AS BIGINT) AS cid,
         embedding AS c_emb
  FROM embeddings
  ORDER BY {_Q56_CENT_ORDER}
  LIMIT 16
),
vd AS (
  SELECT e.vec_id, t.s, c.cid, {_Q60_DMIC.format(v='e.embedding')} AS dmic
  FROM embeddings e, generate_series(0, 7) t(s), cents c
),
codes AS (
  SELECT vec_id, s, cid AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dmic ASC, cid ASC) AS rk
    FROM vd
  ) z WHERE rk = 1
),
qd AS (
  SELECT e.vec_id AS query_id, t.s, c.cid, {_Q60_DMIC.format(v='e.embedding')} AS dmic
  FROM embeddings e, generate_series(0, 7) t(s), cents c
  WHERE e.vec_id % 50 = 0 AND e.vec_id < 2500
),
adc AS (
  SELECT qd.query_id, codes.vec_id, CAST(sum(qd.dmic) AS BIGINT) AS adist_micro
  FROM codes JOIN qd ON qd.s = codes.s AND qd.cid = codes.code
  WHERE codes.vec_id <> qd.query_id
  GROUP BY qd.query_id, codes.vec_id
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist_micro ASC, vec_id ASC) AS rk
    FROM adc
  ) z WHERE rk <= 50
),
rer AS (
  SELECT s.query_id, s.vec_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(q.embedding AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM short s
  JOIN embeddings c ON c.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.query_id
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, sim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, vec_id ASC) AS rk
  FROM rer
) t
WHERE rk <= 5
"""


@query("q66_pq_rerank_topk", _Q66_ORACLE)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN — PQ+ADC shortlist then exact cosine rerank of
    only the shortlisted raw vectors (|queries| x shortlist fetch,
    independent of corpus size). bench_ann_recall.py measured this as
    the best accuracy/IO point (5.2x recall lift at 10% fetch); the
    oracle re-derives codebooks, codes, LUTs, the integer shortlist AND
    the bp-rounded cosine rerank, so the whole two-stage ranking
    hash-matches."""
    from quanta_contrib.operators.similarity import pq_rerank_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return pq_rerank_topk(emb, queries_df, k=5, shortlist=50, n_sub=8, n_cent=16)


@query(
    "q61_full_outer_replies",
    f"""
WITH {TRANSCRIPTS_CTE},
u AS (SELECT conv_id, turn_idx, ts FROM transcripts WHERE role = 'user'),
r AS (SELECT conv_id, turn_idx, role, ts FROM transcripts WHERE role IN ('assistant', 'tool'))
SELECT coalesce(u.conv_id, r.conv_id) AS conv_id,
       u.turn_idx AS user_turn_idx, u.ts AS user_ts,
       r.turn_idx AS reply_turn_idx, r.role AS reply_role, r.ts AS reply_ts,
       CASE WHEN u.turn_idx IS NOT NULL AND r.turn_idx IS NOT NULL THEN 'matched'
            WHEN r.turn_idx IS NULL THEN 'unanswered'
            ELSE 'orphan' END AS kind
FROM u FULL JOIN r
  ON r.conv_id = u.conv_id
 AND r.turn_idx = u.turn_idx + 1
 AND r.ts >= u.ts AND r.ts <= u.ts + INTERVAL 30 MINUTE
""",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER user/reply join — matched turns, unanswered user
    turns AND orphan replies (fragments with no qualifying preceding
    user turn) in one result; completes the stream-stream join-type
    family. Streaming flavor drains both unmatched sides after the
    watermark (test_stateful.py); this is the batch/oracle path."""
    from quanta_spark.operators.stateful import join_user_replies_full

    return join_user_replies_full(transcripts_df(spark), max_reply_delay="30 minutes")


@query(
    "q62_cep_sequence",
    f"""
WITH {TRANSCRIPTS_CTE},
x AS (
  SELECT conv_id, turn_idx, role,
         lead(role, 1) OVER w AS r1, lead(role, 2) OVER w AS r2,
         lead(turn_idx, 1) OVER w AS t1, lead(turn_idx, 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS start_turn, CAST(3 AS INT) AS match_len
FROM x
WHERE role = 'user' AND r1 = 'tool' AND r2 = 'user'
  AND t1 = turn_idx + 1 AND t2 = turn_idx + 2
""",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence pattern (MATCH_RECOGNIZE-style): find every
    contiguous user -> tool -> user triple (a tool call the user
    follows up on) per conversation. One shuffle + lead() codegen —
    never k-1 self-joins (stateful.match_sequence)."""
    from quanta_spark.operators.stateful import match_sequence

    return match_sequence(
        transcripts_df(spark),
        steps=[
            lambda c: c["role"] == "user",
            lambda c: c["role"] == "tool",
            lambda c: c["role"] == "user",
        ],
    )


@query(
    "q67_cep_kleene",
    f"""
WITH {TRANSCRIPTS_CTE},
k AS (
  SELECT conv_id, turn_idx, split_part(text, ' ', 1) AS kind FROM transcripts
),
x AS (
  SELECT conv_id, turn_idx, kind AS k0,
         lead(kind, 1) OVER w AS k1, lead(kind, 2) OVER w AS k2,
         lead(kind, 3) OVER w AS k3, lead(kind, 4) OVER w AS k4,
         lead(turn_idx, 1) OVER w AS t1, lead(turn_idx, 2) OVER w AS t2,
         lead(turn_idx, 3) OVER w AS t3, lead(turn_idx, 4) OVER w AS t4
  FROM k
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
m AS (
  SELECT conv_id, turn_idx AS start_turn,
    CASE
      WHEN k0='view' AND k1='click' AND k2='click' AND k3='click' AND k4='purchase'
           AND t1=turn_idx+1 AND t2=turn_idx+2 AND t3=turn_idx+3 AND t4=turn_idx+4 THEN 5
      WHEN k0='view' AND k1='click' AND k2='click' AND k3='purchase'
           AND t1=turn_idx+1 AND t2=turn_idx+2 AND t3=turn_idx+3 THEN 4
      WHEN k0='view' AND k1='click' AND k2='purchase'
           AND t1=turn_idx+1 AND t2=turn_idx+2 THEN 3
    END AS match_len
  FROM x
)
SELECT conv_id, start_turn, CAST(match_len AS INT) AS match_len
FROM m WHERE match_len IS NOT NULL
""",
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP with a bounded Kleene quantifier: the funnel pattern
    view -> click{{1,3}} -> purchase over per-conversation turn order,
    GREEDY (longest run wins per start). The quantified pattern expands
    to three fixed-length lead() variants over ONE window — one shuffle
    total regardless of pattern size (stateful.match_sequence_kleene)."""
    from quanta_spark.operators.stateful import match_sequence_kleene

    t = transcripts_df(spark).withColumn("kind", F.split("text", " ")[0])
    return match_sequence_kleene(
        t,
        steps=[
            lambda c: c["kind"] == "view",
            (lambda c: c["kind"] == "click", 1, 3),
            lambda c: c["kind"] == "purchase",
        ],
        cols=("kind",),
    )


@query(
    "q68_cep_within",
    f"""
WITH {TRANSCRIPTS_CTE},
k AS (
  SELECT conv_id, turn_idx, split_part(text, ' ', 1) AS kind, ts FROM transcripts
),
x AS (
  SELECT conv_id, turn_idx, kind AS k0, ts,
         lead(kind, 1) OVER w AS k1, lead(kind, 2) OVER w AS k2,
         lead(kind, 3) OVER w AS k3, lead(kind, 4) OVER w AS k4,
         lead(turn_idx, 1) OVER w AS t1, lead(turn_idx, 2) OVER w AS t2,
         lead(turn_idx, 3) OVER w AS t3, lead(turn_idx, 4) OVER w AS t4,
         lead(ts, 2) OVER w AS ts2, lead(ts, 3) OVER w AS ts3,
         lead(ts, 4) OVER w AS ts4
  FROM k
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
m AS (
  SELECT conv_id, turn_idx AS start_turn,
    CASE
      WHEN k0='view' AND k1='click' AND k2='click' AND k3='click' AND k4='purchase'
           AND t1=turn_idx+1 AND t2=turn_idx+2 AND t3=turn_idx+3 AND t4=turn_idx+4
           AND ts4 - ts <= INTERVAL '24 hours' THEN 5
      WHEN k0='view' AND k1='click' AND k2='click' AND k3='purchase'
           AND t1=turn_idx+1 AND t2=turn_idx+2 AND t3=turn_idx+3
           AND ts3 - ts <= INTERVAL '24 hours' THEN 4
      WHEN k0='view' AND k1='click' AND k2='purchase'
           AND t1=turn_idx+1 AND t2=turn_idx+2
           AND ts2 - ts <= INTERVAL '24 hours' THEN 3
    END AS match_len
  FROM x
)
SELECT conv_id, start_turn, CAST(match_len AS INT) AS match_len
FROM m WHERE match_len IS NOT NULL
""",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP WITHIN clause: the q67 funnel additionally bounded to a
    24-hour event-time span between first and last matched turn (per
    GREEDY variant — an over-long len-4 match can fall back to a
    tighter len-3). Same one-shuffle lead() plan; the span check is
    two already-materialized columns and an interval literal."""
    from quanta_spark.operators.stateful import match_sequence_kleene

    t = transcripts_df(spark).withColumn("kind", F.split("text", " ")[0])
    return match_sequence_kleene(
        t,
        steps=[
            lambda c: c["kind"] == "view",
            (lambda c: c["kind"] == "click", 1, 3),
            lambda c: c["kind"] == "purchase",
        ],
        cols=("kind",),
        within="24 hours",
    )


_Q69_TERMS = ("join", "vector", "stream")
_Q69_K1, _Q69_B = 1.2, 0.75

_Q69_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({DUCK_NORM}, ' ')) AS tok FROM documents
),
toks2 AS (SELECT * FROM toks WHERE tok <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM toks2 GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks2
  WHERE tok IN {_Q69_TERMS!r}
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
SELECT tf.doc_id,
       CAST(floor(sum(
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         * (tf * ({_Q69_K1} + 1)) / (tf + {_Q69_K1} * (1 - {_Q69_B} + {_Q69_B} * dl.dl / avgdl))
       ) * 10000 + 0.5) AS BIGINT) AS score_bp,
       CAST(count(*) AS INT) AS n_terms_hit
FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY tf.doc_id
"""


@query("q69_bm25_scores", _Q69_ORACLE)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring against a fixed query-term set — the
    standard retrieval score used to mine topical training data from a
    crawl. The isin filter prunes the corpus token stream BEFORE its
    shuffle; corpus scalars (N, avgdl) ride a broadcast 1-row
    crossJoin, never a driver collect. bp-floored scores hash-match
    the DuckDB oracle exactly."""
    from quanta_contrib.operators.text import bm25_scores

    return bm25_scores(
        spark.table("documents"), list(_Q69_TERMS), k1=_Q69_K1, b=_Q69_B
    )


@query(
    "q70_token_percentiles",
    """
WITH t AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(quantile_cont(n_tokens, 0.5) * 10000 + 0.5) AS BIGINT) AS p50_bp,
       CAST(floor(quantile_cont(n_tokens, 0.9) * 10000 + 0.5) AS BIGINT) AS p90_bp,
       CAST(floor(quantile_cont(n_tokens, 0.99) * 10000 + 0.5) AS BIGINT) AS p99_bp
FROM t GROUP BY lang
""",
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-stratum percentiles of document token counts (the
    length-distribution report every data-curation run starts with).
    Spark's `percentile` and DuckDB's `quantile_cont` share the
    linear-interpolation definition, so bp-floored values hash-match.
    Exact percentile is a sort-based agg — fine per stratum; the
    sketch-based alternative for 10^12 rows is approx_percentile over
    the same plan shape."""
    from quanta_contrib.operators.text import ws_token_count

    t = spark.table("documents").select(
        "lang", ws_token_count(F.col("text")).cast("double").alias("n_tokens")
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.floor(F.expr("percentile(n_tokens, 0.5)") * 10000 + F.lit(0.5))
        .cast("long").alias("p50_bp"),
        F.floor(F.expr("percentile(n_tokens, 0.9)") * 10000 + F.lit(0.5))
        .cast("long").alias("p90_bp"),
        F.floor(F.expr("percentile(n_tokens, 0.99)") * 10000 + F.lit(0.5))
        .cast("long").alias("p99_bp"),
    )


@query(
    "q71_cep_stream",
    f"""
WITH {TRANSCRIPTS_CTE},
k AS (
  SELECT conv_id, turn_idx, split_part(text, ' ', 1) AS kind FROM transcripts
),
x AS (
  SELECT conv_id, turn_idx, kind AS k0,
         lead(kind, 1) OVER w AS k1, lead(kind, 2) OVER w AS k2,
         lead(turn_idx, 1) OVER w AS t1, lead(turn_idx, 2) OVER w AS t2
  FROM k
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS start_turn, CAST(3 AS INT) AS match_len
FROM x
WHERE k0='view' AND k1='click' AND k2='purchase'
  AND t1=turn_idx+1 AND t2=turn_idx+2
""",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP: the view->click->purchase funnel detected inside
    one stateful operator (match_sequence_stream = turn-order buffering
    fused with the pattern scan; an L-1 released-turn tail makes every
    found match end in newly released turns, so emission is exactly-
    once with no emitted-set bookkeeping). Runs as real Structured
    Streaming with jittered arrival through the gate harness; the
    oracle is the batch lead()-window SQL."""
    from quanta_spark.operators.stateful import match_sequence_stream

    steps = [
        lambda v: v == "view",
        lambda v: v == "click",
        lambda v: v == "purchase",
    ]

    def op(src):
        return match_sequence_stream(
            src.withColumn("kind", F.split("text", " ")[0]),
            steps,
            pattern_col="kind",
            watermark="1 hour",
        )

    return _run_stream_query(spark, op, jitter=True)


@query(
    "q72_session_labels",
    f"""
WITH {TRANSCRIPTS_CTE},
s AS (
  SELECT conv_id, turn_idx,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx,
       CAST(sum(is_new) OVER (
         PARTITION BY conv_id ORDER BY turn_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) - 1 AS INT) AS session_idx
FROM s
""",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn session labels (row-level sessionization): lag-gap +
    running-sum over one conv_id shuffle — the way session ids attach
    to 10^12 turns without joining back to session aggregates.
    Microsecond-integer gap comparison keeps both engines exact."""
    from quanta_contrib.operators.windows import label_sessions

    return label_sessions(transcripts_df(spark), gap="30 minutes").select(
        "conv_id", "turn_idx", "session_idx"
    )


@query("q73_cep_stream_kleene", ORACLES.get("q68_cep_within"))
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Kleene CEP with a WITHIN bound: the q68 pattern
    (view -> click{{1,3}} -> purchase, 24h span, greedy) detected by
    the stateful streaming matcher under jittered arrival. Greedy
    correctness on a stream needs the decided-starts protocol: a start
    is judged only when the longest variant's window is released or
    the watermark passed its span bound — at drain this equals the
    batch greedy CASE exactly (shared q68 oracle)."""
    from quanta_spark.operators.stateful import match_sequence_stream

    steps = [
        lambda v: v == "view",
        (lambda v: v == "click", 1, 3),
        lambda v: v == "purchase",
    ]

    def op(src):
        return match_sequence_stream(
            src.withColumn("kind", F.split("text", " ")[0]),
            steps,
            pattern_col="kind",
            watermark="1 hour",
            within="24 hours",
        )

    return _run_stream_query(spark, op, jitter=True)


@query(
    "q74_repetition_ratio",
    f"""
WITH t AS (
  SELECT doc_id, string_split({DUCK_NORM}, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i : i + 2], ' ')
                    for i in generate_series(1, len(toks) - 2)]
              ELSE []::VARCHAR[] END AS grams
  FROM t
)
SELECT doc_id,
       CAST(len(grams) AS INT) AS n_grams,
       CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
       CAST(floor((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                         / greatest(len(grams), 1)) * 10000 + 0.5) AS BIGINT)
         AS dup_ratio_bp
FROM g
""",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio (duplicate word-3-gram fraction
    — the Gopher-rules boilerplate signal). Zero shuffles: token array
    materialized behind the exchange barrier, then pure per-row array
    codegen; bp-floored ratio hash-matches DuckDB."""
    from quanta_contrib.operators.text import repetition_ratio

    return repetition_ratio(spark.table("documents"), n=3)


@query(
    "q75_outlier_docs",
    """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x
  FROM documents
),
med AS (SELECT lang, quantile_cont(x, 0.5) AS m FROM t GROUP BY lang),
d AS (SELECT t.*, med.m FROM t JOIN med USING (lang)),
mad AS (SELECT lang, quantile_cont(abs(x - m), 0.5) AS md FROM d GROUP BY lang)
SELECT d.doc_id, d.lang,
       CAST(d.x AS BIGINT) AS value,
       CAST(floor(d.m * 10000 + 0.5) AS BIGINT) AS median_bp,
       CAST(floor(mad.md * 10000 + 0.5) AS BIGINT) AS mad_bp,
       abs(d.x - d.m) > 3.0 * mad.md AS is_outlier
FROM d JOIN mad USING (lang)
""",
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum robust outlier flags (median/MAD, k=3) over
    document token counts — the heavy-tail-safe length filter of a
    curation pipeline. Stats rows == #strata, broadcast back; the
    corpus never shuffles. Exact interpolation percentiles make the
    booleans cross-engine deterministic."""
    from quanta_contrib.operators.sampling import robust_outliers
    from quanta_contrib.operators.text import ws_token_count

    return robust_outliers(
        spark.table("documents"), ws_token_count(F.col("text")), stratum_col="lang"
    )


@query(
    "q52_hll_merge",
    """
SELECT lang,
       count(DISTINCT text) AS exact_distinct,
       true AS merge_matches_whole,
       true AS merged_within_bound
FROM documents GROUP BY lang
""",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (operators/sketches.py): per
    language, HLL sketches built per shard (doc_id % 4) and UNIONED
    must estimate within 5% of one whole-corpus sketch (merge
    soundness — what makes storing per-day sketches and merging at
    read time work; NOT bit-equality, see sketches.py) and within 5%
    of exact. Exact values + boolean bounds keep the oracle portable
    (q42 trick)."""
    from quanta_contrib.operators.sketches import mergeable_distinct_check

    docs = spark.table("documents")
    return mergeable_distinct_check(
        docs, "lang", F.col("text"), F.pmod(F.col("doc_id"), F.lit(4))
    )


_Q51_ORACLE = """
WITH nd AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
),
bench AS (
  SELECT array_to_string(list_slice(string_split(t, ' '), 1, 12), ' ') AS t
  FROM nd WHERE doc_id % 50 = 0
),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(
           list_slice(string_split(t, ' '), i, i + 7), ' ') AS gram
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, len(string_split(t, ' ')) - 7)) AS i
    FROM nd
  )
),
bg AS (
  SELECT DISTINCT array_to_string(
           list_slice(string_split(t, ' '), i, i + 7), ' ') AS gram
  FROM (
    SELECT t, unnest(generate_series(1, len(string_split(t, ' ')) - 7)) AS i
    FROM bench
  )
),
hits AS (
  SELECT cg.doc_id, count(DISTINCT cg.gram) AS n_contaminated_grams
  FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id
)
SELECT nd.doc_id,
       CAST(coalesce(h.n_contaminated_grams, 0) AS BIGINT) AS n_contaminated_grams,
       coalesce(h.n_contaminated_grams, 0) > 0 AS contaminated
FROM nd LEFT JOIN hits h USING (doc_id)
"""


@query("q51_decontaminate", _Q51_ORACLE)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: flag documents sharing any word
    8-gram with a benchmark set (here: the 12-token prefixes of every
    50th document, so ~2% of the corpus is contaminated by
    construction). Broadcast gram join — one corpus scan + explode,
    no corpus-sized shuffle (text.decontaminate)."""
    from quanta_spark.operators.dedup import normalized
    from quanta_contrib.operators.text import decontaminate

    docs = spark.table("documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.array_join(
            F.slice(F.split(normalized(F.col("text")), " "), 1, 12), " "
        ).alias("text")
    )
    return decontaminate(docs, bench, n=8)


@query(
    "q50_chunk_documents",
    """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(floor((len(toks) - 1) / 12) AS INT))) AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[chunk_idx * 12 + 1 : chunk_idx * 12 + 16], ' ') AS chunk_text,
       CAST(least(16, len(toks) - chunk_idx * 12) AS INT) AS n_chunk_tokens
FROM c
""",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 16-token chunks with 4-token overlap
    (step 12), one row per chunk, exact text reassembly — the fan-out
    step that prepares documents for fixed-window training."""
    from quanta_contrib.operators.text import chunk_documents

    return chunk_documents(spark.table("documents"), chunk_tokens=16, overlap=4)


@query(
    "q43_embedding_neardup",
    """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
""",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT, fully distributed:
    block-pair replication + per-group numpy matmul (see
    similarity.exact_allpairs_cosine). Nothing is collected to or
    broadcast from the driver, so the plan survives a 100x corpus.
    Threshold on the raw double (matching the oracle), reported in
    basis points. The LSH variant (q30) is the sublinear path; this is
    its exactness baseline."""
    from quanta_contrib.operators.similarity import exact_allpairs_cosine

    emb = spark.table("embeddings").select("vec_id", "embedding")
    # n_blocks auto-derived from corpus count x dim so per-task memory
    # stays under the target at any scale (similarity.auto_n_blocks)
    return exact_allpairs_cosine(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# round 4 (this session): training-batch packing, CMS heavy hitters,
# weighted sampling, bigram LM scoring, dialogue ops
# ---------------------------------------------------------------------------


@query(
    "q76_pack_turns",
    f"""
WITH RECURSIVE {TRANSCRIPTS_CTE},
tok AS (
  SELECT conv_id, turn_idx,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ntok
  FROM transcripts
),
r AS (
  SELECT conv_id, turn_idx, ntok, 0 AS pack_idx, ntok AS fill
  FROM tok WHERE turn_idx = 0
  UNION ALL
  SELECT t.conv_id, t.turn_idx, t.ntok,
         CASE WHEN r.fill > 0 AND r.fill + t.ntok > 64
              THEN r.pack_idx + 1 ELSE r.pack_idx END,
         CASE WHEN r.fill > 0 AND r.fill + t.ntok > 64
              THEN t.ntok ELSE r.fill + t.ntok END
  FROM r JOIN tok t ON t.conv_id = r.conv_id AND t.turn_idx = r.turn_idx + 1
)
SELECT conv_id, turn_idx, ntok, CAST(pack_idx AS INT) AS pack_idx FROM r
""",
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: next-fit turns into
    64-token packs per conversation (packing.pack_turns — JVM
    aggregate-fold, one conv_id shuffle, zero Python). The oracle
    re-derives the same next-fit recurrence with a DuckDB recursive
    CTE, so pack assignments hash-match exactly."""
    from quanta_contrib.operators.packing import pack_turns

    return pack_turns(transcripts_df(spark), budget=64)


def _md5int7(expr: str) -> str:
    """DuckDB twin of Spark ``conv(substr(md5(x),1,7),16,10)``."""
    return (
        "list_sum([CAST(strpos('0123456789abcdef', "
        f"substr(md5({expr}), j, 1)) - 1 AS BIGINT) "
        "* (1::BIGINT << ((7 - j) * 4)) for j in generate_series(1, 7)])"
    )


_Q77_ORACLE = f"""
WITH t AS (
  SELECT string_split({DUCK_NORM}, ' ') AS a FROM documents
),
g AS (
  SELECT array_to_string(a[i : i + 2], ' ') AS gram
  FROM (SELECT a, unnest(generate_series(1, len(a) - 2)) AS i FROM t)
),
r AS (SELECT unnest(generate_series(0, 3)) AS row_i),
c AS (
  SELECT row_i, {_md5int7("concat(row_i::VARCHAR, ':', gram)")} % 8192 AS slot,
         count(*) AS cnt
  FROM g CROSS JOIN r GROUP BY 1, 2
),
dg AS (SELECT DISTINCT gram FROM g),
ph AS (
  SELECT gram, row_i,
         {_md5int7("concat(row_i::VARCHAR, ':', gram)")} % 8192 AS slot
  FROM dg CROSS JOIN r
),
est AS (
  SELECT ph.gram, min(c.cnt) AS cms_estimate
  FROM ph JOIN c USING (row_i, slot) GROUP BY ph.gram
),
cand AS (SELECT * FROM est WHERE cms_estimate >= 5),
ex AS (
  SELECT g.gram, count(*) AS exact_count
  FROM g JOIN cand USING (gram) GROUP BY g.gram
)
SELECT ex.gram,
       CAST(ex.exact_count AS BIGINT) AS exact_count,
       CAST(cand.cms_estimate AS BIGINT) AS cms_estimate,
       ex.exact_count >= 5 AS is_heavy
FROM ex JOIN cand USING (gram)
"""


@query("q77_heavy_hitters", _Q77_ORACLE)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter word-3-grams via count-min sketch candidates +
    exact verification (sketches.cms_heavy_hitters): the counter table
    is depth x width regardless of corpus size (the mergeable,
    store-per-shard frequency summary), candidates broadcast, and only
    candidate grams pay an exact count. md5 hash family here so the
    oracle re-derives every counter cell; xxhash64 is the production
    default (same plan)."""
    from quanta_spark.operators.dedup import normalized
    from quanta_contrib.operators.sketches import cms_heavy_hitters

    n_parts = spark.sparkContext.defaultParallelism
    toked = (
        spark.table("documents")
        .select(F.split(normalized(F.col("text")), " ").alias("_toks"))
        .repartition(n_parts)
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select(F.explode(grams).alias("gram"))
    return cms_heavy_hitters(g, "gram", threshold=5, hasher="md5")


@query(
    "q78_weighted_sample",
    """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
  FROM documents
),
c AS (
  SELECT doc_id, w,
         sum(w) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, w AS weight, CAST(cum AS BIGINT) AS cum_weight,
       CAST(cum // 250 - (cum - w) // 250 AS BIGINT) AS pick_count
FROM c WHERE cum // 250 > (cum - w) // 250
""",
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-proportional document sampling (systematic, stride=250
    tokens): deterministic weighted sampling with no RNG — rows under
    every 250th token tick are picked, heavy docs proportionally more
    often. The running token sum is a distributed two-phase prefix sum
    (sampling.systematic_weighted_sample) — the oracle's single global
    window is exactly what the operator avoids at scale."""
    from quanta_contrib.operators.sampling import systematic_weighted_sample
    from quanta_contrib.operators.text import ws_token_count

    return systematic_weighted_sample(
        spark.table("documents"), ws_token_count(F.col("text")), stride=250
    )


@query(
    "q79_bigram_lm_scores",
    f"""
WITH t AS (
  SELECT doc_id, string_split({DUCK_NORM}, ' ') AS a FROM documents
),
big AS (
  SELECT doc_id, a[i] AS prev, a[i + 1] AS cur
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM t)
),
c2 AS (SELECT prev, cur, count(*) AS n2 FROM big GROUP BY prev, cur),
c2e AS (SELECT prev, cur, n2, sum(n2) OVER (PARTITION BY prev) AS n1 FROM c2),
scored AS (
  SELECT big.doc_id,
         CAST(count(*) AS INT) AS n_bigrams,
         CAST(sum(n2) AS BIGINT) AS sum_bigram_count,
         CAST(floor(avg(CAST(n2 AS DOUBLE) / n1) * 10000 + 0.5) AS BIGINT) AS score_bp
  FROM big JOIN c2e USING (prev, cur) GROUP BY big.doc_id
)
SELECT d.doc_id,
       coalesce(scored.n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(scored.sum_bigram_count, 0) AS BIGINT) AS sum_bigram_count,
       CAST(coalesce(scored.score_bp, 0) AS BIGINT) AS score_bp
FROM documents d LEFT JOIN scored USING (doc_id)
""",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM scoring (text.bigram_lm_scores) — perplexity's
    cheap statistical stand-in for quality filtering: mean conditional
    bigram frequency per document. Prefix counts come from a window
    over the count table, not a second corpus pass."""
    from quanta_contrib.operators.text import bigram_lm_scores

    return bigram_lm_scores(spark.table("documents"))


@query(
    "q80_role_transitions",
    f"""
WITH {TRANSCRIPTS_CTE},
p AS (
  SELECT role,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
  FROM transcripts
),
c AS (
  SELECT role, next_role, count(*) AS n
  FROM p WHERE next_role IS NOT NULL GROUP BY role, next_role
)
SELECT role, next_role, CAST(n AS BIGINT) AS n,
       CAST(floor(n * 10000.0 / sum(n) OVER (PARTITION BY role) + 0.5) AS BIGINT)
         AS prob_bp
FROM c
""",
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition matrix with per-source probabilities
    (dialogue.role_transitions) — conversation-shape QA over the
    corpus. One conv_id shuffle; normalization is a window over the
    |roles|^2 count table."""
    from quanta_contrib.operators.dialogue import role_transitions

    return role_transitions(transcripts_df(spark))


@query(
    "q81_sft_pairs",
    f"""
WITH {TRANSCRIPTS_CTE},
l AS (
  SELECT conv_id, turn_idx, role, text,
         lag(text, 3) OVER w AS l3,
         lag(text, 2) OVER w AS l2,
         lag(text, 1) OVER w AS l1
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx,
       concat_ws(chr(10), l3, l2, l1) AS prompt,
       text AS response,
       CAST(CAST(l3 IS NOT NULL AS INT) + CAST(l2 IS NOT NULL AS INT)
            + CAST(l1 IS NOT NULL AS INT) AS INT) AS n_context
FROM l WHERE role = 'assistant'
""",
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (prompt, response) pair extraction (dialogue.sft_pairs):
    every assistant turn paired with its previous 3 turns. Bounded
    context keeps row width bounded — no mega-conversation string_agg
    — and all lag columns share one conv_id window."""
    from quanta_contrib.operators.dialogue import sft_pairs

    return sft_pairs(transcripts_df(spark), context_turns=3)


@query(
    "q82_context_truncate",
    f"""
WITH {TRANSCRIPTS_CTE},
s AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
         sum(len(string_split_regex(trim(text), '\\s+')))
           OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suf
  FROM transcripts
)
SELECT conv_id, turn_idx, role, text, tool, ts FROM s WHERE suf <= 48
""",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation (dialogue.truncate_to_context): keep
    each conversation's newest suffix that fits 48 tokens —
    reverse-cumsum filter, one conv_id shuffle, pure codegen."""
    from quanta_contrib.operators.dialogue import truncate_to_context

    return truncate_to_context(transcripts_df(spark), max_tokens=48)


_Q83_ORACLE = f"""
WITH {_Q28_CTES.replace("cand AS (", "cand0 AS (")},
cand AS (
  SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS idx_doc_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
)
SELECT c.new_doc_id, c.idx_doc_id,
       CAST(len(list_intersect(ga.grams, gb.grams)) AS INT) AS n_common,
       CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS INT) AS n_union,
       round(len(list_intersect(ga.grams, gb.grams)) /
             greatest(len(list_distinct(list_concat(ga.grams, gb.grams))), 1), 4) AS jaccard
FROM cand c JOIN g ga ON ga.doc_id = c.new_doc_id JOIN g gb ON gb.doc_id = c.idx_doc_id
WHERE round(len(list_intersect(ga.grams, gb.grams)) /
            greatest(len(list_distinct(list_concat(ga.grams, gb.grams))), 1), 4) >= 0.8
"""


@query("q83_stream_neardup", _Q83_ORACLE)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingestion near-dup gate: the _DOCS2 clone documents
    arrive as a real file stream and are checked against a static
    historical MinHash/LSH index of the original corpus
    (dedup.stream_neardup_gate) — the production shape of dedup at
    scale: new data joins a maintained index, nobody re-runs
    all-pairs. Stream side computes JOIN-FREE per-row signatures
    (append-mode-safe: no aggregation), candidates come from the
    stream-static (band, bucket) equi-join, repeated band hits dedup
    within the watermark, and the exact gram-Jaccard verify is a
    codegen filter. Oracle: the q28 md5-family batch SQL restricted to
    (clone x original) pairs."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.operators.dedup import neardup_index, stream_neardup_gate
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    index = neardup_index(spark.table("documents"), hasher="md5")

    clones_pdf = (
        spark.table("documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    _guard_gate_rows(len(clones_pdf), "doc stream input")
    clones_pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.arange(len(clones_pdf)), unit="s"
    )
    d = tempfile.mkdtemp(prefix="qs_docstream_")
    schema = pa.schema(
        [
            pa.field("doc_id", pa.int64()),
            pa.field("text", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(clones_pdf)), 4)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(clones_pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)  # no ms-mtime ties in replay order

    src = (
        spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    out_stream = stream_neardup_gate(src, index, hasher="md5")
    rows: list = []

    def _sink(b, i):
        rows.extend(b.collect())
        _guard_gate_rows(len(rows), "collected output")

    h = start_pipeline(out_stream, _sink, tempfile.mkdtemp(prefix="qs_docstream_ckpt_"))
    run_to_completion(h)
    out_pdf = pd.DataFrame([r.asDict() for r in rows])
    return spark.createDataFrame(out_pdf, schema=out_stream.schema)


@query(
    "q84_render_conversations",
    f"""
WITH {TRANSCRIPTS_CTE},
n AS (SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id),
tail AS (
  SELECT conv_id, turn_idx, concat(role, ': ', text) AS line
  FROM transcripts t
  WHERE turn_idx >= (SELECT n_turns FROM n WHERE n.conv_id = t.conv_id) - 8
)
SELECT n.conv_id,
       CAST(n.n_turns AS INT) AS n_turns,
       CAST(least(n.n_turns, 8) AS INT) AS n_rendered,
       (SELECT string_agg(line, chr(10) ORDER BY turn_idx)
        FROM tail WHERE tail.conv_id = n.conv_id) AS rendered
FROM n
""",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript -> pretraining-text rendering
    (dialogue.render_conversations): each conversation's last 8 turns
    as 'role: text' lines. The rendered width is BOUNDED by max_turns
    (slice after sort) — the mega-conversation-safe flavor of
    conversation rendering."""
    from quanta_contrib.operators.dialogue import render_conversations

    return render_conversations(transcripts_df(spark), max_turns=8)


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled DuckDB twin of tokenizer.bpe_train: k CTE rounds of
    (pair counts -> deterministic argmax -> string-replace merge) over
    the same '<sym>' wrapped representation. replace() is
    non-overlapping left-to-right in both engines, which IS greedy BPE
    merge application."""
    parts = [
        f"""it0 AS (
  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS syms, n FROM (
    SELECT w, count(*) AS n FROM (
      SELECT unnest(string_split({DUCK_NORM}, ' ')) AS w FROM documents
    ) WHERE len(w) > 0 GROUP BY w
  )
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f"""pr{k} AS (
  SELECT a[i] AS l, a[i + 1] AS r, n
  FROM (SELECT a, n, unnest(generate_series(1, len(a) - 1)) AS i
        FROM (SELECT regexp_extract_all(syms, '<([^>]*)>', 1) AS a, n FROM it{k}))
),
pc{k} AS (SELECT l, r, sum(n) AS cnt FROM pr{k} GROUP BY l, r),
b{k} AS (SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
it{k + 1} AS (
  SELECT replace(syms,
                 '<' || (SELECT l FROM b{k}) || '><' || (SELECT r FROM b{k}) || '>',
                 '<' || (SELECT l FROM b{k}) || (SELECT r FROM b{k}) || '>') AS syms,
         n
  FROM it{k}
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS step, l AS left_sym, r AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(n_merges)
    )
    # MATERIALIZED: each it{k} is referenced twice (pair counts + next
    # round); without it DuckDB inlines the chain and the base corpus
    # CTE evaluates 2^k times (measured: timeout at k=6 vs 0.4 s)
    body = ",\n".join(parts).replace("AS (", "AS MATERIALIZED (")
    return "WITH " + body + "\n" + selects


@query("q85_bpe_train", _bpe_oracle(6))
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (tokenizer.bpe_train): 6
    merge rounds on the corpus word-frequency table — iterations
    shuffle VOCAB-sized data, the argmax is an O(1)-row driver action
    per round, merge application is pure-codegen string replace.
    Oracle: the same rounds unrolled as DuckDB CTEs; verified equal to
    a reference Python BPE in tests/test_tokenizer.py."""
    from quanta_contrib.operators.tokenizer import bpe_train

    return bpe_train(spark.table("documents"), n_merges=6)


_Q86_ORACLE = f"""
WITH {TRANSCRIPTS_CTE}
SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000) AS window_start,
       make_timestamp((CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) + 21600) * 1000000) AS window_end,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_distinct
FROM transcripts
GROUP BY 1, 2
"""


@query("q86_stream_window_distinct", _Q86_ORACLE)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact distinct-conversations per 6h tumbling window
    (windows.windowed_distinct): chained stateful operators —
    watermark-bounded dedup then windowed count — because
    COUNT(DISTINCT) can't run in a streaming agg. Held windows are
    released by the heartbeat's watermark advance; the heartbeat's own
    far-future window is stripped by timestamp (it's beyond every real
    window)."""
    import pandas as pd

    from quanta_contrib.operators.windows import windowed_distinct

    max_ts = pd.Timestamp(
        spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT max(ts) m FROM transcripts").first()["m"]
    )

    def strip(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pd.to_datetime(pdf["window_start"]) <= max_ts]

    return _run_stream_query(
        spark,
        lambda src: windowed_distinct(src, "conv_id", window="6 hours", watermark="1 hour"),
        jitter=True,
        strip_heartbeat=strip,
    )


@query(
    "q87_sft_pipeline",
    f"""
WITH {TRANSCRIPTS_CTE},
s AS (
  SELECT conv_id, turn_idx, role, text,
         sum(len(string_split_regex(trim(text), '\\s+')))
           OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suf
  FROM transcripts
),
kept AS (SELECT conv_id, turn_idx, role, text FROM s WHERE suf <= 64),
l AS (
  SELECT conv_id, turn_idx, role, text,
         lag(text, 3) OVER w AS l3,
         lag(text, 2) OVER w AS l2,
         lag(text, 1) OVER w AS l1
  FROM kept
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx,
       concat_ws(chr(10), l3, l2, l1) AS prompt,
       text AS response,
       CAST(CAST(l3 IS NOT NULL AS INT) + CAST(l2 IS NOT NULL AS INT)
            + CAST(l1 IS NOT NULL AS INT) AS INT) AS n_context
FROM l
WHERE role = 'assistant'
  AND len(string_split_regex(trim(text), '\\s+')) >= 3
""",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed SFT-prep pipeline: context truncation (keep the
    newest 64-token suffix) -> (prompt, response) extraction ->
    response-quality floor (>= 3 tokens) — the dialogue operators
    COMPOSING, with both window passes sharing the conv_id
    partitioning (one exchange end to end, plan-asserted)."""
    from quanta_contrib.operators.dialogue import sft_pairs, truncate_to_context
    from quanta_contrib.operators.text import ws_token_count

    kept = truncate_to_context(transcripts_df(spark), max_tokens=64)
    pairs = sft_pairs(kept, context_turns=3)
    return pairs.filter(ws_token_count(F.col("response")) >= 3)


@query(
    "q88_hard_negatives",
    """
WITH lab AS (
  SELECT vec_id, embedding, vec_id % 8 AS label FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding, label AS qlab FROM lab
      WHERE vec_id % 50 = 0 AND vec_id < 2500),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(q.embedding AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM q, lab c
  WHERE c.label <> q.qlab
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, sim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, vec_id ASC) AS rk
  FROM scored
) t
WHERE rk <= 5
""",
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): per query the
    top-5 most-similar DIFFERENT-label vectors — the contrastive-
    training counterpart of top-k retrieval. Labels ride the Arrow
    batch and the label filter runs inside the scoring kernel: zero
    joins, one corpus scan. (The driver corpus has no label column, so
    the gate derives label = vec_id % 8 — any real source/category
    column slots in unchanged.)"""
    from quanta_contrib.operators.similarity import hard_negatives

    lab = spark.table("embeddings").withColumn(
        "label", (F.col("vec_id") % 8).cast("int")
    )
    queries_df = lab.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return hard_negatives(lab, queries_df, k=5, label_col="label")


_Q89_ORACLE = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY {_Q56_CENT_ORDER}) - 1 AS BIGINT) AS cell_id,
         embedding AS c_emb
  FROM embeddings
  ORDER BY {_Q56_CENT_ORDER}
  LIMIT 16
),
asg AS (
  SELECT e.vec_id, c.cell_id,
         CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(c.c_emb AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM embeddings e, cents c
),
cell AS (
  SELECT vec_id, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim_bp DESC, cell_id ASC) AS rk
    FROM asg
  ) t WHERE rk = 1
),
t AS (SELECT vec_id, cell_id, 1704067200 + vec_id AS ep FROM cell)
SELECT make_timestamp(CAST(ep // 21600 * 21600 AS BIGINT) * 1000000) AS window_start,
       make_timestamp((CAST(ep // 21600 * 21600 AS BIGINT) + 21600) * 1000000) AS window_end,
       cell_id,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM t GROUP BY 1, 2, 3
"""


@query("q89_stream_ivf_ingest", _Q89_ORACLE)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING vector ingestion into the IVF index
    (similarity.stream_ivf_ingest): embeddings arrive as a real file
    stream with deterministic event times (epoch 2024-01-01 + vec_id
    seconds), each is assigned its md5-least coarse cell in a
    stateless broadcast-centroid Arrow pass, and per-6h-window cell
    occupancy counts aggregate O(cells x windows) state. Oracle:
    the q56 centroid/assignment SQL + epoch-floored window counts."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_contrib.operators.similarity import _ivf_centroids, stream_ivf_ingest
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    emb = spark.table("embeddings")
    _, cent_mat = _ivf_centroids(emb, 16)

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    _guard_gate_rows(len(pdf), "embedding stream input")
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["vec_id"], unit="s")
    d = tempfile.mkdtemp(prefix="qs_vecstream_")
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("embedding", pa.list_(pa.float32())),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)  # no ms-mtime ties in replay order
    src = (
        spark.readStream.schema("vec_id long, embedding array<float>, ts timestamp")
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    out_stream = stream_ivf_ingest(src, cent_mat, window="6 hours", watermark="1 hour")
    rows: list = []

    def _sink(b, i):
        rows.extend(b.collect())
        _guard_gate_rows(len(rows), "collected output")

    h = start_pipeline(out_stream, _sink, tempfile.mkdtemp(prefix="qs_vecstream_ckpt_"))
    h.process_all_available()
    # heartbeat vector: far-future ts advances the watermark so held
    # windows flush; its own row is dropped after the drain
    hb = pdf.iloc[[0]].copy()
    hb["vec_id"] = -1
    hb["ts"] = pdf["ts"].max() + pd.Timedelta(days=30)
    hb_path = os.path.join(d, "part-heartbeat.parquet")
    pq.write_table(
        pa.Table.from_pandas(hb, schema=schema, preserve_index=False),
        hb_path,
    )
    stamp_arrival_order([hb_path])  # heartbeat must sort AFTER all data
    run_to_completion(h)
    import pandas as _pd

    out_pdf = _pd.DataFrame([r.asDict() for r in rows])
    out_pdf = out_pdf[
        _pd.to_datetime(out_pdf["window_start"]) <= pdf["ts"].max()
    ]
    return spark.createDataFrame(out_pdf, schema=out_stream.schema)


@query(
    "q90_curate_conversations",
    f"""
WITH {TRANSCRIPTS_CTE},
p AS (
  SELECT conv_id, turn_idx, role,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ntok,
         CAST(lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) = role AS INT) AS same_next,
         CAST(role = 'tool' AS INT) AS is_tool
  FROM transcripts
),
a AS (
  SELECT conv_id,
         CAST(count(*) AS INT) AS n_turns,
         CAST(sum(ntok) AS BIGINT) AS total_tokens,
         CAST(sum(coalesce(same_next, 0)) AS INT) AS n_same_role_adjacent,
         CAST(min_by(role, turn_idx) = 'user' AS INT) AS starts_with_user,
         CAST(floor(sum(is_tool) * 10000.0 / count(*) + 0.5) AS BIGINT) AS tool_ratio_bp
  FROM p GROUP BY conv_id
)
SELECT *,
       n_turns >= 4 AND total_tokens >= 60 AND n_same_role_adjacent = 0
       AND starts_with_user = 1 AND tool_ratio_bp <= 5000 AS keep
FROM a
""",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level curation (dialogue.curate_conversations):
    per-conversation health stats + keep flag — length floors,
    tool-ratio ceiling, starts-with-user, zero same-role adjacency.
    One conv_id exchange for the lead() pass and the rollup."""
    from quanta_contrib.operators.dialogue import curate_conversations

    return curate_conversations(transcripts_df(spark))


@query(
    "q91_strip_boilerplate",
    """
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '(?i)https?://[^ ]+', ' ', 'g'),
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', ' ', 'g'),
             '[!?.,;:*#=~-]{3,}', ' ', 'g'),
           '\\s+', ' ', 'g')) AS clean_text
  FROM documents
)
SELECT doc_id, clean_text,
       CAST(len(text) - len(clean_text) AS INT) AS removed_chars
FROM c
""",
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping (text.strip_boilerplate): URLs, e-mails,
    punctuation runs removed, whitespace renormalized — pure per-row
    codegen at scan speed; patterns are RE2-compatible so the oracle
    shares them verbatim."""
    from quanta_contrib.operators.text import strip_boilerplate

    return strip_boilerplate(spark.table("documents")).select(
        "doc_id", "clean_text", "removed_chars"
    )


@query(
    "q92_trending_terms",
    f"""
WITH {TRANSCRIPTS_CTE},
tok AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000) AS window_start,
         unnest(string_split({DUCK_NORM}, ' ')) AS term
  FROM transcripts
),
c AS (
  SELECT window_start, term, count(*) AS n
  FROM tok WHERE len(term) > 0 GROUP BY window_start, term
)
SELECT window_start, CAST(rk AS INT) AS rank, term, CAST(n AS BIGINT) AS n
FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, term ASC) AS rk
  FROM c
) t
WHERE rk <= 5
""",
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms: top-5 tokens per 6h tumbling window over the
    transcript stream (batch flavor) — window keys + token explode +
    count + rank, the 'what changed this window' report. Partial
    aggregation combines map-side; the rank window runs on the
    (window, term) count table, never raw turns."""
    from pyspark.sql.window import Window

    from quanta_spark.operators.dedup import normalized

    t = transcripts_df(spark)
    tok = t.select(
        F.window("ts", "6 hours").alias("win"),
        F.explode(F.split(normalized(F.col("text")), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    counts = tok.groupBy(F.col("win.start").alias("window_start"), "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("window_start", "rank", "term", F.col("n").cast("long"))
    )


@query(
    "q93_zorder_keys",
    """
WITH t AS (
  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS x0,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS y0
  FROM orders
),
b AS (SELECT min(x0) AS xlo, max(x0) AS xhi, min(y0) AS ylo, max(y0) AS yhi FROM t),
n AS (
  SELECT o_orderkey,
         ((x0 - xlo) * 65535) // greatest(xhi - xlo, 1) AS x,
         ((y0 - ylo) * 65535) // greatest(yhi - ylo, 1) AS y
  FROM t, b
)
SELECT o_orderkey,
       CAST(list_sum([((x >> i) & 1) * (1::BIGINT << (2 * i))
                      + ((y >> i) & 1) * (1::BIGINT << (2 * i + 1))
                      for i in generate_series(0, 15)]) AS BIGINT) AS z_value
FROM n
""",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys (plans/zorder.py): Morton-interleaved
    (o_custkey, o_orderdate-day) — the lakehouse layout-maintenance
    step that makes min/max file statistics prune on EITHER column.
    Pure integer codegen (16 shift/mask terms per dimension), one
    O(1)-row bounds aggregate; the oracle re-derives every bit."""
    from quanta_contrib.plans.zorder import zorder_keys

    t = spark.table("orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        F.floor(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400)
        .cast("long")
        .alias("y"),
    )
    return zorder_keys(t, "x", "y").select("o_orderkey", "z_value")


@query(
    "q94_skew_report",
    f"""
WITH {TRANSCRIPTS_CTE},
c AS (SELECT conv_id, CAST(count(*) AS DOUBLE) AS n FROM transcripts GROUP BY conv_id)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(max(n) AS BIGINT) AS max_key_rows,
       CAST(floor(quantile_cont(n, 0.5) * 10000 + 0.5) AS BIGINT) AS p50_bp,
       CAST(floor(quantile_cont(n, 0.99) * 10000 + 0.5) AS BIGINT) AS p99_bp,
       CAST(floor(max(n) * 10000 / sum(n) + 0.5) AS BIGINT) AS top1_share_bp,
       CAST(floor(max(n) * 10000 / greatest(quantile_cont(n, 0.5), 1.0) + 0.5) AS BIGINT) AS skew_factor_bp
FROM c
""",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over the conversation key (skew.skew_report)
    — per-key-count percentiles, heaviest-key share, max/median skew
    factor: the numbers that decide between salting, AQE skew-join and
    broadcast before a 100 TB run."""
    from quanta_contrib.operators.skew import skew_report

    return skew_report(transcripts_df(spark), "conv_id")


@query(
    "q95_rising_terms",
    f"""
WITH {TRANSCRIPTS_CTE},
tok AS (
  SELECT CAST(floor(epoch(ts) / 21600) AS BIGINT) AS w,
         unnest(string_split({DUCK_NORM}, ' ')) AS term
  FROM transcripts
),
c AS (
  SELECT w, term, count(*) AS n FROM tok WHERE len(term) > 0 GROUP BY w, term
),
j AS (
  SELECT c.w, c.term, c.n,
         coalesce(p.n, 0) AS n_prev,
         CAST(floor(c.n * 10000.0 / greatest(coalesce(p.n, 0), 1) + 0.5) AS BIGINT) AS rise_bp
  FROM c LEFT JOIN c p ON p.term = c.term AND p.w = c.w - 1
  WHERE c.n >= 5
)
SELECT make_timestamp(CAST(w * 21600 AS BIGINT) * 1000000) AS window_start, term,
       CAST(n AS BIGINT) AS n, CAST(n_prev AS BIGINT) AS n_prev, rise_bp
FROM j WHERE rise_bp >= 20000
""",
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rising terms: tokens whose 6h-window count at least DOUBLED vs
    the previous window (with a floor of 5 occurrences) — trend
    detection over the transcript stream. Self-join of the compact
    (window, term) count table on the lagged window key; raw turns
    cross one explode+aggregate only."""
    from quanta_spark.operators.dedup import normalized

    t = transcripts_df(spark)
    tok = t.select(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 21600)
        .cast("long")
        .alias("w"),
        F.explode(F.split(normalized(F.col("text")), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    c = tok.groupBy("w", "term").agg(F.count(F.lit(1)).alias("n"))
    cur = c.filter(F.col("n") >= 5)
    prev = c.select((F.col("w") + 1).alias("w"), "term", F.col("n").alias("n_prev"))
    j = cur.join(prev, ["w", "term"], "left").select(
        "w",
        "term",
        "n",
        F.coalesce("n_prev", F.lit(0)).alias("n_prev"),
        F.floor(
            F.col("n") * 10_000 / F.greatest(F.coalesce("n_prev", F.lit(0)), F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rise_bp"),
    )
    return j.filter(F.col("rise_bp") >= 20_000).select(
        F.timestamp_seconds(F.col("w") * 21600).alias("window_start"),
        "term",
        F.col("n").cast("long"),
        F.col("n_prev").cast("long"),
        "rise_bp",
    )


@query(
    "q96_retention_cohorts",
    """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
act AS (SELECT DISTINCT user_id, wk FROM e)
SELECT f.cohort_wk,
       CAST(a.wk - f.cohort_wk AS INT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM first f JOIN act a USING (user_id)
GROUP BY f.cohort_wk, a.wk - f.cohort_wk
""",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts over the event stream: users grouped by
    first-seen week, counted in each subsequent week — the standard
    engagement matrix. Cohort table is user-sized; the join keys on
    user_id (co-partitioned), and the final rollup is |cohorts| x
    |offsets| rows."""
    e = spark.table("events").select(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 604800)
        .cast("long")
        .alias("wk"),
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    act = e.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "q97_funnel_conversion",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase,
       CAST(floor((SELECT count(*) FROM p) * 10000.0
                  / greatest((SELECT count(*) FROM v), 1) + 0.5) AS BIGINT)
         AS conversion_bp
""",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users progressing view -> click -> purchase
    in event-time order (min-timestamp chaining — each stage joins the
    previous stage's user set, co-partitioned on user_id; the CEP
    operators q62/q67 are the per-sequence flavor, this is the classic
    user-level conversion report)."""
    e = spark.table("events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv, nc, np_ = v.count(), c.count(), p.count()
    return spark.createDataFrame(
        [(nv, nc, np_, int((np_ * 10_000 + max(nv, 1) // 2) // max(nv, 1)))],
        "n_view long, n_view_click long, n_view_click_purchase long, conversion_bp long",
    )


@query(
    "q98_interval_join",
    f"""
WITH {TRANSCRIPTS_CTE},
sess AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
lab AS (
  SELECT conv_id, ts,
         sum(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM sess
),
iv AS (
  SELECT conv_id, sid, min(ts) AS s_start, max(ts) AS s_end
  FROM lab GROUP BY conv_id, sid
),
hits AS (
  SELECT e.event_id, count(*) AS n_active
  FROM events e JOIN iv ON e.ts >= iv.s_start AND e.ts <= iv.s_end
  GROUP BY e.event_id
)
SELECT e.event_id, CAST(coalesce(h.n_active, 0) AS BIGINT) AS n_active_sessions
FROM events e LEFT JOIN hits h USING (event_id)
""",
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency profile via the bucketed INTERVAL JOIN
    (asof.interval_join): for every raw event, how many conversation
    sessions (30-min-gap sessionization) were active at its instant.
    No equi key exists between events and sessions — the naive plan is
    a nested-loop cross product; the operator's time-bucket rewrite
    makes it an equi-join (plan-asserted: no BroadcastNestedLoopJoin,
    no CartesianProduct)."""
    from quanta_contrib.operators.asof import interval_join
    from quanta_contrib.operators.windows import label_sessions

    # session intervals as exact turn spans (min/max ts per label) —
    # sessionize's session_window end is gap-padded, which the SQL
    # oracle would have to re-derive; the labeled spans are exact
    lab = label_sessions(transcripts_df(spark), gap="30 minutes")
    iv = lab.groupBy("conv_id", "session_idx").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    events = spark.table("events").select("event_id", "ts")
    hits = interval_join(events, iv, point_ts="ts", start_col="s_start", end_col="s_end")
    counts = hits.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_active"))
    return events.join(counts, "event_id", "left").select(
        "event_id",
        F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active_sessions"),
    )


_Q99_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS kk
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
seeds AS (SELECT unnest(generate_series(0, 2)) AS i),
kp AS (
  SELECT {_md5int7("concat(i::VARCHAR, ':', kk)")} % 65536 AS p
  FROM keys CROSS JOIN seeds
),
w AS (
  SELECT p // 63 AS word, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
  FROM kp GROUP BY 1
),
op AS (
  SELECT o.o_orderkey, o.o_custkey,
         {_md5int7("concat(i::VARCHAR, ':', CAST(o.o_custkey AS VARCHAR))")} % 65536 AS p
  FROM orders o CROSS JOIN seeds
),
chk AS (
  SELECT o_orderkey, o_custkey,
         bool_and((coalesce(w.bits, 0) & (1::BIGINT << CAST(op.p % 63 AS INT))) != 0) AS pass
  FROM op LEFT JOIN w ON op.p // 63 = w.word
  GROUP BY 1, 2
),
mk AS (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
fin AS (
  SELECT chk.pass, chk.o_custkey IN (SELECT c_custkey FROM mk) AS is_match
  FROM chk
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE pass) AS BIGINT) AS n_pass,
       CAST(count(*) FILTER (WHERE is_match) AS BIGINT) AS n_match,
       CAST(count(*) FILTER (WHERE pass AND NOT is_match) AS BIGINT) AS n_false_pos,
       count(*) FILTER (WHERE is_match AND NOT pass) = 0 AS no_false_negatives
FROM fin
"""


@query("q99_bloom_prefilter", _Q99_ORACLE)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast bloom-filter semi-join prefilter (filters.py): the
    BUILDING-segment customer keys become an 8 KiB bitset; every order
    probes it with three JVM-side hashes inside its own scan stage —
    the fact side never shuffles before the exact residual join. The
    gate certifies the two bloom invariants exactly: ZERO false
    negatives and a counted (bounded) false-positive tail, md5 family
    so the oracle re-derives every bit; xxhash64 is the production
    default with the identical plan (property-tested)."""
    from quanta_contrib.operators.filters import bloom_bitset, with_bloom_flag

    keys = (
        spark.table("customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    words = bloom_bitset(keys, "c_custkey", hasher="md5")
    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    flagged = with_bloom_flag(orders, "o_custkey", words, hasher="md5")
    marker = keys.distinct().select(
        F.col("c_custkey").alias("o_custkey"), F.lit(True).alias("_m")
    )
    j = flagged.join(F.broadcast(marker), "o_custkey", "left").select(
        F.col("bloom_pass"), F.coalesce("_m", F.lit(False)).alias("is_match")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_pass"),
        F.count(F.when(F.col("is_match"), 1)).alias("n_match"),
        F.count(F.when(F.col("bloom_pass") & ~F.col("is_match"), 1)).alias(
            "n_false_pos"
        ),
        (
            F.count(F.when(F.col("is_match") & ~F.col("bloom_pass"), 1)) == 0
        ).alias("no_false_negatives"),
    )


_Q100_ORACLE = """
WITH v AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
),
p AS (SELECT greatest(least(c, 59999999), 0) AS vc FROM v),
h AS (SELECT CAST((vc * 64) // 60000000 AS INT) AS bin_idx, count(*) AS cnt
      FROM p GROUP BY 1),
tot AS (SELECT sum(cnt) AS n FROM h),
cum AS (SELECT bin_idx, sum(cnt) OVER (ORDER BY bin_idx) AS cum_cnt FROM h),
q AS (SELECT unnest([5000, 9000, 9900]) AS q_bp),
sel AS (
  SELECT q.q_bp, min(c2.bin_idx) AS bin_idx
  FROM q CROSS JOIN tot
  JOIN cum c2 ON c2.cum_cnt >= (q.q_bp * tot.n + 9999) // 10000
  GROUP BY q.q_bp
)
SELECT CAST(s.q_bp AS INT) AS q_bp,
       CAST(s.bin_idx AS INT) AS bin_idx,
       CAST(((s.bin_idx + 1)::BIGINT * 60000000) // 64 AS BIGINT) AS bin_upper_cents,
       CAST(c.cum_cnt AS BIGINT) AS cum_cnt,
       CAST(tot.n AS BIGINT) AS total_cnt,
       true AS merge_ok
FROM sel s JOIN cum c USING (bin_idx) CROSS JOIN tot
"""


@query("q100_quantile_histogram", _Q100_ORACLE)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (sketches.histogram_counts): order
    totals binned into a 64-cell fixed-bin histogram — the LINEAR
    store-per-shard summary (like the CMS counters, unlike HLL's
    mode-dependent estimates): 7 per-shard histograms summed cell-wise
    EQUAL the whole-corpus histogram, certified by merge_ok, and
    p50/p90/p99 are answered from the merged 64-row table with
    integer-exact rank/edge arithmetic (portable floor division) —
    no corpus rescan at read time."""
    from quanta_contrib.operators.sketches import (
        histogram_counts,
        histogram_quantiles,
        merge_histograms,
    )

    LO, HI, NB = 0, 60_000_000, 64
    orders = spark.table("orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    whole = histogram_counts(orders, cents, LO, HI, NB)
    shards = [
        histogram_counts(
            orders.filter(F.pmod("o_custkey", F.lit(7)) == s), cents, LO, HI, NB
        )
        for s in range(7)
    ]
    merged = merge_histograms(reduce(lambda a, b: a.unionByName(b), shards))
    cmp = (
        whole.withColumnRenamed("cnt", "w_cnt")
        .join(merged.withColumnRenamed("cnt", "m_cnt"), "bin_idx", "full")
        .select(
            (
                F.coalesce("w_cnt", F.lit(-1)) == F.coalesce("m_cnt", F.lit(-2))
            ).alias("eq")
        )
    )
    merge_ok = cmp.agg(F.bool_and("eq").alias("merge_ok"))
    res = histogram_quantiles(merged, [5000, 9000, 9900], LO, HI, NB)
    return res.withColumnRenamed("bin_upper", "bin_upper_cents").crossJoin(
        F.broadcast(merge_ok)
    )


@query(
    "q101_media_decode_dlq",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 13 IN (5, 9) THEN 'ERROR' ELSE 'OK' END AS status,
       CASE WHEN doc_id % 13 IN (5, 9) THEN NULL
            WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS decoded_kind,
       CASE WHEN doc_id % 13 IN (5, 9) THEN NULL
            ELSE CAST(16 + doc_id % 48 AS INT) END AS width,
       CASE WHEN doc_id % 13 IN (5, 9) THEN NULL
            ELSE CAST(16 + (doc_id * 3) % 48 AS INT) END AS height,
       CASE WHEN doc_id % 13 IN (5, 9) OR doc_id % 2 = 0 THEN CAST(NULL AS INT)
            ELSE CAST(2 + doc_id % 7 AS INT) END AS n_frames,
       CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS BIGINT) AS n_samples,
       CASE WHEN doc_id % 13 IN (5, 9) THEN NULL
            ELSE CAST(floor((doc_id % 256) / 255.0 * 1000 + 0.5) AS BIGINT)
       END AS feature_milli
FROM documents
""",
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-blob DLQ decode (VERDICT r05 ask #3): real container
    payloads with two deterministic corruption families planted among
    them — truncation to 6 bytes (valid magic, unreadable body; every
    decoder must raise, pinned by tests) and magic overwrite (unknown
    container). decode_media(strict=False) must decode every healthy
    blob to exactly the q44 predictions AND convert every corrupt blob
    into one status=ERROR row with NULL features — per-row isolation,
    the same row-granular drop-to-DLQ semantics as the stage runner
    (stages.py ≙ reference runner.go:147-156), never a failed batch."""
    from quanta_contrib.operators.multimodal import (
        decode_media,
        solid_media_from_documents,
    )

    media = solid_media_from_documents(spark.table("documents"))
    corrupted = media.withColumn(
        "payload",
        F.when(F.col("media_id") % 13 == 5, F.substring("payload", 1, 6))
        .when(
            F.col("media_id") % 13 == 9,
            F.concat(
                F.lit(b"\x00\x01\x02\x03"),
                F.substring("payload", 5, 1 << 30),
            ),
        )
        .otherwise(F.col("payload")),
    )
    out = decode_media(corrupted, strict=False)
    return out.select(
        "media_id",
        F.col("_status").alias("status"),
        "decoded_kind",
        "width",
        "height",
        "n_frames",
        "sample_rate",
        "n_samples",
        "feature_milli",
    )


_Q102_CORPUS = """corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id + 200000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
)"""

_Q102_ORACLE = f"""
WITH RECURSIVE {_Q102_CORPUS},
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY {_Q56_CENT_ORDER}) - 1 AS BIGINT) AS cell_id,
         embedding AS c_emb
  FROM corpus
  ORDER BY {_Q56_CENT_ORDER}
  LIMIT 16
),
asg AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(c.c_emb AS DOUBLE[])) * 10000) AS BIGINT) AS sim_bp
  FROM corpus e, cents c
),
cell AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim_bp DESC, cell_id ASC) AS rk
    FROM asg
  ) t WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM cell a JOIN cell b ON b.cell_id = a.cell_id AND b.vec_id > a.vec_id
  WHERE CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) * 10000) AS BIGINT) >= 9900
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node),
removed AS (SELECT doc_id, component_id FROM comp WHERE doc_id <> component_id),
sizes AS (
  SELECT component_id, count(*) + 1 AS group_size FROM removed GROUP BY component_id
)
SELECT c.vec_id, CAST(COALESCE(s.group_size, 1) AS BIGINT) AS group_size
FROM corpus c
LEFT JOIN removed rm ON rm.doc_id = c.vec_id
LEFT JOIN sizes s ON s.component_id = c.vec_id
WHERE rm.doc_id IS NULL
"""


@query("q102_semantic_dedup", _Q102_ORACLE)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composite (VERDICT r05 ask #5): IVF cell assignment ->
    within-cell cosine>=0.99 candidate pairs -> large/small-star
    connected components -> survivor anti-join. The corpus plants
    deterministic semantic duplicates (exact embedding clones at
    vec_id+100000 for every 5th vector, a second clone at +200000 for
    every 10th, forming 3-node components that exercise the star
    contraction beyond trivial pairs) among the real vectors, whose
    max pairwise cosine (~0.51) sits far below tau — the oracle
    re-derives the ENTIRE chain: q56's md5-least centroid/assignment
    SQL + within-cell pair join + q45's recursive-CTE components.
    Proves the ANN clustering and the dedup-components families
    compose (embedding analog of the text pipeline q63)."""
    from quanta_contrib.operators.dedup import semantic_dedup

    emb = spark.table("embeddings").select("vec_id", "embedding")
    clones1 = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    clones2 = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(clones1).unionByName(clones2)
    return semantic_dedup(corpus, n_cells=16, tau_bp=9900)


@query(
    "q103_phash_image_neardup",
    """
SELECT doc_id AS doc_a, doc_id + 500000 AS doc_b
FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id AS doc_a, doc_id + 600000 AS doc_b
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 500000 AS doc_a, doc_id + 600000 AS doc_b
FROM documents WHERE doc_id % 10 = 0
""",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (VERDICT r05 ask #6): REAL container
    bytes — a textured PNG per doc, the SAME pixels re-encoded through
    JPEG-q75 for every 5th doc and BMP for every 10th — hashed with a
    64-bit DCT pHash in one Arrow decode pass, then band-bucketed with
    the text-SimHash pigeonhole blocking (dedup.chunked_hamming_pairs,
    lossless for Hamming <=3). The oracle predicts the EXACT pair set
    from doc_id arithmetic alone: cross-container clone pairs (incl.
    the 3-node PNG/JPEG/BMP groups) must all collide and no distinct-
    image pair may appear — a false positive or a missed clone both
    hash-mismatch. Pattern family margin: clone Hamming 0, distinct
    >=14 (multimodal.textured_media_from_documents)."""
    from quanta_contrib.operators.dedup import phash_near_dup_pairs
    from quanta_contrib.operators.multimodal import textured_media_from_documents

    media = textured_media_from_documents(spark.table("documents"))
    return phash_near_dup_pairs(media, max_hamming=3).select("doc_a", "doc_b")


@query(
    "q104_bucketed_cocluster",
    f"""
WITH {TRANSCRIPTS_CTE},
convs AS (
  SELECT conv_id, count(*) AS n_turns, min(ts) AS first_ts
  FROM transcripts GROUP BY conv_id
)
SELECT t.conv_id, c.n_turns, c.first_ts,
       count(*) AS n_user_turns,
       CAST(max(t.turn_idx) AS INT) AS max_user_turn_idx
FROM transcripts t JOIN convs c ON c.conv_id = t.conv_id
WHERE t.role = 'user'
GROUP BY t.conv_id, c.n_turns, c.first_ts
""",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout co-located join + aggregation (VERDICT r05 ask
    #8): the turns table and the per-conversation dim are PERSISTED
    hash-bucketed by conv_id with the same bucket count
    (plans/bucketing.write_bucketed ≙ Iceberg bucket(N, conv_id)
    partition transforms, SURVEY.md §4.2), then joined and aggregated
    ON the bucket key — the layout that moves the conv_id exchange to
    write time, once, so every subsequent join/groupBy on the key runs
    exchange-free (zero Exchange nodes, plan-asserted by
    tests/test_bucketing.py with broadcast disabled). The oracle
    checks the VALUES of the co-located join+agg against plain SQL."""
    from quanta_contrib.plans.bucketing import cocluster_join, write_bucketed

    t = transcripts_df(spark)
    convs = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"), F.min("ts").alias("first_ts")
    )
    base = tempfile.mkdtemp(prefix="qs_g104_")
    for name in ("qs_g104_turns", "qs_g104_convs"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(t, "qs_g104_turns", n_buckets=8, path=os.path.join(base, "turns"))
    write_bucketed(
        convs, "qs_g104_convs", n_buckets=8, path=os.path.join(base, "convs")
    )
    j = cocluster_join(spark, "qs_g104_turns", "qs_g104_convs", "conv_id")
    return (
        j.filter(F.col("role") == "user")
        .groupBy("conv_id", "n_turns", "first_ts")
        .agg(
            F.count(F.lit(1)).alias("n_user_turns"),
            F.max("turn_idx").cast("int").alias("max_user_turn_idx"),
        )
    )


@query(
    "q105_stream_phash_gate",
    """
SELECT doc_id + 300000 AS new_media_id, doc_id AS idx_media_id
FROM documents WHERE doc_id % 5 = 0
""",
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING image ingestion near-dup gate
    (dedup.stream_phash_gate): arriving image blobs — JPEG-q75
    re-encodes of every 5th historical image (+300000) interleaved
    with genuinely NEW images (fresh pattern seeds, +400000, every 7th
    doc) — are pHashed in a stateless Arrow pass and probed against a
    static pHash index of the PNG originals via the stream-static
    (chunk_id, chunk) equi-join; repeated chunk hits dedup within the
    watermark, exact Hamming verify as a codegen filter. The oracle
    predicts the exact match set from doc_id arithmetic (pattern-
    family margins measured: cross-container clone Hamming 0, distinct
    >=14): every clone matches ONLY its original, every fresh image
    matches nothing. Multimodal analog of q83."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_contrib.operators import codecs
    from quanta_contrib.operators.dedup import phash_index, stream_phash_gate
    from quanta_contrib.operators.multimodal import (
        textured_media_from_documents,
        textured_pattern,
    )
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    docs = spark.table("documents").select("doc_id")
    originals = textured_media_from_documents(docs).filter(
        F.col("media_id") < 500000  # PNG originals only
    )
    index = phash_index(originals).cache()
    index.count()

    doc_ids = sorted(r["doc_id"] for r in docs.collect())
    _guard_gate_rows(len(doc_ids), "image stream input")
    rows = []
    for d in doc_ids:
        if d % 5 == 0:  # lossy re-encode of a known image
            rows.append((d + 300000, codecs.encode_jpeg(textured_pattern(d), quality=75)))
        if d % 7 == 0:  # genuinely new image, fresh pattern seed
            rows.append((d + 400000, codecs.encode_png(textured_pattern(d + 1_000_000))))
    pdf = pd.DataFrame({"media_id": [r[0] for r in rows], "payload": [r[1] for r in rows]})
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(len(pdf)), unit="s")
    d_dir = tempfile.mkdtemp(prefix="qs_imgstream_")
    schema = pa.schema(
        [
            pa.field("media_id", pa.int64()),
            pa.field("payload", pa.binary()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        path = os.path.join(d_dir, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)  # no ms-mtime ties in replay order

    src = (
        spark.readStream.schema("media_id long, payload binary, ts timestamp")
        .option("maxFilesPerTrigger", 2)
        .parquet(d_dir)
    )
    out_stream = stream_phash_gate(src, index)
    rows_out: list = []

    def _sink(b, i):
        rows_out.extend(b.collect())
        _guard_gate_rows(len(rows_out), "collected output")

    h = start_pipeline(out_stream, _sink, tempfile.mkdtemp(prefix="qs_imgstream_ckpt_"))
    run_to_completion(h)
    out_pdf = pd.DataFrame([r.asDict() for r in rows_out])
    return spark.createDataFrame(
        out_pdf[["new_media_id", "idx_media_id"]] if len(out_pdf) else out_pdf,
        schema="new_media_id long, idx_media_id long",
    )


_Q106_K = 8

_Q106_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i+{_Q106_K - 1}], ' ')) AS gram_id
  FROM toks, UNNEST(generate_series(1, len(t) - {_Q106_K - 1})) AS u(i)
  WHERE len(t) >= {_Q106_K}
),
dup AS (
  SELECT gram_id FROM grams GROUP BY gram_id
  HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT g.doc_id, g.pos,
         g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS island
  FROM grams g JOIN dup USING (gram_id)
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {_Q106_K - 1} AS INT) AS span_end,
       CAST(count(*) AS INT) AS n_grams,
       CAST(max(pos) + {_Q106_K - 1} - min(pos) + 1 AS INT) AS n_tokens
FROM hits GROUP BY doc_id, island
"""


@query("q106_duplicate_spans", _Q106_ORACLE)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (text.duplicate_spans) — the
    Lee et al. 2022 suffix-array dedup re-expressed relationally:
    every 8-token gram is md5-fingerprinted, grams seen in >=2
    distinct documents are merged back into maximal per-document
    spans via gaps-and-islands. One explode, one shuffle on the gram
    fingerprint (the relational analog of the suffix sort), a
    self-semi-join that AQE serves from the same exchange, one
    per-document window. The oracle replays the identical md5 gram
    pipeline in DuckDB (lists are 1-based in both engines)."""
    from quanta_contrib.operators.text import duplicate_spans

    return duplicate_spans(spark.table("documents"), k=_Q106_K)


# Corpus-appropriate stopword list for the synthetic fixture (the C4
# EN set barely intersects its SQL-flavored vocabulary); shared
# verbatim with the oracle below.
_Q107_STOPWORDS = ["the", "a", "fast", "slow", "join", "query", "scan", "merge"]

# Planted rows exercise the rules the natural corpus never trips:
# heavy repetition (dup-ratio), one giant word (mean-word-length),
# code brace and lorem-ipsum blocklists. Same literals on both sides.
_Q107_PLANTS = [
    (-1, "spam " * 79 + "spam"),  # 80 words, 1 distinct -> dup rule
    (-2, " ".join("x" * 40 for _ in range(60))),  # mean word len 40
    (-3, "if (x) { return } " * 20 + "the a end"),  # brace blocklist
    (-4, ("lorem ipsum dolor sit amet the a " * 10).strip()),  # lorem
    (-5, "the a short doc"),  # under the word-count floor
]

_Q107_PLANT_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text"
    for i, t in _Q107_PLANTS
)

_Q107_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL {_Q107_PLANT_SQL}
),
sig AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_chars,
         text
  FROM docs
),
sig2 AS (
  SELECT doc_id, len(t) AS n_words, n_chars,
         len(list_distinct(t)) AS n_distinct,
         ({" + ".join(f"CASE WHEN list_contains(t, '{s}') THEN 1 ELSE 0 END" for s in _Q107_STOPWORDS)}) AS stop_hits,
         contains(text, '{{') AS has_brace,
         contains(lower(text), 'lorem ipsum') AS has_lorem
  FROM sig
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(floor((n_chars * 10000) / greatest(n_words, 1) + 0.5) AS BIGINT) AS mean_word_len_e4,
       CAST(floor(((n_words - n_distinct) * 10000) / greatest(n_words, 1) + 0.5) AS BIGINT) AS dup_word_ratio_e4,
       CAST(stop_hits AS INT) AS stopword_hits,
       has_brace, has_lorem,
       (n_words BETWEEN 50 AND 100000
        AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
        AND (n_words - n_distinct) * 100 <= 85 * n_words
        AND stop_hits >= 2 AND NOT has_brace AND NOT has_lorem) AS keep
FROM sig2
"""


@query("q107_gopher_quality", _Q107_ORACLE)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher rule-based quality filtering
    (text.gopher_quality_filters): word-count bounds, mean-word-length
    bounds, duplicate-word ratio, stopword-presence, and blocklist
    flags — every rule a pure Column expression in INTEGER arithmetic
    (scan-speed, zero shuffle, zero float thresholds). Planted rows
    exercise each rule the natural fixture never trips; keep splits
    277/505 at sf0.01. The standard pre-dedup gate of a web-scale
    training corpus (Raffel et al. 2020; Rae et al. 2021)."""
    from quanta_contrib.operators.text import gopher_quality_filters

    plants = spark.createDataFrame(_Q107_PLANTS, "doc_id long, text string")
    docs = spark.table("documents").select("doc_id", "text").unionByName(plants)
    return gopher_quality_filters(docs, stopwords=_Q107_STOPWORDS)


_Q108_ORACLE = """
WITH toks AS (
  SELECT doc_id, contains(text, 'spark') AS is_t,
         string_split_regex(trim(text), '\\s+') AS t
  FROM documents
),
feats AS (
  SELECT doc_id, is_t, substring(md5(t[i] || ' ' || t[i+1]), 1, 3) AS bucket
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
counts AS (
  SELECT bucket, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct, count(*) AS cr
  FROM feats GROUP BY bucket
),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM counts),
w AS (
  SELECT bucket, ln(ct + 1) - ln(cr + 1) + ln(tr + 4096) - ln(tt + 4096) AS w
  FROM counts CROSS JOIN tot
)
SELECT f.doc_id, CAST(count(*) AS INT) AS n_features,
       CAST(floor(sum(w.w) * 10000 + 0.5) AS BIGINT) AS score_e4,
       CAST(floor(sum(w.w) * 10000 + 0.5) AS BIGINT) > 0 AS selected
FROM feats f JOIN w USING (bucket)
GROUP BY f.doc_id
"""


@query("q108_dsir_weights", _Q108_ORACLE)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_weights; Xie et al.
    2023): hashed-bigram log-likelihood ratio of a TARGET slice (docs
    mentioning 'spark' — a content-based target so the fixture scores
    carry real signal; selected = score>0 picks ~11% at sf0.001 AND
    sf0.01, scale-stable) vs the raw corpus. The bucket table is
    FIXED-size (4096), so partial aggregation crushes the feature
    count map-side and the weights broadcast; the only real shuffle
    is the per-document aggregation. md5-bucket hashing makes the
    DuckDB oracle replay bit-identically."""
    from quanta_contrib.operators.sampling import dsir_weights

    return dsir_weights(
        spark.table("documents"), target=F.col("text").contains("spark")
    )


@query(
    "q109_audio_fingerprint_neardup",
    """
SELECT doc_id AS doc_a, doc_id + 500000 AS doc_b
FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id AS doc_a, doc_id + 600000 AS doc_b
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 500000 AS doc_a, doc_id + 600000 AS doc_b
FROM documents WHERE doc_id % 10 = 0
""",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup — completes the multimodal dedup
    family (text SimHash q29 / image pHash q103 / audio q109): REAL
    container bytes — a tonal WAV-PCM16 clip per doc, the SAME samples
    re-encoded through lossy IMA-ADPCM for every 5th doc and padded
    with trailing silence for every 10th — fingerprinted with a 64-bit
    spectral band-energy hash in one Arrow decode pass, then
    band-bucketed with the SHARED SimHash pigeonhole blocking
    (dedup.chunked_hamming_pairs, lossless for Hamming <=3). The
    oracle predicts the EXACT pair set from doc_id arithmetic alone: a
    false positive or a missed clone both hash-mismatch. Fixture
    margins measured: clone Hamming 0, distinct >=18
    (multimodal.tonal_media_from_documents)."""
    from quanta_contrib.operators.dedup import audio_near_dup_pairs
    from quanta_contrib.operators.multimodal import tonal_media_from_documents

    media = tonal_media_from_documents(spark.table("documents"))
    return audio_near_dup_pairs(media, max_hamming=3).select("doc_a", "doc_b")


@query(
    "q110_stream_audio_gate",
    """
SELECT doc_id + 300000 AS new_media_id, doc_id AS idx_media_id
FROM documents WHERE doc_id % 5 = 0
""",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING audio ingestion near-dup gate — the audio analog of
    the image gate q105, proving the generalized fingerprint gate
    (dedup.stream_phash_gate with signer=audio_fingerprint): arriving
    audio blobs — lossy IMA-ADPCM re-encodes of every 5th historical
    clip (+300000) interleaved with genuinely NEW clips (fresh tonal
    seeds, +400000, every 7th doc) — are fingerprinted in a stateless
    Arrow pass and probed against a static index of the PCM16
    originals via the stream-static (chunk_id, chunk) equi-join;
    repeated chunk hits dedup within the watermark, exact Hamming
    verify as a codegen filter. The oracle predicts the exact match
    set from doc_id arithmetic (tonal-family margins measured:
    cross-codec clone Hamming 0, distinct >=18): every clone matches
    ONLY its original, every fresh clip matches nothing."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_contrib.operators import codecs
    from quanta_contrib.operators.dedup import phash_index, stream_phash_gate
    from quanta_contrib.operators.multimodal import (
        audio_fingerprint,
        tonal_media_from_documents,
        tonal_pattern,
    )
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    docs = spark.table("documents").select("doc_id")
    originals = tonal_media_from_documents(docs).filter(
        F.col("media_id") < 500000  # PCM16 originals only
    )
    index = phash_index(originals, signer=audio_fingerprint).cache()
    index.count()

    doc_ids = sorted(r["doc_id"] for r in docs.collect())
    _guard_gate_rows(len(doc_ids), "audio stream input")
    rows = []
    for d in doc_ids:
        if d % 5 == 0:  # lossy re-encode of a known clip
            rows.append((d + 300000, codecs.encode_adpcm_wav(tonal_pattern(d))))
        if d % 7 == 0:  # genuinely new clip, fresh tonal seed
            rows.append((d + 400000, codecs.encode_wav(tonal_pattern(d + 1_000_000))))
    pdf = pd.DataFrame({"media_id": [r[0] for r in rows], "payload": [r[1] for r in rows]})
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(len(pdf)), unit="s")
    d_dir = tempfile.mkdtemp(prefix="qs_audstream_")
    schema = pa.schema(
        [
            pa.field("media_id", pa.int64()),
            pa.field("payload", pa.binary()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        path = os.path.join(d_dir, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)  # no ms-mtime ties in replay order

    src = (
        spark.readStream.schema("media_id long, payload binary, ts timestamp")
        .option("maxFilesPerTrigger", 2)
        .parquet(d_dir)
    )
    out_stream = stream_phash_gate(src, index, signer=audio_fingerprint)
    rows_out: list = []

    def _sink(b, i):
        rows_out.extend(b.collect())
        _guard_gate_rows(len(rows_out), "collected output")

    h = start_pipeline(out_stream, _sink, tempfile.mkdtemp(prefix="qs_audstream_ckpt_"))
    run_to_completion(h)
    out_pdf = pd.DataFrame([r.asDict() for r in rows_out])
    return spark.createDataFrame(
        out_pdf[["new_media_id", "idx_media_id"]] if len(out_pdf) else out_pdf,
        schema="new_media_id long, idx_media_id long",
    )


@query(
    "q111_video_fingerprint_neardup",
    """
SELECT doc_id AS doc_a, doc_id + 500000 AS doc_b
FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id AS doc_a, doc_id + 600000 AS doc_b
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 500000 AS doc_a, doc_id + 600000 AS doc_b
FROM documents WHERE doc_id % 10 = 0
""",
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup — the FOURTH member of the multimodal
    dedup family (text SimHash q29 / image pHash q103 / audio q109 /
    video q111): REAL container bytes — a 12-frame QVID clip per doc,
    the SAME frames re-encoded through lossy MJPEG-q75 for every 5th
    doc and temporally resampled (every frame doubled, fps doubled)
    for every 10th — fingerprinted with an evenly-sampled-frame
    pHash majority vote in one Arrow pass (only the sampled frame
    spans are entropy-decoded, never the whole blob), then
    band-bucketed with the SHARED SimHash pigeonhole blocking
    (dedup.chunked_hamming_pairs, lossless for Hamming <=3). The
    oracle predicts the EXACT pair set from doc_id arithmetic alone: a
    false positive or a missed clone both hash-mismatch. Fixture
    margins measured over 600 seeds: clone Hamming <=1 (both clone
    kinds), distinct >=14, per-frame drift up to 4 bits — the vote is
    genuinely exercised (multimodal.moving_media_from_documents)."""
    from quanta_contrib.operators.dedup import video_near_dup_pairs
    from quanta_contrib.operators.multimodal import moving_media_from_documents

    media = moving_media_from_documents(spark.table("documents"))
    return video_near_dup_pairs(media, max_hamming=3).select("doc_a", "doc_b")


_Q112_BOILER = (
    "terms of service apply to this mirror page content provided as is "
    "without warranty of any kind use implies acceptance"
)

_Q112_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '{_Q112_BOILER} ' || text ELSE text END AS text
  FROM documents
),
paras AS (
  SELECT doc_id, t.pid,
         array_to_string(
           list_slice(string_split(text, ' '), t.pid * 20 + 1, t.pid * 20 + 20),
           ' '
         ) AS para
  FROM aug,
       LATERAL (
         SELECT unnest(range(0,
           CAST(ceil(len(string_split(text, ' ')) / 20.0) AS BIGINT))) AS pid
       ) t
),
dup AS (SELECT para FROM paras GROUP BY para HAVING count(*) >= 2)
SELECT doc_id,
       string_agg(para, ' ' ORDER BY pid) AS text_dedup,
       count(*) AS n_paras_kept
FROM paras p
WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.para = p.para)
GROUP BY doc_id
"""


@query("q112_paragraph_dedup", _Q112_ORACLE)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level CORPUS dedup (dedup.paragraph_dedup — the
    CCNet/RefinedWeb boilerplate pass): a fixed 20-token boilerplate
    paragraph is planted at the head of every 3rd document (a shared
    SQL literal, so the oracle replays the plant exactly); documents
    segment into 20-token paragraphs, any paragraph appearing >=2
    times corpus-wide is dropped EVERYWHERE (the plant, plus the
    natural short-tail collisions the fixture corpus already has), and
    each document is reassembled from its survivors in order. The
    boilerplate is exactly one paragraph group, so every other
    paragraph boundary is unchanged — the oracle checks the
    reassembled TEXT, not just counts. Corpus-wide counting groups on
    xxhash64(para) with map-side partial agg; the drop is a shuffle
    anti-join on the hash; nothing collects driver-side."""
    from quanta_contrib.operators.dedup import paragraph_dedup

    docs = spark.table("documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_Q112_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return paragraph_dedup(aug).select("doc_id", "text_dedup", "n_paras_kept")


_Q113_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_ws_tokens
  FROM documents
),
tot AS (SELECT lang, sum(n_ws_tokens) AS n_i FROM t GROUP BY lang),
bud AS (
  SELECT lang,
         CAST(floor(20000 * pow(CAST(n_i AS DOUBLE), 0.5)
               / (SELECT sum(pow(CAST(n_i AS DOUBLE), 0.5)) FROM tot))
              AS BIGINT) AS t_i
  FROM tot
),
r AS (
  SELECT t.*, sum(n_ws_tokens) OVER (PARTITION BY lang
                                     ORDER BY n_ws_tokens DESC, doc_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS running
  FROM t
)
SELECT r.doc_id, r.lang, r.n_ws_tokens
FROM r JOIN bud USING (lang) WHERE running <= t_i
"""


@query("q113_temperature_mix", _Q113_ORACLE)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (sampling.temperature_mix —
    the multilingual sampling rule p_i ∝ n_i^alpha, alpha=0.5): each
    lang's token share is square-rooted and renormalized (upsampling
    tail languages), its budget is floor(20000 * p_i), and the
    stratum keeps its greedy prefix (most tokens first, doc_id
    tie-break) within that budget — q49's two-phase exact prefix plan
    generalized to a PER-STRATUM budget column. The totals aggregate
    emits #strata rows, the normalization window runs over that
    bounded table, and budgets join back broadcast; only the prefix
    pass touches corpus-sized data."""
    from quanta_contrib.operators.sampling import temperature_mix
    from quanta_contrib.operators.text import ws_token_count

    docs = spark.table("documents").select(
        "doc_id", "lang", ws_token_count(F.col("text")).alias("n_ws_tokens")
    )
    return temperature_mix(
        docs, budget=20000, alpha=0.5, tokens_col="n_ws_tokens"
    ).select("doc_id", "lang", "n_ws_tokens")


_Q114_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') || ['<eos>'] AS toks
  FROM documents
),
c AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(sum(len(toks)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM t
),
portions AS (
  SELECT e.eid,
         greatest(e.eid * 64, cum - n) AS gstart,
         list_slice(toks,
                    greatest(e.eid * 64, cum - n) - (cum - n) + 1,
                    least((e.eid + 1) * 64, cum) - (cum - n)) AS ptoks
  FROM c,
       LATERAL (
         SELECT unnest(range((cum - n) // 64, ((cum - 1) // 64) + 1)) AS eid
       ) e
)
SELECT eid AS example_id,
       CAST(sum(len(ptoks)) AS BIGINT) AS n_tokens,
       string_agg(array_to_string(ptoks, ' '), ' ' ORDER BY gstart) AS text
FROM portions GROUP BY eid
"""


@query("q114_pack_lm_examples", _Q114_ORACLE)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal-LM example packing (packing.pack_lm_examples — the
    standard GPT pretraining prep): every document gets an <eos>
    appended, all tokens lie end-to-end on one global axis in doc_id
    order, and the axis is cut into consecutive 64-token training
    examples; boundary-crossing documents SPLIT across adjacent
    examples and the final partial example survives. The global
    offset is the distributed two-phase prefix sum shared with q78
    (coarse-range totals -> broadcast offsets -> per-range window;
    plan-asserted never a one-task global window); each doc explodes
    into at most ceil(n/64)+1 portion rows and examples reassemble in
    ONE groupBy. The oracle rebuilds every example's exact TEXT, so a
    single token out of place anywhere on the 27k-token axis
    hash-mismatches."""
    from quanta_contrib.operators.packing import pack_lm_examples

    return pack_lm_examples(spark.table("documents"), seq_len=64).select(
        "example_id", "n_tokens", "text"
    )


@query(
    "q115_shuffle_shards",
    f"""
SELECT doc_id,
       CAST({_HEX16_DUCK} % 8 AS INT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY {_HEX16_DUCK} % 8
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS INT) AS pos
FROM documents
""",
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding
    (sampling.shuffle_shards — the pretraining step between curation
    and packing): every document's (shard_id, pos) derives ONLY from
    md5(doc_id) — a fixed, engine-portable permutation with no RNG
    state, so the training order reproduces across runs and the
    oracle recomputes it exactly. One exchange on shard_id, per-shard
    window sort (distributed across the 8 shards; never global)."""
    from quanta_contrib.operators.sampling import shuffle_shards

    return shuffle_shards(spark.table("documents"), n_shards=8).select(
        "doc_id", "shard_id", "pos"
    )


_Q116_ORACLE = """
WITH nd AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
),
bench AS (
  SELECT array_to_string(list_slice(string_split(t, ' '), 1, 12), ' ') AS t
  FROM nd WHERE doc_id % 50 = 0
),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(
           list_slice(string_split(t, ' '), i, i + 7), ' ') AS gram
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, len(string_split(t, ' ')) - 7)) AS i
    FROM nd
  )
),
bg AS (
  SELECT DISTINCT array_to_string(
           list_slice(string_split(t, ' '), i, i + 7), ' ') AS gram
  FROM (
    SELECT t, unnest(generate_series(1, len(string_split(t, ' ')) - 7)) AS i
    FROM bench
  )
),
tot AS (SELECT doc_id, count(DISTINCT gram) AS n_grams_total FROM cg GROUP BY doc_id),
hits AS (
  SELECT cg.doc_id, count(DISTINCT cg.gram) AS n_contaminated_grams
  FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id
)
SELECT nd.doc_id,
       CAST(coalesce(h.n_contaminated_grams, 0) AS BIGINT) AS n_contaminated_grams,
       CAST(coalesce(t.n_grams_total, 0) AS BIGINT) AS n_grams_total,
       (coalesce(t.n_grams_total, 0) > 0 AND
        coalesce(h.n_contaminated_grams, 0) * 10000 >= 500 * coalesce(t.n_grams_total, 0)
       ) AS contaminated
FROM nd LEFT JOIN tot t USING (doc_id) LEFT JOIN hits h USING (doc_id)
"""


@query("q116_fuzzy_decontaminate", _Q116_ORACLE)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination (text.decontaminate(min_overlap_bp=500)):
    a document is contaminated when >= 5% of its distinct word
    8-grams appear in the benchmark set (q51's any-hit rule upgraded
    to the overlap-fraction rule used for web-scale pretraining
    decontamination) — the threshold test is pure INTEGER arithmetic
    (hits * 10000 >= bp * total), so the oracle replays it exactly
    with no float division. Same plan as q51: benchmark grams
    broadcast, one corpus scan + explode; the totals column reuses the
    already-materialized distinct-gram array (size(), no extra pass)."""
    from quanta_spark.operators.dedup import normalized
    from quanta_contrib.operators.text import decontaminate

    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.array_join(
            F.slice(F.split(normalized(F.col("text")), " "), 1, 12), " "
        ).alias("text")
    )
    return decontaminate(docs, bench, n=8, min_overlap_bp=500).select(
        "doc_id", "n_contaminated_grams", "n_grams_total", "contaminated"
    )


_Q117_SESSION_FP = """
  SELECT conv_id, md5(string_agg(text, chr(31) ORDER BY ts, turn_idx)) AS fp
  FROM (
    SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                             ROWS UNBOUNDED PRECEDING) AS sess
    FROM (
      SELECT conv_id, turn_idx, text, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                       <= INTERVAL 1 DAY THEN 0 ELSE 1 END AS brk
      FROM {src}
    )
  )
  GROUP BY conv_id, sess HAVING count(*) >= 3
"""

_Q117_ORACLE = f"""
WITH {{cte}},
stream AS (
  SELECT concat('dup-', substr(conv_id, 6)) AS conv_id, turn_idx, text, ts
  FROM transcripts WHERE CAST(substr(conv_id, 6) AS INT) % 5 = 0
  UNION ALL
  SELECT concat('new-', substr(conv_id, 6)) AS conv_id, turn_idx,
         text || ' novel' AS text, ts
  FROM transcripts WHERE CAST(substr(conv_id, 6) AS INT) % 7 = 0
),
idx AS ({_Q117_SESSION_FP.format(src="transcripts")}),
str_s AS ({_Q117_SESSION_FP.format(src="stream")})
SELECT s.conv_id AS new_conv_id, i.conv_id AS idx_conv_id, s.fp AS fp
FROM str_s s JOIN idx i USING (fp)
""".format(cte=TRANSCRIPTS_CTE)


@query("q117_stream_conv_dedup_gate", _Q117_ORACLE)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING conversation dedup gate
    (dedup.stream_conv_dedup_gate) — the transcript-ingestion member
    of the gate family (documents q83 / images q105 / audio q110 /
    conversations q117): re-played conversations (every 5th historical
    conv arrives again under a 'dup-' id — agent retry storms, spam)
    interleaved with genuinely new ones ('new-' ids, every 7th conv
    with altered turn texts) sessionize ON the stream (session_window
    1 day + 1 hour watermark, state O(open sessions)); when the
    watermark closes a session, its exact content fingerprint (md5
    over (ts, turn_idx)-ordered turn texts, >=3-turn sessions only)
    probes the static historical session index via a stream-STATIC
    fp equi-join — O(new sessions)/day, never O(corpus). The SAME
    aggregation expression builds index and stream signature, so
    fingerprints are bit-identical by construction; the oracle is
    fully CONTENT-DERIVED (it recomputes both sides' fingerprints in
    SQL), so even would-be collisions are predicted, not assumed
    away (measured: 0 cross-conv collisions among >=3-turn sessions)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.datagen import (
        stamp_arrival_order as _stamp,
        write_heartbeat_file,
    )
    from quanta_contrib.operators.dedup import (
        session_fingerprint_index,
        stream_conv_dedup_gate,
    )
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    base = transcripts_df(spark)
    index = session_fingerprint_index(base).cache()
    index.count()

    suffix = F.expr("substring(conv_id, 6)")
    uid = suffix.cast("int")
    cols = ["turn_idx", "role", "text", "tool", "ts"]
    dup = base.filter(uid % 5 == 0).select(
        F.concat(F.lit("dup-"), suffix).alias("conv_id"), *cols
    )
    new = (
        base.filter(uid % 7 == 0)
        .withColumn("text", F.concat("text", F.lit(" novel")))
        .select(F.concat(F.lit("new-"), suffix).alias("conv_id"), *cols)
    )
    pdf = dup.unionByName(new).toPandas()
    _guard_gate_rows(len(pdf), "conv stream input")
    pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    d = tempfile.mkdtemp(prefix="qs_convstream_")
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
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 6)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    _stamp(paths)

    src = stream_transcripts_files(spark, d, max_files_per_trigger=2, with_lineage=False)
    out_stream = stream_conv_dedup_gate(src, index)
    rows_out: list = []

    def _sink(b, i):
        rows_out.extend(b.collect())
        _guard_gate_rows(len(rows_out), "collected output")

    h = start_pipeline(out_stream, _sink, tempfile.mkdtemp(prefix="qs_convstream_ckpt_"))
    h.process_all_available()
    # advance the watermark past every open session (+1 day gap +1 h wm)
    write_heartbeat_file(d, pd.Timestamp(pdf["ts"].max()) + pd.Timedelta(days=60))
    run_to_completion(h)
    out_pdf = pd.DataFrame([r.asDict() for r in rows_out])
    return spark.createDataFrame(
        out_pdf[["new_conv_id", "idx_conv_id", "fp"]] if len(out_pdf) else out_pdf,
        schema="new_conv_id string, idx_conv_id string, fp string",
    )


@query(
    "q118_json_extract_stats",
    """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS INT) AS min_k,
       CAST(max(k) AS INT) AS max_k,
       CAST(sum(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_div7
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
GROUP BY event_type
""",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON handling (the 'json scalar fns' slot of
    SURVEY §2.7's relational surface — events.props is a JSON string
    column): schema-on-read via from_json('k INT') inside the scan
    stage (JsonToStructs stays in whole-stage codegen; column pruning
    reads only props + event_type), then a plain hash aggregate over
    the extracted field including a JSON-value predicate. The oracle
    replays the extraction with DuckDB's json_extract_string."""
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        spark.table("events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") % 7 == 0, 1).otherwise(0)).alias("n_k_div7"),
        )
    )


_Q119_ORACLE = f"""
WITH RECURSIVE {_Q28_CTES},
pairs AS ({_Q28_SELECT}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node),
members AS (
  SELECT d.doc_id,
         coalesce(c.component_id, d.doc_id) AS component_id,
         CAST((d.doc_id * 2654435761) % 1000 AS INT) AS quality
  FROM docs2 d LEFT JOIN comp c USING (doc_id)
),
keep AS (
  SELECT component_id, doc_id AS keep_doc_id FROM (
    SELECT component_id, doc_id,
           row_number() OVER (PARTITION BY component_id
                              ORDER BY quality DESC, doc_id ASC) AS rn
    FROM members) WHERE rn = 1
)
SELECT m.doc_id, m.component_id, k.keep_doc_id,
       m.doc_id = k.keep_doc_id AS survives
FROM members m JOIN keep k USING (component_id)
"""


@query("q119_dedup_keep_best", _Q119_ORACLE)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivorship
    (dedup.keep_best_survivors): LSH near-dup pairs -> alternating-star
    components -> keep the HIGHEST-QUALITY member per component (ties
    -> lowest doc_id) — how production corpus dedup actually picks
    representatives, vs q63's min-id keeper. Quality here is a
    deterministic synthetic score ((doc_id * 2654435761) % 1000,
    shared with the oracle) standing in for a model-based quality
    column, so the argmax is exercised on every multi-member component
    (exact clones would tie under any text-derived score). The keeper
    is a max_by over a (quality, -id) struct — a plain hash aggregate
    with map-side partials, no per-component sort. Oracle: recursive-
    CTE components + row_number argmax over the same members."""
    from quanta_contrib.operators.dedup import (
        keep_best_survivors,
        minhash_near_dup_pairs,
    )

    docs2 = spark.sql(f"WITH {_DOCS2} SELECT * FROM docs2").withColumn(
        "quality", ((F.col("doc_id") * F.lit(2654435761)) % 1000).cast("int")
    )
    pairs = minhash_near_dup_pairs(docs2, threshold=0.8, hasher="md5")
    return keep_best_survivors(docs2, pairs.select("doc_a", "doc_b"), "quality")


@query(
    "q120_inverted_index",
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({DUCK_NORM}, ' ')) AS term FROM documents
),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks WHERE term <> ''
  GROUP BY term, doc_id
),
stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
         CAST(sum(tf) AS BIGINT) AS total_tf,
         min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
  FROM tf GROUP BY term
),
head AS (
  SELECT term,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting_head
  FROM (SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM tf)
  WHERE rn <= 5 GROUP BY term
)
SELECT s.term, s.doc_freq, s.total_tf, s.min_doc_id, s.max_doc_id, h.posting_head
FROM stats s JOIN head h USING (term)
""",
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (text.inverted_index): per-term
    document frequency, total tf, doc-id range, and a BOUNDED posting
    head (5 smallest doc ids) — the retrieval index behind
    decontamination lookups and topical corpus audits. The head is
    two-phase min-k over (term, salt) buckets, so a stopword's posting
    list never sorts in one task; full postings are never collected.
    Oracle replays the same index with string_split + window min-k."""
    from quanta_contrib.operators.text import inverted_index

    return inverted_index(spark.table("documents"))


@query(
    "q121_data_quality_report",
    """
WITH li AS (SELECT count(*) AS n FROM lineitem)
SELECT 'l_quantity_in_1_50' AS check_name,
       CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(count(*) AS BIGINT) AS n_rows,
       sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) = 0 AS passed
FROM lineitem
UNION ALL
SELECT 'l_discount_in_0_10pct',
       CAST(sum(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       sum(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'l_extendedprice_positive',
       CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'l_tax_at_most_5pct',
       CAST(sum(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       sum(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'l_shipdate_not_null',
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'unique_l_orderkey_l_linenumber',
       CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
       CAST(count(*) AS BIGINT),
       count(*) = count(DISTINCT (l_orderkey, l_linenumber))
FROM lineitem
UNION ALL
SELECT 'ref_l_orderkey_in_o_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
       (SELECT CAST(n AS BIGINT) FROM li),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
UNION ALL
SELECT 'ref_l_partkey_in_p_partkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
       (SELECT CAST(n AS BIGINT) FROM li),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) = 0
""",
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality check suite (operators/validate.py) —
    the validation you run over a 100 TB feed BEFORE training: five
    row-level checks sharing ONE scan (a single conditional-sum
    aggregate, map-side partial, unpivoted with stack()), key
    uniqueness as count vs count-distinct, and two referential-
    integrity left-anti joins (broadcast reference side). The
    l_tax_at_most_5pct check fails by construction (tax goes to 8%),
    so violation ACCOUNTING is value-checked, not just the happy path.
    Report is O(#checks) rows regardless of input size."""
    from quanta_contrib.operators.validate import (
        constraint_report,
        referential_check,
        uniqueness_check,
        validate_rows,
    )

    li = spark.table("lineitem")
    rows = validate_rows(
        li,
        {
            "l_quantity_in_1_50": ~F.col("l_quantity").between(1, 50),
            "l_discount_in_0_10pct": ~F.col("l_discount").between(0, 0.1),
            "l_extendedprice_positive": ~(F.col("l_extendedprice") > 0),
            "l_tax_at_most_5pct": F.col("l_tax") > 0.05,
            "l_shipdate_not_null": F.col("l_shipdate").isNull(),
        },
    )
    return constraint_report(
        [
            rows,
            uniqueness_check(li, ["l_orderkey", "l_linenumber"]),
            referential_check(
                li, "l_orderkey", spark.table("orders"), "o_orderkey",
                name="ref_l_orderkey_in_o_orderkey", broadcast_ref=False,
            ),
            referential_check(
                li, "l_partkey", spark.table("part"), "p_partkey",
                name="ref_l_partkey_in_p_partkey",
            ),
        ]
    )


@query(
    "q122_ewma_user_value",
    """
WITH o AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(max(CASE WHEN rn = n THEN value END) * 10000 + 0.5) AS BIGINT) AS last_value_bp,
       CAST(floor(sum((CASE WHEN rn = 1 THEN power(0.5, n - 1)
                            ELSE 0.5 * power(0.5, n - rn) END) * value) * 10000 + 0.5) AS BIGINT) AS ewma_bp
FROM o GROUP BY user_id
""",
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (timeseries.ewma_by_key) — the
    recency-weighted feature every behavioral model wants. The
    recursion e_i = a*x_i + (1-a)*e_{i-1} is computed CLOSED-FORM as a
    weighted sum in pure Catalyst window + aggregate expressions (no
    per-key Python loop, no UDF); weights underflow to exact IEEE zero
    beyond ~1e3 steps, so unbounded history costs nothing. Oracle
    replays the same closed form with SQL window functions."""
    from quanta_contrib.operators.timeseries import ewma_by_key

    return ewma_by_key(spark.table("events"), alpha=0.5)


_Q123_ORACLE = """
WITH {cte},
nxt AS (
  SELECT conv_id, turn_idx, role, ts,
         lead(role) OVER w AS nrole,
         lead(turn_idx) OVER w AS nidx,
         lead(ts) OVER w AS nts
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
r AS (
  SELECT CAST((epoch_us(nts) - epoch_us(ts)) // 1000000 AS BIGINT) AS sec
  FROM nxt WHERE role = 'user' AND nrole = 'assistant' AND nidx = turn_idx + 1
),
b AS (
  SELECT CASE WHEN sec < 1 THEN '0_under_1s'
              WHEN sec < 10 THEN '1_1_to_10s'
              WHEN sec < 60 THEN '2_10_to_60s'
              WHEN sec < 600 THEN '3_1_to_10m'
              ELSE '4_over_10m' END AS latency_bucket, sec
  FROM r
)
SELECT latency_bucket, CAST(count(*) AS BIGINT) AS n_replies,
       CAST(min(sec) AS BIGINT) AS min_s, CAST(max(sec) AS BIGINT) AS max_s,
       CAST(sum(sec) AS BIGINT) AS sum_s
FROM b GROUP BY latency_bucket
""".format(cte=TRANSCRIPTS_CTE)


@query("q123_reply_latency_histogram", _Q123_ORACLE)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent reply-latency SLO histogram
    (dialogue.reply_latency_histogram): user->assistant adjacent-turn
    ts gaps bucketed into INTEGER-second latency bands (no float log
    boundaries — every bucket edge is exact in both engines). One
    conv_id shuffle for the lead() window, then a 5-row aggregate."""
    from quanta_contrib.operators.dialogue import reply_latency_histogram

    return reply_latency_histogram(transcripts_df(spark))


def _q124_iter(src_c: str, src_a_prev: str, out_d: str, out_a: str, out_u: str, out_c: str) -> str:
    """One Lloyd iteration of the q124 oracle: distances under {src_c},
    argmin assignment, floored-integer-mean update with empty-cell
    carry-forward."""
    return f"""
{out_d} AS (
  SELECT q.vec_id, q.v, {src_c}.cell,
         list_sum([(q.v[i]-{src_c}.c[i])*(q.v[i]-{src_c}.c[i])
                   for i in generate_series(1, 64)]) AS d2
  FROM q CROSS JOIN {src_c}
),
{out_a} AS (
  SELECT vec_id, v, cell, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM {out_d}
  ) WHERE rn = 1
),
{out_u} AS (
  SELECT {out_a}.cell, g.i AS dim,
         CAST(floor(sum(v[g.i])::DOUBLE / count(*)) AS BIGINT) AS c_val
  FROM {out_a} CROSS JOIN generate_series(1, 64) AS g(i)
  GROUP BY {out_a}.cell, g.i
),
{out_c} AS (
  SELECT {src_c}.cell, coalesce(l.c, {src_c}.c) AS c
  FROM {src_c} LEFT JOIN (
    SELECT cell, list(c_val ORDER BY dim) AS c FROM {out_u} GROUP BY cell
  ) l USING (cell)
)"""


_Q124_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) for x in embedding] AS v
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS cell,
         v AS c
  FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 6
),{_q124_iter("c0", "", "d0", "a0", "u1", "c1")},{_q124_iter("c1", "", "d1", "a1", "u2", "c2")},
stats AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_members, CAST(sum(d2) AS BIGINT) AS sum_d2
  FROM a1 GROUP BY cell
)
SELECT c2.cell, CAST(g.i - 1 AS INT) AS dim, CAST(c2.c[g.i] AS BIGINT) AS c_val,
       coalesce(s.n_members, 0) AS n_members,
       coalesce(s.sum_d2, 0) AS sum_d2
FROM c2 CROSS JOIN generate_series(1, 64) AS g(i)
LEFT JOIN stats s USING (cell)
"""


@query("q124_kmeans_train", _Q124_ORACLE)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (clustering.kmeans_train_quantized)
    — real Lloyd iterations where the IVF family seeds with md5-least
    stand-ins: broadcast k x d centroids, ONE Arrow pass per iteration
    emitting per-partition partial sums (k x d + counts, never a row
    per point), a (cell, dim) hash aggregate, and a bounded k*d driver
    update. Integer-exact end to end (quantized vectors, int64
    distances, floored integer means, lowest-cell tie-break, empty-cell
    carry-forward), so the DuckDB oracle replays BOTH iterations
    bit-for-bit including the exact integer inertia per cell."""
    from quanta_contrib.operators.clustering import kmeans_train_quantized

    return kmeans_train_quantized(
        spark.table("embeddings"), k=6, n_iter=2, scale=1000
    )


_Q125_CHECK_SQL = """
  SELECT window_start,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN length(text) < 15 THEN 1 ELSE 0 END) AS BIGINT) AS short_text,
         CAST(sum(CASE WHEN role NOT IN ('user','assistant','tool') THEN 1 ELSE 0 END) AS BIGINT) AS unknown_role,
         CAST(sum(CASE WHEN role = 'tool' AND tool IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tool_turn_missing_tool,
         CAST(sum(CASE WHEN role = 'user' AND turn_idx % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS user_turn_odd_idx
  FROM w GROUP BY window_start
"""

_Q125_ORACLE = """
WITH {cte},
w AS (
  SELECT date_trunc('day', ts) AS window_start, text, role, tool, turn_idx
  FROM transcripts
),
g AS ({checks})
SELECT window_start, 'short_text' AS check_name, short_text AS n_violations,
       n_rows, short_text = 0 AS passed FROM g
UNION ALL
SELECT window_start, 'unknown_role', unknown_role, n_rows, unknown_role = 0 FROM g
UNION ALL
SELECT window_start, 'tool_turn_missing_tool', tool_turn_missing_tool, n_rows,
       tool_turn_missing_tool = 0 FROM g
UNION ALL
SELECT window_start, 'user_turn_odd_idx', user_turn_odd_idx, n_rows,
       user_turn_odd_idx = 0 FROM g
""".format(cte=TRANSCRIPTS_CTE, checks=_Q125_CHECK_SQL)


@query("q125_stream_quality_monitor", _Q125_ORACLE)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-quality monitor (validate.stream_quality_monitor)
    — q121's check contract applied to the ingest stream itself: per
    1-day event-time window, per check, violation counts in ONE
    append-mode windowed aggregate (state = one counter row per open
    window; the per-check stack() unpivot runs post-aggregate). The
    short_text check (length < 15, between the corpus min 13 and median
    15) fires on a strict subset of rows, so violation accounting is
    value-checked on stream; the structural checks hold at zero. The
    heartbeat that closes the final window lands 30 days out and is
    stripped by window_start."""
    import pandas as pd

    from quanta_spark.operators.validate import stream_quality_monitor

    max_ts = pd.Timestamp(
        spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT max(ts) m FROM transcripts").first()["m"]
    )
    checks = {
        "short_text": F.length("text") < 15,
        "unknown_role": ~F.col("role").isin("user", "assistant", "tool"),
        "tool_turn_missing_tool": (F.col("role") == "tool") & F.col("tool").isNull(),
        "user_turn_odd_idx": (F.col("role") == "user") & (F.col("turn_idx") % 2 == 1),
    }
    return _run_stream_query(
        spark,
        lambda src: stream_quality_monitor(
            src, checks, window="1 day", watermark="1 hour"
        ),
        jitter=False,
        strip_heartbeat=lambda pdf: pdf[pdf["window_start"] <= max_ts],
    )


@query(
    "q126_psi_drift",
    """
WITH b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS day,
         least(greatest(CAST(floor(CAST(value AS DOUBLE) / 50) AS INT), 0), 9) AS bin
  FROM events
),
counts AS (SELECT key, day, bin, count(*) AS c FROM b GROUP BY key, day, bin),
days AS (SELECT DISTINCT key, day FROM counts),
grid AS (SELECT key, day, g.i AS bin FROM days CROSS JOIN generate_series(0, 9) AS g(i)),
dense AS (
  SELECT g.key, g.day, g.bin, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c ON c.key = g.key AND c.day = g.day AND c.bin = g.bin
),
totals AS (SELECT key, day, sum(c) AS n FROM dense GROUP BY key, day),
probs AS (
  SELECT d.key, d.day, d.bin, t.n, (d.c + 1)::DOUBLE / (t.n + 10) AS p
  FROM dense d JOIN totals t ON t.key = d.key AND t.day = d.day
),
lagged AS (
  SELECT key, day, bin, n, p,
         lag(p) OVER w AS q,
         date_diff('day', lag(day) OVER w, day) = 1 AS adj
  FROM probs WINDOW w AS (PARTITION BY key, bin ORDER BY day)
)
SELECT key AS event_type, day,
       CAST(max(n) AS BIGINT) AS n_rows,
       CAST(floor(sum(CASE WHEN q IS NOT NULL AND adj
                           THEN (p - q) * ln(p / q) END) * 10000 + 0.5) AS BIGINT) AS psi_bp
FROM lagged GROUP BY key, day
""",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (timeseries.psi_drift) — per
    event_type and day, the population stability index of the value
    distribution vs the PREVIOUS day (add-one-smoothed 10-bin
    histograms): the standard drift alarm between a model's training
    window and live traffic, completing the DQ family (q121 batch
    suite, q125 stream monitor). One scan builds the (key, day, bin)
    count table; densify/lag/log-sum all run on that compact table.
    psi in basis points so ULP-level ln noise cannot flip the hash."""
    from quanta_contrib.operators.timeseries import psi_drift

    return psi_drift(spark.table("events"), lo=0.0, hi=500.0, n_bins=10)


@query(
    "q127_random_projection",
    """
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) for x in embedding] AS v
  FROM embeddings
)
SELECT vec_id, CAST(j.j AS INT) AS out_dim,
       list_sum([
         CASE WHEN (strpos('0123456789abcdef',
                           substr(md5((i - 1)::VARCHAR || '-' || j.j::VARCHAR), 1, 1)) - 1) % 2 = 0
              THEN v[i] ELSE -v[i] END
         for i in generate_series(1, 64)
       ]) AS y
FROM q CROSS JOIN generate_series(0, 15) AS j(j)
""",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse sign random projection (clustering.random_project) —
    Johnson-Lindenstrauss 64->16 reduction with a ±1 matrix derived
    from md5 parity (data-independent, seed-free, engine-portable; no
    RNG state to ship). Inputs quantize to integers so every
    projection sum is EXACT; the whole operator is zip_with +
    aggregate folds in whole-stage codegen — zero Python, zero
    shuffle. Oracle re-derives the identical sign matrix from the same
    md5 parity in SQL."""
    from quanta_contrib.operators.clustering import random_project

    return random_project(spark.table("embeddings"), in_dim=64, out_dim=16)


@query(
    "q128_role_trigrams",
    """
WITH {cte},
tri AS (
  SELECT conv_id, role AS r1,
         lead(role, 1) OVER w AS r2,
         lead(role, 2) OVER w AS r3
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT r1, r2, r3,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM tri WHERE r2 IS NOT NULL AND r3 IS NOT NULL
GROUP BY r1, r2, r3
HAVING count(DISTINCT conv_id) >= 2
""".format(cte=TRANSCRIPTS_CTE),
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent conversation-shape mining
    (dialogue.role_trigram_patterns): (role, next, next-next) trigram
    counts + distinct-conversation support — the batch complement of
    the CEP matchers (they MATCH a given pattern; this MINES the
    frequent ones). One conv_id shuffle feeding two lead() windows;
    aggregates run on the |roles|^3-bounded trigram table."""
    from quanta_contrib.operators.dialogue import role_trigram_patterns

    return role_trigram_patterns(transcripts_df(spark), min_support=2)


_Q129_NEW_SQL = """
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' changed' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         'novel doc ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 11 = 0
"""


@query(
    "q129_snapshot_diff",
    f"""
WITH newsnap AS ({_Q129_NEW_SQL}),
o AS (SELECT doc_id AS oid, md5({DUCK_NORM}) AS ofp FROM documents),
n AS (SELECT doc_id AS nid, md5({DUCK_NORM}) AS nfp FROM newsnap),
cat AS (
  SELECT n.nfp,
         CASE WHEN o.oid IS NULL THEN 'added'
              WHEN n.nid IS NULL THEN 'removed'
              WHEN o.ofp = n.nfp THEN 'unchanged'
              ELSE 'changed' END AS category
  FROM o FULL OUTER JOIN n ON n.nid = o.oid
)
SELECT category, CAST(count(*) AS BIGINT) AS n_docs FROM cat GROUP BY category
UNION ALL
SELECT 'added_dup_content', CAST(count(*) AS BIGINT)
FROM cat WHERE category = 'added' AND nfp IN (SELECT ofp FROM o)
""",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot diff / ingest accounting
    (dedup.snapshot_diff): day-N vs day-N+1 corpus versions classified
    added / removed / changed / unchanged via an id-keyed full-outer
    join on content fingerprints, plus added docs whose CONTENT already
    existed anywhere in day N (re-uploads caught without rescanning
    day N's pairs — a left-semi join on the fingerprint). The synthetic
    day-N+1 plants every category: ids %10==3 removed, %7==0 texts
    changed, %5==0 re-uploaded under new ids (dup content), %11==0
    genuinely novel docs added."""
    from quanta_contrib.operators.dedup import snapshot_diff

    old = spark.table("documents")
    base = old.filter(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" changed"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    reup = old.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    novel = old.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.lit("novel doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    new = base.unionByName(reup).unionByName(novel)
    return snapshot_diff(old, new)


@query(
    "q130_class_centroid_eval",
    """
WITH q AS (
  SELECT vec_id, label,
         [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) for x in embedding] AS v
  FROM embeddings
),
sums AS (
  SELECT label, g.i AS dim, sum(v[g.i]) AS s, count(*) AS n
  FROM q CROSS JOIN generate_series(1, 64) AS g(i)
  GROUP BY label, g.i
),
cent AS (
  SELECT label AS clbl, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY dim) AS c
  FROM sums GROUP BY label
),
d AS (
  SELECT q.vec_id, q.label, cent.clbl,
         list_sum([(q.v[i]-cent.c[i])*(q.v[i]-cent.c[i])
                   for i in generate_series(1, 64)]) AS d2
  FROM q CROSS JOIN cent
),
a AS (
  SELECT vec_id, label, clbl FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clbl) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN clbl = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(floor(sum(CASE WHEN clbl = label THEN 1 ELSE 0 END) * 10000.0 / count(*) + 0.5) AS BIGINT) AS accuracy_bp
FROM a GROUP BY label
""",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid embedding evaluation
    (clustering.class_centroid_accuracy) — the standard cheap probe of
    embedding quality over the labeled table: per-label floored-
    integer-mean centroids (posexplode + (label, dim) hash aggregate,
    the q55 pooled-embeddings shape), then SHUFFLE-FREE assignment —
    the |labels| centroid arrays fold into one literal-array argmin
    expression evaluated inside the scan (no join, no corpus window).
    Integer-exact end to end; lowest-label ties."""
    from quanta_contrib.operators.clustering import class_centroid_accuracy

    return class_centroid_accuracy(spark.table("embeddings"))


@query(
    "q131_semantic_decontaminate",
    """
WITH bench AS (
  SELECT vec_id AS bench_id, embedding FROM embeddings WHERE vec_id % 37 = 0
),
corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 <> 0
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         [CAST(x * 0.9 + 0.05 AS FLOAT) for x in embedding] AS embedding
  FROM embeddings WHERE vec_id % 37 = 0
),
scored AS (
  SELECT c.vec_id, b.bench_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) * 10000)
              AS BIGINT) AS sim_bp
  FROM corpus c, bench b
),
best AS (
  SELECT vec_id, bench_id, sim_bp,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim_bp DESC, bench_id ASC) AS rk
  FROM scored
)
SELECT vec_id, bench_id AS nearest_bench_id, sim_bp AS max_sim_bp,
       (sim_bp >= 7000) AS contaminated
FROM best WHERE rk = 1
""",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination
    (similarity.semantic_decontaminate): scrub eval-set leakage the
    exact/fuzzy n-gram decontaminators (q51/q116) cannot see —
    paraphrases land near the eval vector in embedding space. The
    benchmark slice (vec_id % 37 = 0) plays the eval suite; the corpus
    is every other vector PLUS planted "paraphrases" — each bench
    vector re-embedded through a deterministic scale+shift (x*0.9+0.05,
    cosine ~0.95+ vs its source) under a new id, so the gate proves
    both directions: planted leaks flagged, organic corpus clean. One
    broadcast of the bench matrix, one Arrow corpus scan, zero joins —
    the corpus side never shuffles, so the plan is identical at 500
    rows and 10^11 rows."""
    from quanta_contrib.operators.similarity import semantic_decontaminate

    emb = spark.table("embeddings")
    bench = emb.filter(F.col("vec_id") % 37 == 0)
    planted = bench.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.05)).cast("float")
        ).alias("embedding"),
        "label",
    )
    corpus = emb.filter(F.col("vec_id") % 37 != 0).unionByName(planted)
    return semantic_decontaminate(corpus, bench, threshold_bp=7000)


@query(
    "q132_containment_neardup",
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 700000 AS doc_id,
         substr(text, 1, CAST(floor(length(text) / 2) AS INT)) AS text
  FROM documents WHERE doc_id % 7 = 0
),
n AS (SELECT doc_id, {DUCK_NORM} AS norm FROM corpus),
g AS (
  SELECT doc_id,
         unnest(list_distinct([substr(norm, i, 12)
                               for i in generate_series(1, len(norm) - 11)])) AS gram
  FROM n WHERE len(norm) >= 12
),
keepg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 64),
r AS (SELECT g.doc_id, g.gram FROM g JOIN keepg USING (gram)),
nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM r GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM r a JOIN r b ON b.gram = a.gram AND b.doc_id > a.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 8
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       na.n_grams AS n_a, nb.n_grams AS n_b,
       round(p.n_shared / na.n_grams, 4) AS containment_a_in_b,
       round(p.n_shared / nb.n_grams, 4) AS containment_b_in_a,
       (greatest(p.n_shared / na.n_grams, p.n_shared / nb.n_grams) >= 0.9) AS keep
FROM pairs p
JOIN nr na ON na.doc_id = p.doc_a
JOIN nr nb ON nb.doc_id = p.doc_b
""",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram CONTAINMENT near-dup (dedup.containment_pairs):
    catches excerpts/quotes that symmetric Jaccard (q22/q63) dilutes —
    a half-length prefix excerpt has Jaccard ~0.5 but containment ~1.0
    (Broder's resemblance-vs-containment distinction). Plants a
    first-half-prefix excerpt at doc_id+700000 for every 7th document;
    the oracle re-derives the full self-blocking chain (distinct
    12-grams -> df<=64 stopword-gram pruning -> gram self-join ->
    per-pair shared counts -> both containment directions) in SQL.
    Scale shape: the df cap bounds each gram's pair fan-out at
    max_df^2 exactly, so the candidate join is O(sum_g df_g^2), never
    corpus-quadratic, and gram fingerprints shuffle as xxhash64 ints,
    not strings."""
    from quanta_contrib.operators.dedup import containment_pairs

    docs = spark.table("documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.expr(
            "substring(text, 1, CAST(floor(length(text) / 2) AS INT))"
        ).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    return containment_pairs(corpus, n=12, threshold=0.9, max_df=64, min_shared=8)


def _q133_oracle(iters: int = 8) -> str:
    """Unrolled-CTE integer PageRank — DuckDB's recursive CTEs cannot
    aggregate in the recursive term, so the fixed iteration count is
    unrolled mechanically (same integer floor arithmetic as
    graph.pagerank, so the match is EXACT, not approximate)."""
    head = """
WITH base AS (SELECT DISTINCT doc_id % 1000 AS v FROM documents),
edges AS (
  SELECT v AS src, (v * 7 + 3) % 1000 AS dst FROM base
  UNION
  SELECT v AS src, (v * 13 + 5) % 1000 AS dst FROM base
  UNION
  SELECT v AS src, 0 AS dst FROM base WHERE v % 10 = 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
consts AS (SELECT CAST(1000000000 // count(*) AS BIGINT) AS init,
                  CAST(150000000 // count(*) AS BIGINT) AS teleport
           FROM nodes),
pr0 AS (SELECT node, (SELECT init FROM consts) AS pr FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
pr{i} AS (
  SELECT n.node,
         CAST((SELECT teleport FROM consts)
              + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr // o.deg) AS contrib
    FROM edges e
    JOIN pr{i - 1} p ON p.node = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)""")
    return head + "".join(steps) + f"\nSELECT node, pr FROM pr{iters}"


@query("q133_pagerank", _q133_oracle())
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (graph.pagerank) — the link-graph
    quality signal web-scale curation runs over the crawl graph before
    any text filter. The gate plants a deterministic 1000-node graph
    from doc_id arithmetic (two mixing permutation-ish edge families
    plus hub edges into node 0, which must surface as the top rank);
    the oracle unrolls the identical floor-division fixed-point
    recurrence through 8 chained CTEs, so every one of the ~1000 ranks
    must match BIT-EXACTLY — any drift in division order, damping, or
    dangling handling is a hash mismatch. Per-iteration cost is one
    src equi-join + one dst aggregate (the Pregel superstep); nothing
    iterates on the driver but the loop counter."""
    from quanta_contrib.operators.graph import pagerank

    base = spark.table("documents").select(
        (F.col("doc_id") % 1000).alias("v")
    ).distinct()
    e1 = base.select(
        F.col("v").alias("src"), ((F.col("v") * 7 + 3) % 1000).alias("dst")
    )
    e2 = base.select(
        F.col("v").alias("src"), ((F.col("v") * 13 + 5) % 1000).alias("dst")
    )
    e3 = base.filter(F.col("v") % 10 == 0).select(
        F.col("v").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    edges = e1.unionByName(e2).unionByName(e3).distinct()
    return pagerank(edges, iters=8)


_Q134_STEP_US = 6 * 3_600_000_000


@query(
    "q134_gapfill",
    f"""
WITH obs AS (
  SELECT user_id AS key,
         make_timestamp((epoch_us(ts) // {_Q134_STEP_US}) * {_Q134_STEP_US}) AS tick,
         max(value) AS value
  FROM events GROUP BY 1, 2
),
rng AS (SELECT key, min(tick) AS mn, max(tick) AS mx FROM obs GROUP BY key),
spine AS (
  SELECT key, unnest(generate_series(mn, mx, INTERVAL 6 HOUR)) AS tick FROM rng
),
base AS (
  SELECT s.key, s.tick, o.value
  FROM spine s LEFT JOIN obs o ON o.key = s.key AND o.tick = s.tick
),
win AS (
  SELECT key, tick, value,
    last_value(CASE WHEN value IS NOT NULL
                    THEN struct_pack(t := tick, v := value) END IGNORE NULLS)
      OVER (PARTITION BY key ORDER BY tick
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
    first_value(CASE WHEN value IS NOT NULL
                     THEN struct_pack(t := tick, v := value) END IGNORE NULLS)
      OVER (PARTITION BY key ORDER BY tick
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM base
)
SELECT key AS user_id, tick, value,
       prev.v AS value_locf,
       CASE WHEN value IS NOT NULL THEN value
            ELSE floor((prev.v + (nxt.v - prev.v)
                 * ((epoch_us(tick) - epoch_us(prev.t))
                    / (epoch_us(nxt.t) - epoch_us(prev.t)))) * 10000 + 0.5)
                 / 10000
       END AS value_linear,
       (value IS NULL) AS is_gap
FROM win
""",
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap fill with LOCF + linear interpolation
    (timeseries.gapfill ≙ TimescaleDB time_bucket_gapfill/locf/
    interpolate): the events stream regularized onto a per-user 6-hour
    grid, gaps marked and filled both ways. Oracle re-derives the
    whole chain — floor-division ticks, per-key spine, both
    IGNORE-NULLS window fills, the exact interpolation ratio in µs
    integer arithmetic — so every filled value hash-matches."""
    from quanta_contrib.operators.timeseries import gapfill

    return gapfill(spark.table("events"), bucket="6 hours")


@query(
    "q135_scd2_history",
    """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_et,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
cuts AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev_et
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS INT) AS version,
       (lead(ts) OVER w IS NULL) AS is_current
FROM cuts
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (timeseries.scd2_history): the events
    changelog versioned into per-user validity intervals with
    consecutive-duplicate collapse (a no-op upsert never cuts a
    version — the property a raw changelog lacks). Composes with the
    as-of join (q41) for point-in-time-correct enrichment and the
    interval join (q98) for overlap analytics. Oracle re-derives the
    identical change-point + lead() chain."""
    from quanta_contrib.operators.timeseries import scd2_history

    return scd2_history(spark.table("events"), attr_cols=("event_type",))


@query(
    "q136_zipf_fit",
    f"""
WITH nrm AS (SELECT lang, {DUCK_NORM} AS norm FROM documents),
toks AS (
  SELECT lang AS stratum, unnest(regexp_split_to_array(norm, ' ')) AS word
  FROM nrm
),
counts AS (
  SELECT stratum, word, count(*) AS freq
  FROM toks WHERE word <> '' GROUP BY 1, 2
),
ranked AS (
  SELECT stratum, word, freq,
         row_number() OVER (PARTITION BY stratum
                            ORDER BY freq DESC, word ASC) AS rank
  FROM counts
),
pts AS (
  SELECT stratum,
         CAST(floor(ln(rank) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(freq) * 1000000 + 0.5) AS BIGINT) AS y
  FROM ranked WHERE rank <= 1000
),
sums AS (
  SELECT stratum,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM pts GROUP BY stratum
)
SELECT stratum AS lang,
       CAST(n AS BIGINT) AS n_ranks,
       CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5)
            AS BIGINT) AS slope_bp,
       CAST(floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                  / 1000000 * 10000 + 0.5) AS BIGINT) AS intercept_bp
FROM sums
""",
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law exponent per language (text.zipf_fit): the
    corpus-health diagnostic — natural text fits ln(freq) ~ a - s
    ln(rank) with s near 1; template floods flatten it, synthetic
    tiny-vocab text cliffs it. Logs are quantized to 1e-6 BEFORE the
    regression sums so the sums are integer-exact (order-independent);
    both engines then combine the same five integers in double. The
    oracle re-derives tokenize -> count -> rank -> quantize -> fit."""
    from quanta_contrib.operators.text import zipf_fit

    return zipf_fit(spark.table("documents"), max_rank=1000)


_Q137_STEP_US = 6 * 3_600_000_000


@query(
    "q137_stream_gapfill",
    f"""
WITH obs AS (
  SELECT user_id,
         make_timestamp((epoch_us(ts) // {_Q137_STEP_US}) * {_Q137_STEP_US}) AS tick,
         max(value) AS value
  FROM events GROUP BY 1, 2
),
rng AS (SELECT user_id, min(tick) AS mn, max(tick) AS mx FROM obs GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 6 HOUR)) AS tick FROM rng
),
base AS (
  SELECT s.user_id, s.tick, o.value
  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.tick = s.tick
)
SELECT user_id, tick, value,
       last_value(value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY tick
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       (value IS NULL) AS is_gap
FROM base
""",
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING time-bucket gap fill (stateful.stream_gapfill_locf):
    the events series replayed as a real file stream; each (user, 6h)
    tick is emitted exactly once when the watermark proves it final —
    observed ticks with their per-tick max, gap ticks carrying the
    LOCF value, per-key emission monotone in tick. The heartbeat row
    finalizes the tail; the drained cumulative output must equal the
    BATCH gapfill spine (q134's LOCF columns) row-for-row — the
    streaming/batch parity contract (q32-vs-q13 precedent)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_contrib.operators.stateful import stream_gapfill_locf
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    pdf = (
        spark.table("events")
        .select("user_id", "ts", "value")
        .toPandas()
        .sort_values(["ts", "user_id"])
    )
    _guard_gate_rows(len(pdf), "event stream input")
    d = tempfile.mkdtemp(prefix="qs_gapstream_")
    schema = pa.schema(
        [
            pa.field("user_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("value", pa.float64()),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)
    src = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    out_stream = stream_gapfill_locf(src, bucket="6 hours", watermark="1 hour")
    rows: list = []

    def _sink(b, i):
        rows.extend(b.collect())
        _guard_gate_rows(len(rows), "collected output")

    h = start_pipeline(out_stream, _sink, tempfile.mkdtemp(prefix="qs_gapstream_ckpt_"))
    h.process_all_available()
    hb = pdf.iloc[[0]].copy()
    hb["user_id"] = -1
    hb["ts"] = pdf["ts"].max() + pd.Timedelta(days=30)
    hb_path = os.path.join(d, "part-heartbeat.parquet")
    pq.write_table(
        pa.Table.from_pandas(hb, schema=schema, preserve_index=False), hb_path
    )
    stamp_arrival_order([hb_path])
    run_to_completion(h)
    out_pdf = pd.DataFrame([r.asDict() for r in rows])
    out_pdf = out_pdf[out_pdf["user_id"] >= 0]  # heartbeat key never emits
    return spark.createDataFrame(out_pdf, schema=out_stream.schema)


@query(
    "q138_rrf_hybrid",
    """
WITH ra AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY nt DESC, doc_id ASC) AS BIGINT) AS rank_0
  FROM (SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS nt
        FROM documents)
  QUALIFY rank_0 <= 100
),
rb AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY sim_bp DESC, vec_id ASC) AS BIGINT) AS rank_1
  FROM (SELECT c.vec_id,
               CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[]))
                          * 10000) AS BIGINT) AS sim_bp
        FROM embeddings c,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE c.vec_id <> 0)
  QUALIFY rank_1 <= 100
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, ra.rank_0, rb.rank_1
  FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id
)
SELECT doc_id, rank_0, rank_1,
       CAST(floor((CASE WHEN rank_0 IS NOT NULL
                        THEN 1.0 / (60.0 + rank_0) ELSE 0.0 END
                 + CASE WHEN rank_1 IS NOT NULL
                        THEN 1.0 / (60.0 + rank_1) ELSE 0.0 END)
                  * 1000000 + 0.5) AS BIGINT) AS rrf_e6
FROM fused
""",
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval reciprocal-rank fusion (similarity.rrf_fuse,
    Cormack et al. 2009): a lexical ranking (top-100 docs by token
    count — standing in for BM25's shape with a compact oracle) fused
    with a vector ranking (top-100 by cosine vs vec 0, q27's
    brute-force machinery) without score calibration. Integer ranks
    in, fixed-order float expression out — no float aggregation, so
    rrf_e6 is engine-deterministic. The top-100 cutoffs are the gate
    fixture; the operator itself never sorts globally (it returns
    scores for the skew-safe top-k)."""
    from pyspark.sql.window import Window

    from quanta_contrib.operators.similarity import brute_force_cosine_topk, rrf_fuse
    from quanta_contrib.operators.text import ws_token_count

    docs = spark.table("documents")
    toks = docs.select("doc_id", ws_token_count(F.col("text")).alias("nt"))
    wa = Window.orderBy(F.col("nt").desc(), F.col("doc_id").asc())
    ra = (
        toks.withColumn("rank", F.row_number().over(wa))
        .filter(F.col("rank") <= 100)
        .select("doc_id", "rank")
    )
    emb = spark.table("embeddings")
    rb = brute_force_cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=100
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([ra, rb], k=60)


_Q139_SEED = """
  SELECT doc_id,
         concat(text,
           CASE WHEN doc_id % 3 = 0
                THEN concat(' reach user', CAST(doc_id AS VARCHAR), '@corp.example.org') ELSE '' END,
           CASE WHEN doc_id % 4 = 0 THEN ' card 4242424242424242 ok' ELSE '' END,
           CASE WHEN doc_id % 5 = 0 THEN ' card 4242424242424243 ok' ELSE '' END,
           CASE WHEN doc_id % 6 = 0
                THEN concat(' host 10.1.', CAST(doc_id % 256 AS VARCHAR), '.7') ELSE '' END,
           CASE WHEN doc_id % 7 = 0 THEN ' bogus 999.888.777.666' ELSE '' END
         ) AS text
  FROM documents
"""


@query(
    "q139_pii_scan",
    f"""
WITH seeded AS ({_Q139_SEED}),
cc AS (
  SELECT doc_id,
         regexp_replace(unnest(regexp_extract_all(text, '[0-9][0-9 -]{{11,22}}[0-9]')),
                        '[^0-9]', '', 'g') AS cl
  FROM seeded
),
ccv AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_luhn
  FROM cc
  WHERE length(cl) BETWEEN 13 AND 19
    AND list_sum([CASE WHEN (length(cl) - i) % 2 = 0
                       THEN strpos('0123456789', substr(cl, i, 1)) - 1
                       ELSE CASE WHEN 2 * (strpos('0123456789', substr(cl, i, 1)) - 1) > 9
                                 THEN 2 * (strpos('0123456789', substr(cl, i, 1)) - 1) - 9
                                 ELSE 2 * (strpos('0123456789', substr(cl, i, 1)) - 1) END
                  END
                  for i in generate_series(1, length(cl))]) % 10 = 0
  GROUP BY doc_id
),
ccc AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_cc FROM cc GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(regexp_extract_all(s.text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(s.text,
            '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b')) AS INT) AS n_ipv4,
       COALESCE(ccc.n_cc, 0) AS n_cc_candidates,
       COALESCE(ccv.n_luhn, 0) AS n_luhn_valid,
       (len(regexp_extract_all(s.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
        + len(regexp_extract_all(s.text,
              '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b'))
        + COALESCE(ccv.n_luhn, 0)) > 0 AS has_pii
FROM seeded s
LEFT JOIN ccc ON ccc.doc_id = s.doc_id
LEFT JOIN ccv ON ccv.doc_id = s.doc_id
""",
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed PII scan with Luhn validation (text.pii_scan): documents
    seeded with a deterministic mix — emails on every 3rd doc, a
    Luhn-VALID card on every 4th, a Luhn-INVALID near-miss on every
    5th (counted as candidate, rejected by the checksum), a valid
    IPv4 on every 6th and an out-of-range fake on every 7th (rejected
    by the octet-range pattern). The oracle re-implements the exact
    extraction + mod-10 fold, so a false accept or reject anywhere
    hash-mismatches."""
    from quanta_contrib.operators.text import pii_scan

    seeded = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@corp.example.org"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" card 4242424242424242 ok")).otherwise(""),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" card 4242424242424243 ok")).otherwise(""),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit(" host 10.1."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" bogus 999.888.777.666")).otherwise(""),
        ).alias("text"),
    )
    return pii_scan(seeded)


@query(
    "q140_pmi_collocations",
    f"""
WITH nrm AS (SELECT {DUCK_NORM} AS norm FROM documents),
ws AS (SELECT regexp_split_to_array(norm, ' ') AS w FROM nrm WHERE norm <> ''),
uni AS (SELECT unnest(w) AS word FROM ws),
ucnt AS (SELECT word, count(*) AS c FROM uni GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens FROM ucnt),
big AS (
  SELECT unnest([{{'w1': w[i+1], 'w2': w[i+2]}} for i in generate_series(0, len(w)-2)],
                recursive := true)
  FROM ws WHERE len(w) >= 2
),
bcnt AS (SELECT w1, w2, count(*) AS c_xy FROM big GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS pair_count,
       CAST(floor(ln((CAST(b.c_xy AS DOUBLE) * t.n_tokens)
                     / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) * 10000 + 0.5)
            AS BIGINT) AS pmi_bp
FROM bcnt b
JOIN ucnt u1 ON u1.word = b.w1
JOIN ucnt u2 ON u2.word = b.w2
CROSS JOIN tot t
ORDER BY pmi_bp DESC, w1, w2 LIMIT 200
""",
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining by PMI (text.pmi_collocations) —
    phrase discovery for tokenizer/vocab curation (Church & Hanks
    1990). Counts are exact integers in both engines; PMI combines
    them in double with an identical expression tree and quantizes to
    basis points, so the top-200 selection order (pmi_bp, w1, w2) is a
    cross-engine total order. The oracle re-derives tokenize ->
    bigram/unigram counts -> PMI -> top-200."""
    from quanta_contrib.operators.text import pmi_collocations

    return pmi_collocations(spark.table("documents"), min_count=5, top_n=200)


# q141 seed: a 12-hex-char registry key per customer, plus a corrupted
# replica — 1 substitution ('z' at p1), 2 for even ids ('q' at p2; p2
# may collide with p1, leaving 1), and an unlinkable 3-substitution
# 'zzz' prefix for ids % 9 == 0 (hex never contains z/q, so every
# planted substitution really changes the char and distances are exact)
_Q141_MASTER = (
    "SELECT c_custkey AS m_id, "
    "substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS key FROM customer"
)
_Q141_VARIANT_CASE = """
  CASE WHEN m_id % 9 = 0 THEN concat('zzz', substr(key, 4, 9))
       WHEN m_id % 2 = 0 THEN concat(substr(s1, 1, p2 - 1), 'q', substr(s1, p2 + 1, 12 - p2))
       ELSE s1 END
"""


@query(
    "q141_fuzzy_link",
    f"""
WITH m AS ({_Q141_MASTER}),
pos AS (
  SELECT m_id, key,
         CAST(m_id % 12 AS INT) + 1 AS p1,
         CAST((m_id // 7) % 12 AS INT) + 1 AS p2
  FROM m
),
s AS (
  SELECT m_id, key, p2,
         concat(substr(key, 1, p1 - 1), 'z', substr(key, p1 + 1, 12 - p1)) AS s1
  FROM pos
),
v AS (SELECT m_id AS v_id, {_Q141_VARIANT_CASE} AS key FROM s)
SELECT m.m_id, v.v_id,
       CAST(len(list_filter(generate_series(1, 12),
                i -> substr(m.key, i, 1) <> substr(v.key, i, 1))) AS INT) AS dist
FROM m, v
WHERE len(list_filter(generate_series(1, 12),
          i -> substr(m.key, i, 1) <> substr(v.key, i, 1))) <= 2
""",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (dedup.fuzzy_link): reconcile a
    corrupted key replica against its master registry under <= 2
    character substitutions. The operator blocks on 3 contiguous key
    chunks (pigeonhole: <= 2 subs leave one chunk exact -> exact
    recall, same argument as SimHash chunk blocking) and verifies
    exact Hamming distance; the oracle is the brute-force all-pairs
    Hamming join, so the gate proves the blocked plan loses nothing.
    Planted corruption: 1 sub, 2 subs (even ids), and a 3-sub 'zzz'
    prefix (ids % 9 == 0) that must NOT link."""
    from quanta_contrib.operators.dedup import fuzzy_link

    m = spark.sql(_Q141_MASTER.replace("VARCHAR", "STRING"))
    s = m.selectExpr(
        "m_id",
        "key",
        "CAST(m_id % 12 AS INT) + 1 AS p1",
        "CAST((m_id div 7) % 12 AS INT) + 1 AS p2",
    ).selectExpr(
        "m_id",
        "key",
        "p2",
        "concat(substr(key, 1, p1 - 1), 'z', substr(key, p1 + 1, 12 - p1)) AS s1",
    )
    v = s.selectExpr("m_id AS v_id", f"{_Q141_VARIANT_CASE} AS key")
    return fuzzy_link(m, v, "m_id", "v_id", "key", max_subs=2)


_Q142_ORACLE = f"""
WITH {TRANSCRIPTS_CTE},
tok AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000) AS window_start,
         unnest(string_split({DUCK_NORM}, ' ')) AS term
  FROM transcripts
),
c AS (
  SELECT window_start, term, count(*) AS n
  FROM tok WHERE len(term) > 0 GROUP BY 1, 2
)
SELECT window_start, term, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, term ASC) AS rk
  FROM c
) t
WHERE rk <= 5
"""


@query("q142_stream_topk_terms", _Q142_ORACLE)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact top-k terms per 6h tumbling window
    (stateful.stream_topk_terms) — the streaming twin of batch q92
    trending terms: per-window term counts accumulate in state while
    the window is open; when the watermark proves a window FINAL its
    top-5 (count desc, term asc — a total order) is emitted exactly
    once and the state dropped. Jittered arrivals inside the watermark
    must not change the result; the drained stream must equal the
    batch count+rank plan (the oracle) row-for-row. The heartbeat's
    own far-future window never finalizes and is stripped by
    timestamp."""
    import pandas as pd

    from quanta_contrib.operators.stateful import stream_topk_terms

    max_ts = pd.Timestamp(
        spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT max(ts) m FROM transcripts").first()["m"]
    )

    def strip(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pd.to_datetime(pdf["window_start"]) <= max_ts]

    return _run_stream_query(
        spark,
        lambda src: stream_topk_terms(src, k=5, window="6 hours", watermark="1 hour"),
        jitter=True,
        strip_heartbeat=strip,
    )


_M4_ORACLE_BODY = """
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY key, bucket ORDER BY ts ASC, v ASC) AS rf,
    row_number() OVER (PARTITION BY key, bucket ORDER BY ts DESC, v DESC) AS rl,
    row_number() OVER (PARTITION BY key, bucket ORDER BY v ASC, ts ASC) AS rmn,
    row_number() OVER (PARTITION BY key, bucket ORDER BY v DESC, ts ASC) AS rmx
  FROM b
)
SELECT key AS {key_out}, bucket,
  min(CASE WHEN rf = 1 THEN ts END) AS t_first,
  min(CASE WHEN rf = 1 THEN v END) AS v_first,
  min(CASE WHEN rmn = 1 THEN ts END) AS t_min,
  min(CASE WHEN rmn = 1 THEN v END) AS v_min,
  min(CASE WHEN rmx = 1 THEN ts END) AS t_max,
  min(CASE WHEN rmx = 1 THEN v END) AS v_max,
  min(CASE WHEN rl = 1 THEN ts END) AS t_last,
  min(CASE WHEN rl = 1 THEN v END) AS v_last,
  CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY 1, 2
"""


@query(
    "q143_m4_downsample",
    f"""
WITH b AS (
  SELECT event_type AS key,
         make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000) AS bucket,
         ts, CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
{_M4_ORACLE_BODY.format(key_out="event_type")}
""",
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (timeseries.m4_downsample; Jugel
    et al., VLDB 2014) over the events stream at 6 h pixel buckets:
    per (event_type, bucket) the four ACTUAL rows a pixel-perfect line
    plot needs — first / last / min-value / max-value — selected by
    lexicographic struct min/max with deterministic tie-breaks, so the
    oracle's four row_number() windows must pick literally the same
    rows. One (key, bucket) exchange; the n->4 reduction happens
    map-side inside the scan stage."""
    from quanta_spark.operators.timeseries import m4_downsample

    return m4_downsample(
        spark.table("events"),
        key_col="event_type",
        ts_col="ts",
        value_col="value",
        bucket="6 hours",
    )


@query(
    "q144_stream_m4",
    f"""
WITH {TRANSCRIPTS_CTE},
b AS (
  SELECT role AS key,
         make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000) AS bucket,
         ts, CAST(len(text) AS DOUBLE) AS v
  FROM transcripts
  WHERE role IS NOT NULL AND ts IS NOT NULL AND text IS NOT NULL
),
{_M4_ORACLE_BODY.format(key_out="role")}
""",
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING M4 downsampling — the live-dashboard twin of q143:
    per-role turn-length series downsampled to first/last/min/max per
    6 h bucket as the stream arrives. Pure built-in windowed
    aggregation (no custom state): watermark-finalized append-mode
    buckets each emit exactly once; jittered arrival within the
    watermark must not change which four rows are picked. The
    heartbeat's own far-future bucket never finalizes and is stripped
    by timestamp."""
    import pandas as pd

    from quanta_spark.operators.timeseries import m4_downsample

    max_ts = pd.Timestamp(
        spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT max(ts) m FROM transcripts").first()["m"]
    )

    def strip(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pd.to_datetime(pdf["bucket"]) <= max_ts]

    return _run_stream_query(
        spark,
        lambda src: m4_downsample(
            src.select("role", "ts", F.length("text").cast("double").alias("value")),
            key_col="role",
            ts_col="ts",
            value_col="value",
            bucket="6 hours",
            watermark="1 hour",
        ),
        jitter=True,
        strip_heartbeat=strip,
    )


@query(
    "q145_incremental_rollup",
    """
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e6,
       min(value) AS min_v,
       max(value) AS max_v,
       TRUE AS du_ok
FROM events
WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2
""",
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (rollup.rollup_aggregate/merge):
    the events table is SPLIT at its time midpoint into a 'history'
    and a 'delta' batch, each rolled up independently, then folded
    together with the join-based merge — and the result must equal the
    oracle's FULL-SCAN aggregate exactly (counts/fixed-point sums are
    integer-mergeable; min/max actual values; the maintained HLL
    distinct-user estimate must sit within 5% of the exact count,
    asserted Spark-side as du_ok so the boolean is oracle-portable).
    The split point cannot matter: merge(rollup(old), rollup(new)) ==
    rollup(all) is the continuous-aggregate contract."""
    from quanta_spark.operators.rollup import rollup_aggregate, rollup_merge

    ev = spark.table("events").select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "value",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cutoff = F.timestamp_micros(F.lit((int(lo) + int(hi)) // 2))
    keys = ["event_type", "day"]
    old = ev.filter(F.col("ts") < cutoff).drop("ts")
    new = ev.filter(F.col("ts") >= cutoff).drop("ts")
    merged = rollup_merge(
        rollup_aggregate(old, keys, "value", distinct_col="user_id"),
        rollup_aggregate(new, keys, "value", distinct_col="user_id"),
    )
    exact = (
        ev.filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(*keys)
        .agg(F.countDistinct("user_id").alias("_xd"))
    )
    return merged.join(exact, keys).select(
        "event_type",
        "day",
        "n",
        "sum_e6",
        "min_v",
        "max_v",
        (
            F.abs(F.hll_sketch_estimate("hll") - F.col("_xd"))
            <= F.lit(0.05) * F.col("_xd")
        ).alias("du_ok"),
    )


@query(
    "q146_stream_rollup_ingest",
    f"""
WITH {TRANSCRIPTS_CTE}
SELECT role,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(CAST(len(text) AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_e6,
       min(CAST(len(text) AS DOUBLE)) AS min_v,
       max(CAST(len(text) AS DOUBLE)) AS max_v,
       TRUE AS dc_ok
FROM transcripts
WHERE role IS NOT NULL AND text IS NOT NULL
GROUP BY 1
""",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING continuous-aggregate ingestion (sinks.rollup
    RollupSink): every micro-batch folds into a persisted per-role
    rollup of turn lengths — count / fixed-point sum / min / max plus
    an HLL of distinct conversations — via the generation-marker
    exactly-once protocol. No watermark and no heartbeat: the merge is
    associative and keyed only by the group, so jittered/late arrivals
    fold into their groups instead of being dropped — the final
    committed generation must equal the oracle's full-scan aggregate
    exactly (HLL within 5% of the exact distinct-conversation count,
    asserted Spark-side as dc_ok)."""
    from quanta_spark.sinks.rollup import RollupSink
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    data_dir = _write_transcript_stream(spark, jitter=True)
    ckpt = tempfile.mkdtemp(prefix="qs_rollup_ckpt_")
    sink = RollupSink(
        base_dir=tempfile.mkdtemp(prefix="qs_rollup_sink_"),
        keys=("role",),
        value_col="value",
        distinct_col="conv_id",
    )
    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=2, with_lineage=False
    ).select("role", "conv_id", F.length("text").cast("double").alias("value"))
    h = start_pipeline(src, sink, ckpt)
    run_to_completion(h)
    rollup = sink.read_rollup(spark)
    exact = spark.sql(
        f"WITH {TRANSCRIPTS_CTE} SELECT role, count(DISTINCT conv_id) AS _xd "
        "FROM transcripts WHERE role IS NOT NULL AND text IS NOT NULL GROUP BY 1"
    )
    return rollup.join(exact, "role").select(
        "role",
        "n",
        "sum_e6",
        "min_v",
        "max_v",
        (
            F.abs(F.hll_sketch_estimate("hll") - F.col("_xd"))
            <= F.lit(0.05) * F.col("_xd")
        ).alias("dc_ok"),
    )


@query(
    "q147_triangle_count",
    """
WITH base AS (SELECT DISTINCT doc_id % 500 AS v FROM documents),
raw AS (
  SELECT v AS s, (v + 1) % 500 AS d FROM base
  UNION ALL SELECT v, (v + 2) % 500 FROM base
  UNION ALL SELECT v, (v * 3 + 7) % 500 FROM base WHERE v % 5 = 0
),
und AS (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM raw WHERE s <> d
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT v, CAST(count(*) AS BIGINT) AS n_tri
FROM (
  SELECT x AS v FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) t
GROUP BY 1
""",
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-vertex triangle counting (graph.triangle_count) —
    local clustering signal over the crawl/link graph (the other
    classic link-quality feature next to q133's PageRank). The operator
    runs the degree-ordered-orientation algorithm (out-degree bounded
    by O(sqrt m) after orientation, so the wedge join never explodes on
    hub vertices); the oracle brute-forces the same 500-vertex planted
    graph with a canonical a<b<c three-way self-join — every per-vertex
    count must match exactly."""
    from quanta_contrib.operators.graph import triangle_count

    base = spark.table("documents").select((F.col("doc_id") % 500).alias("v")).distinct()
    e1 = base.select(F.col("v").alias("src"), ((F.col("v") + 1) % 500).alias("dst"))
    e2 = base.select(F.col("v").alias("src"), ((F.col("v") + 2) % 500).alias("dst"))
    e3 = base.filter(F.col("v") % 5 == 0).select(
        F.col("v").alias("src"), ((F.col("v") * 3 + 7) % 500).alias("dst")
    )
    return triangle_count(e1.unionByName(e2).unionByName(e3))


@query(
    "q148_incremental_quantiles",
    """
WITH f AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS vl
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
),
b AS (
  SELECT event_type, (greatest(least(vl, 511), 0) * 128) // 512 AS bin_idx FROM f
),
h AS (SELECT event_type, bin_idx, count(*) AS cnt FROM b GROUP BY 1, 2),
tot AS (SELECT event_type, count(*) AS total_cnt FROM b GROUP BY 1),
cum AS (
  SELECT event_type, bin_idx, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin_idx) AS cum_cnt
  FROM h
),
qs AS (SELECT unnest([5000, 9500, 9900]) AS q_bp),
sel AS (
  SELECT c.event_type, q.q_bp, t.total_cnt, min(c.bin_idx) AS bin_idx
  FROM cum c
  JOIN tot t USING (event_type)
  CROSS JOIN qs q
  WHERE c.cum_cnt >= (q.q_bp * t.total_cnt + 9999) // 10000
  GROUP BY 1, 2, 3
)
SELECT s.event_type, CAST(s.q_bp AS INT) AS q_bp, CAST(s.bin_idx AS INT) AS bin_idx,
       CAST(((s.bin_idx + 1) * 512) // 128 AS BIGINT) AS bin_upper,
       CAST(c.cum_cnt AS BIGINT) AS cum_cnt,
       CAST(s.total_cnt AS BIGINT) AS total_cnt
FROM sel s
JOIN cum c ON c.event_type = s.event_type AND c.bin_idx = s.bin_idx
""",
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental percentiles (rollup.rollup_quantiles): the rollup
    maintained by q145's split-and-merge additionally carries a
    128-bin mergeable histogram per event_type; p50/p95/p99 are then
    answered from the MAINTAINED rollup alone — raw rows untouched at
    read time — and must equal the oracle's full-scan histogram
    quantiles exactly (histograms are LINEAR: cell-wise sums of
    per-batch histograms equal the full-scan histogram, unlike
    estimate-style sketches)."""
    from quanta_spark.operators.rollup import (
        rollup_aggregate,
        rollup_merge,
        rollup_quantiles,
    )

    ev = spark.table("events").select(
        "event_type", "value", F.col("ts").cast("timestamp").alias("ts")
    )
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cutoff = F.timestamp_micros(F.lit((int(lo_us) + int(hi_us)) // 2))
    hist = (0, 512, 128)
    merged = rollup_merge(
        rollup_aggregate(ev.filter(F.col("ts") < cutoff), ["event_type"], "value", hist=hist),
        rollup_aggregate(ev.filter(F.col("ts") >= cutoff), ["event_type"], "value", hist=hist),
    )
    return rollup_quantiles(merged, [5000, 9500, 9900], *hist)


@query(
    "q149_pca_covariance",
    """
WITH q AS (
  SELECT [CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT) for x in embedding] AS qv
  FROM embeddings
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
m AS (
  SELECT i, sum(qv[i + 1]) AS mv
  FROM q, generate_series(0, 63) g(i)
  GROUP BY 1
),
s AS (
  SELECT g1.i AS i, g2.j AS j, sum(qv[g1.i + 1] * qv[g2.j + 1]) AS s
  FROM q, generate_series(0, 63) g1(i), generate_series(0, 63) g2(j)
  GROUP BY 1, 2
)
SELECT CAST(s.i AS BIGINT) AS i, CAST(s.j AS BIGINT) AS j, tot.n,
       CAST(s.s AS BIGINT) AS s,
       CAST(m1.mv AS BIGINT) AS mi, CAST(m2.mv AS BIGINT) AS mj,
       CAST(tot.n * s.s - m1.mv * m2.mv AS BIGINT) AS cov_num
FROM s
JOIN m m1 ON m1.i = s.i
JOIN m m2 ON m2.i = s.j
CROSS JOIN tot
""",
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA statistics (clustering.pca_covariance): the
    64x64 integer covariance table — per-partition Arrow partials
    (second-moment matrix + dim sums + count, never a row per point)
    reduced by a bounded (i, j) aggregate. Everything is quantized
    integer arithmetic, so the oracle's brute-force d^2-explode over
    the same vectors must match every cell of n, S_ij, m_i, m_j and
    the covariance numerator n*S - m_i*m_j EXACTLY — the determinism
    that makes the downstream eigendecomposition reproducible at any
    partitioning."""
    from quanta_contrib.operators.clustering import pca_covariance

    emb = spark.table("embeddings").select("vec_id", "embedding")
    return pca_covariance(emb, in_dim=64, scale=10_000)


@query("q150_pca_project")  # eigh is not SQL-expressible: rows-only driver check
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection (clustering.pca_fit + pca_project): top-8
    data-driven components trained from q149's exact covariance
    (driver sees only the bounded d^2 table; eigh on 64x64 locally;
    sign-fixed, integer-quantized), then a pure-Catalyst integer
    projection (zip_with + aggregate fold per output dim — the
    random_project consumer contract). No SQL oracle exists for eigh;
    correctness is pinned by pytest (orthonormality, descending
    explained variance, partitioning invariance, planted-signal
    recovery) and the driver records the rows-only check."""
    from quanta_contrib.operators.clustering import pca_fit, pca_project

    emb = spark.table("embeddings").select("vec_id", "embedding")
    comps, _ = pca_fit(emb, k=8, in_dim=64, scale=10_000)
    return pca_project(emb, comps, scale=10_000)


# q151 CUSUM params: target 50 / slack 10 / threshold 500 in e4
# fixed-point (events value is heavy-tailed with mean ~50)
_Q151_T, _Q151_K, _Q151_H = 500_000, 100_000, 5_000_000

def _cusum_oracle(pre_cte: str, src: str, key: str, ts_expr: str, vq_expr: str,
                  t: int, k: int, h: int) -> str:
    """Recursive-CTE replay of the two-sided reset-on-alarm CUSUM
    recursion (shared by q151/q152): base row rn=1, step joins rn+1,
    alarms selected from the RAW (pre-reset) statistics."""
    up_raw = f"greatest(0, c.sp + s.vq - {t} - {k})"
    dn_raw = f"greatest(0, c.sn + {t} - s.vq - {k})"
    up0 = f"greatest(0, vq - {t} - {k})"
    dn0 = f"greatest(0, {t} - vq - {k})"
    return f"""
WITH RECURSIVE {pre_cte}q AS (
  SELECT {key} AS key, {ts_expr} AS ts, {vq_expr} AS vq
  FROM {src}
  WHERE {key} IS NOT NULL AND {ts_expr} IS NOT NULL AND {vq_expr} IS NOT NULL
),
seq AS (
  SELECT key, ts, vq,
         row_number() OVER (PARTITION BY key ORDER BY ts, vq) AS rn
  FROM q
),
c AS (
  SELECT key, rn, ts, {up0} AS sp_raw, {dn0} AS sn_raw,
         CASE WHEN {up0} > {h} OR {dn0} > {h} THEN 0 ELSE {up0} END AS sp,
         CASE WHEN {up0} > {h} OR {dn0} > {h} THEN 0 ELSE {dn0} END AS sn
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.key, s.rn, s.ts, {up_raw} AS sp_raw, {dn_raw} AS sn_raw,
         CASE WHEN {up_raw} > {h} OR {dn_raw} > {h} THEN 0 ELSE {up_raw} END,
         CASE WHEN {up_raw} > {h} OR {dn_raw} > {h} THEN 0 ELSE {dn_raw} END
  FROM c JOIN seq s ON s.key = c.key AND s.rn = c.rn + 1
)
SELECT key AS {{key_out}}, ts, 'up' AS side, CAST(sp_raw AS BIGINT) AS stat
FROM c WHERE sp_raw > {h}
UNION ALL
SELECT key AS {{key_out}}, ts, 'down' AS side, CAST(sn_raw AS BIGINT) AS stat
FROM c WHERE sn_raw > {h}
"""


_Q151_ORACLE = _cusum_oracle(
    "", "events", "user_id", "ts",
    "CAST(floor(CAST(value AS DOUBLE) * 10000 + 0.5) AS BIGINT)",
    _Q151_T, _Q151_K, _Q151_H,
).format(key_out="user_id")

@query("q151_cusum_alarms", _Q151_ORACLE)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point alarms per user
    (stateful.stream_cusum, batch path): fixed-point integer Page
    recursion with reset-on-alarm over each user's (ts, value)-ordered
    event stream. The operator folds each segment with the vectorized
    prefix-min identity; the oracle replays the raw recursion row by
    row through a recursive CTE — every alarm position, side, and
    crossing statistic must match exactly."""
    from quanta_spark.operators.stateful import stream_cusum

    return stream_cusum(
        spark.table("events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        ),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        target=50.0,
        slack=10.0,
        threshold=500.0,
    )


# q152: planted verbosity drift — turn length + 40 per 20-turn block,
# so conversations past ~27 turns trip the CUSUM repeatedly
_Q152_T, _Q152_K, _Q152_H = 160_000, 80_000, 2_000_000
_Q152_VQ = (
    "CAST((CAST(len(text) AS BIGINT) + 40 * (turn_idx // 20)) * 10000 AS BIGINT)"
)


@query(
    "q152_stream_cusum",
    _cusum_oracle(
        f"{TRANSCRIPTS_CTE},\n", "transcripts", "conv_id", "ts", _Q152_VQ,
        _Q152_T, _Q152_K, _Q152_H,
    ).format(key_out="conv_id"),
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM change-point detection (stateful.stream_cusum):
    per-conversation verbosity monitor with a planted drift (+40 chars
    per 20-turn block) — alarms must fire at exactly the oracle's
    recursive-CTE positions despite jittered arrival, because the
    operator folds each key's rows in strict (ts, value) order only
    once the watermark proves the prefix final, and the carry persists
    across micro-batches for the key's lifetime."""
    from quanta_spark.operators.stateful import stream_cusum

    return _run_stream_query(
        spark,
        lambda src: stream_cusum(
            src.select(
                "conv_id",
                "ts",
                (
                    F.length("text").cast("long")
                    + 40 * F.floor(F.col("turn_idx") / 20).cast("long")
                ).cast("double").alias("value"),
            ),
            key_col="conv_id",
            ts_col="ts",
            value_col="value",
            target=16.0,
            slack=8.0,
            threshold=200.0,
        ),
        jitter=True,
        heartbeat_in_output=True,
    )


def _q153_oracle() -> str:
    from quanta_contrib.operators.similarity import retrieval_gains_e6

    g = retrieval_gains_e6(5)
    pref = [sum(g[: i + 1]) for i in range(5)]
    gl = "[" + ", ".join(str(x) for x in g) + "]"
    pl = "[" + ", ".join(str(x) for x in pref) + "]"
    return f"""
WITH approx AS ({ORACLES["q30_lsh_cosine_topk"]}),
truth AS ({ORACLES["q27_cosine_topk"]}),
j AS (
  SELECT a.query_id, a.rank,
         CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM approx a
  LEFT JOIN truth t ON t.query_id = a.query_id AND t.vec_id = a.vec_id
),
tn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS truth_n FROM truth GROUP BY 1),
pq AS (
  SELECT query_id, CAST(sum(rel) AS BIGINT) AS hits,
         CAST(sum(CASE WHEN rel = 1 THEN {gl}[rank] ELSE 0 END) AS BIGINT) AS dcg_e6,
         min(CASE WHEN rel = 1 THEN rank END) AS fr
  FROM j GROUP BY 1
)
SELECT tn.query_id, tn.truth_n,
       CAST(coalesce(pq.hits, 0) AS BIGINT) AS hits,
       CAST(coalesce(pq.hits, 0) * 10000 // tn.truth_n AS BIGINT) AS recall_bp,
       CAST(coalesce(1000000 // pq.fr, 0) AS BIGINT) AS mrr_e6,
       CAST(coalesce(pq.dcg_e6, 0) AS BIGINT) AS dcg_e6,
       CAST({pl}[CAST(least(tn.truth_n, 5) AS INT)] AS BIGINT) AS idcg_e6,
       CAST(coalesce(pq.dcg_e6, 0) * 10000
            // {pl}[CAST(least(tn.truth_n, 5) AS INT)] AS BIGINT) AS ndcg_bp
FROM tn LEFT JOIN pq USING (query_id)
"""


@query("q153_retrieval_metrics", _q153_oracle())
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class query
    (similarity.retrieval_metrics): recall@5, MRR and binary nDCG@5 of
    the axis-LSH index (q30) against the brute-force exact top-5
    (q27), per query, all integer-exact (1e6-quantized gains computed
    once in python and embedded as literals on both engine sides;
    reciprocal ranks and ratios via integer division) — the ANN recall
    harness productized into an oracle-checkable operator."""
    from quanta_contrib.operators.similarity import (
        axis_lsh_cosine_topk,
        brute_force_cosine_topk,
        retrieval_metrics,
    )

    emb = spark.table("embeddings")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    approx = axis_lsh_cosine_topk(emb, queries_df, k=5)
    truth = brute_force_cosine_topk(emb, queries_df, k=5)
    return retrieval_metrics(approx, truth, k=5)


# q154 seed: 12-hex registry keys with planted EDIT corruption — one
# substitution (ids%3==1), one DELETION (ids%3==2, length 11), one
# insertion + one substitution (else, length 13, distance 2), and an
# unlinkable 3-substitution 'zzz' prefix (ids%10==0; hex never
# contains z/q, so distances are exact)
_Q154_MASTER = (
    "SELECT c_custkey AS m_id, "
    "substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS key FROM customer"
)
_Q154_VARIANT = """
SELECT m_id AS v_id,
  CASE
    WHEN m_id % 10 = 0 THEN concat('zzz', substr(key, 4, 9))
    WHEN m_id % 3 = 1 THEN concat(substr(key, 1, p1 - 1), 'z', substr(key, p1 + 1, 12 - p1))
    WHEN m_id % 3 = 2 THEN concat(substr(key, 1, p1 - 1), substr(key, p1 + 1, 12 - p1))
    ELSE concat(substr(ins, 1, p2 - 1), 'z', substr(ins, p2 + 1, 13 - p2))
  END AS key
FROM (
  SELECT m_id, key, p1,
         CAST((m_id // 7) % 13 AS INT) + 1 AS p2,
         concat(substr(key, 1, p1 - 1), 'q', substr(key, p1, 13 - p1)) AS ins
  FROM (SELECT m_id, key, CAST(m_id % 12 AS INT) + 1 AS p1 FROM m) t
) t2
"""


@query(
    "q154_edit_link",
    f"""
WITH m AS ({_Q154_MASTER}),
v AS ({_Q154_VARIANT})
SELECT_SENTINEL
""".replace(
        "SELECT_SENTINEL",
        "SELECT m.m_id, v.v_id, CAST(levenshtein(m.key, v.key) AS INT) AS dist\n"
        "FROM m, v WHERE levenshtein(m.key, v.key) <= 2",
    ),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance record linkage (dedup.edit_link,
    PassJoin partition scheme — Li/Deng/Feng VLDB'11): reconcile a
    corrupted replica whose keys suffered <= 2 INSERT/DELETE/
    SUBSTITUTE edits — the cases Hamming blocking (q141) cannot see.
    The operator blocks on (piece, shifted position, source length)
    equi-joins with exact pigeonhole recall and verifies built-in
    levenshtein; the oracle brute-forces all pairs, so the gate proves
    the blocked plan loses nothing. Planted: 1-sub, 1-del (len 11),
    ins+sub (len 13, dist 2), and a 3-sub negative that must NOT
    link."""
    from quanta_contrib.operators.dedup import edit_link

    m = spark.sql(_Q154_MASTER.replace("VARCHAR", "STRING"))
    m.createOrReplaceTempView("m")
    v = spark.sql(_Q154_VARIANT.replace("//", "div"))
    return edit_link(m, v, "m_id", "v_id", "key", max_edits=2)


# q155: two corrupted replicas per master — A: 1 substitution,
# B: 1 deletion — plus unlinkable 3-edit negatives for ids%10==0
# (both replicas, mutually >2 edits apart too), so entities are
# {master, A, B} stars except the negatives, which stay singletons
_Q155_DERIVE = f"""
m AS ({_Q154_MASTER}),
pos AS (SELECT m_id, key, CAST(m_id % 12 AS INT) + 1 AS p1 FROM m),
va AS (
  SELECT m_id + 10000000 AS v_id,
         CASE WHEN m_id % 10 = 0 THEN concat('zzz', substr(key, 4, 9))
              ELSE concat(substr(key, 1, p1 - 1), 'z', substr(key, p1 + 1, 12 - p1))
         END AS key
  FROM pos
),
vb AS (
  SELECT m_id + 20000000 AS v_id,
         CASE WHEN m_id % 10 = 0 THEN concat('qqq', substr(key, 4, 9))
              ELSE concat(substr(key, 1, p1 - 1), substr(key, p1 + 1, 12 - p1))
         END AS key
  FROM pos
),
v AS (SELECT * FROM va UNION ALL SELECT * FROM vb)
"""


@query(
    "q155_entity_resolution",
    f"""
WITH RECURSIVE {_Q155_DERIVE},
nodes AS (SELECT m_id AS node FROM m UNION ALL SELECT v_id FROM v),
links AS (
  SELECT m.m_id AS a, v.v_id AS b FROM m, v
  WHERE levenshtein(m.key, v.key) <= 2
),
edges AS (SELECT a, b FROM links UNION ALL SELECT b, a FROM links),
reach AS (
  SELECT node AS src, node AS dst FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
ent AS (SELECT src AS node_id, min(dst) AS entity_id FROM reach GROUP BY 1)
SELECT e.node_id, e.entity_id, CAST(s.size AS BIGINT) AS size
FROM ent e
JOIN (SELECT entity_id, count(*) AS size FROM ent GROUP BY 1) s USING (entity_id)
""",
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end (edit_link -> dedup_components ->
    canonical ids): two independently corrupted replicas of each
    master record (one substitution; one deletion) must collapse with
    their master into ONE entity keyed by the minimum id, while 3-edit
    negatives stay singleton entities. The oracle brute-forces the
    link graph and resolves components by recursive-CTE transitive
    closure — every (node, entity, cluster size) row must match, so
    the gate proves blocking recall AND star-contraction correctness
    compose."""
    from quanta_contrib.operators.dedup import dedup_components, edit_link

    m = spark.sql(_Q154_MASTER.replace("VARCHAR", "STRING"))
    m.createOrReplaceTempView("m")
    # same derivation the oracle's _Q155_DERIVE CTEs perform
    spark.sql(
        "SELECT m_id, key, CAST(m_id % 12 AS INT) + 1 AS p1 FROM m"
    ).createOrReplaceTempView("pos")
    va = spark.sql(
        "SELECT m_id + 10000000 AS v_id, "
        "CASE WHEN m_id % 10 = 0 THEN concat('zzz', substr(key, 4, 9)) "
        "ELSE concat(substr(key, 1, p1 - 1), 'z', substr(key, p1 + 1, 12 - p1)) END AS key "
        "FROM pos"
    )
    vb = spark.sql(
        "SELECT m_id + 20000000 AS v_id, "
        "CASE WHEN m_id % 10 = 0 THEN concat('qqq', substr(key, 4, 9)) "
        "ELSE concat(substr(key, 1, p1 - 1), substr(key, p1 + 1, 12 - p1)) END AS key "
        "FROM pos"
    )
    v = va.unionByName(vb)
    links = edit_link(m, v, "m_id", "v_id", "key", max_edits=2)
    pairs = links.select(F.col("m_id").alias("doc_a"), F.col("v_id").alias("doc_b"))
    comp = dedup_components(pairs)
    nodes = m.select(F.col("m_id").alias("node_id")).unionByName(
        v.select(F.col("v_id").alias("node_id"))
    )
    ent = nodes.join(comp, nodes["node_id"] == comp["doc_id"], "left").select(
        "node_id",
        F.coalesce(F.col("component_id"), F.col("node_id")).alias("entity_id"),
    )
    sizes = ent.groupBy("entity_id").agg(F.count(F.lit(1)).cast("long").alias("size"))
    return ent.join(sizes, "entity_id").select("node_id", "entity_id", "size")


def _q156_parts() -> tuple[str, str, str]:
    """Shared q156 fragments: the multilingual seed expression, the
    per-script count list, and the dominant-script CASE — built from
    text.SCRIPT_RANGES so both engines count byte-identical classes."""
    from quanta_contrib.operators.text import SCRIPT_RANGES

    seed = (
        "concat(text,"
        " CASE WHEN doc_id % 3 = 0 THEN ' Привет мир' ELSE '' END,"
        " CASE WHEN doc_id % 4 = 0 THEN ' 中文文本' ELSE '' END,"
        " CASE WHEN doc_id % 5 = 0 THEN ' مرحبا 42' ELSE '' END,"
        " CASE WHEN doc_id % 7 = 0 THEN ' αβγδ !!' ELSE '' END)"
    )
    order = ["latin", "digit", "cyrillic", "greek", "arabic", "cjk"]
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{SCRIPT_RANGES[n]}')) AS BIGINT) AS n_{n}"
        for n in order
    )
    prio = ["latin", "digit", "cyrillic", "greek", "arabic", "cjk", "other"]
    all_counts = ", ".join(f"n_{m}" for m in prio)
    whens = [f"WHEN greatest({all_counts}) = 0 THEN 'other'"]
    for i, n in enumerate(prio[:-1]):
        rest = ", ".join(f"n_{m}" for m in prio[i + 1 :])
        cmp = f"greatest({rest})" if "," in rest else rest
        whens.append(f"WHEN n_{n} >= {cmp} THEN '{n}'")
    dominant = "CASE " + " ".join(whens) + " ELSE 'other' END"
    return seed, counts, dominant


_Q156_SEED, _Q156_COUNTS, _Q156_DOMINANT = _q156_parts()


@query(
    "q156_script_profile",
    f"""
WITH seeded AS (SELECT doc_id, {_Q156_SEED} AS text FROM documents),
c AS (
  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars, {_Q156_COUNTS},
         CAST(len(regexp_extract_all(text, '\\s')) AS BIGINT) AS n_ws
  FROM seeded
),
p AS (
  SELECT doc_id, n_chars, n_latin, n_digit, n_cyrillic, n_greek, n_arabic, n_cjk,
         n_chars - n_latin - n_digit - n_cyrillic - n_greek - n_arabic - n_cjk - n_ws
           AS n_other
  FROM c
)
SELECT doc_id, n_chars, n_latin, n_digit, n_cyrillic, n_greek, n_arabic, n_cjk,
       n_other, {_Q156_DOMINANT} AS dominant
FROM p
""",
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profile (text.script_profile) — multilingual
    corpus triage: per-document character counts for six major script
    blocks plus a deterministic dominant-script label (fixed priority
    on ties). The fixture corpus is pure ASCII, so the gate seeds
    Cyrillic/CJK/Arabic/Greek snippets by doc_id arithmetic; the range
    patterns are LITERAL characters defined once (text.SCRIPT_RANGES)
    and embedded in both engines' queries. Pure regexp_count scan —
    zero shuffle, zero Python."""
    from quanta_contrib.operators.text import script_profile

    seeded = spark.table("documents").selectExpr(
        "doc_id", _Q156_SEED.replace("len(", "length(") + " AS text"
    )
    return script_profile(seeded)


@query(
    "q157_stream_latency_slo",
    f"""
WITH {TRANSCRIPTS_CTE},
u AS (SELECT conv_id, turn_idx, ts FROM transcripts WHERE role = 'user'),
r AS (
  SELECT conv_id, turn_idx, role, ts FROM transcripts
  WHERE role IN ('assistant', 'tool')
),
j AS (
  SELECT r.role AS reply_role,
         (epoch_us(r.ts) - epoch_us(u.ts)) // 1000000 AS vl
  FROM u
  JOIN r ON r.conv_id = u.conv_id AND r.turn_idx = u.turn_idx + 1
        AND r.ts >= u.ts AND r.ts <= u.ts + INTERVAL 30 MINUTE
),
b AS (
  SELECT reply_role, (greatest(least(vl, 1799), 0) * 60) // 1800 AS bin_idx FROM j
),
h AS (SELECT reply_role, bin_idx, count(*) AS cnt FROM b GROUP BY 1, 2),
tot AS (SELECT reply_role, count(*) AS total_cnt FROM b GROUP BY 1),
cum AS (
  SELECT reply_role, bin_idx, cnt,
         sum(cnt) OVER (PARTITION BY reply_role ORDER BY bin_idx) AS cum_cnt
  FROM h
),
qs AS (SELECT unnest([5000, 9500, 9900]) AS q_bp),
sel AS (
  SELECT c.reply_role, q.q_bp, t.total_cnt, min(c.bin_idx) AS bin_idx
  FROM cum c
  JOIN tot t USING (reply_role)
  CROSS JOIN qs q
  WHERE c.cum_cnt >= (q.q_bp * t.total_cnt + 9999) // 10000
  GROUP BY 1, 2, 3
)
SELECT s.reply_role, CAST(s.q_bp AS INT) AS q_bp, CAST(s.bin_idx AS INT) AS bin_idx,
       CAST(((s.bin_idx + 1) * 1800) // 60 AS BIGINT) AS bin_upper,
       CAST(c.cum_cnt AS BIGINT) AS cum_cnt,
       CAST(s.total_cnt AS BIGINT) AS total_cnt
FROM sel s
JOIN cum c ON c.reply_role = s.reply_role AND c.bin_idx = s.bin_idx
""",
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING reply-latency SLO percentiles — the round's streaming
    families COMPOSED: the stateful stream-stream user/reply join
    feeds per-reply latencies (integer seconds) into the
    continuous-aggregate RollupSink with a 60-bin mergeable histogram;
    p50/p95/p99 per reply role read off the committed O(roles)
    generation with rollup_quantiles and must equal the oracle's
    full-scan histogram quantiles exactly, despite jittered arrival
    and micro-batch folding."""
    from quanta_spark.operators.rollup import rollup_quantiles
    from quanta_spark.operators.stateful import join_user_replies
    from quanta_spark.sinks.rollup import RollupSink
    from quanta_spark.sources.readers import stream_transcripts_files
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    data_dir = _write_transcript_stream(spark, jitter=True)
    ckpt = tempfile.mkdtemp(prefix="qs_slo_ckpt_")
    hist = (0, 1800, 60)
    sink = RollupSink(
        base_dir=tempfile.mkdtemp(prefix="qs_slo_sink_"),
        keys=("reply_role",),
        value_col="value",
        hist=hist,
    )
    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=2, with_lineage=False
    )
    joined = join_user_replies(src, watermark="1 hour", max_reply_delay="30 minutes")
    val = joined.select(
        "reply_role",
        F.expr("(unix_micros(reply_ts) - unix_micros(user_ts)) div 1000000")
        .cast("double")
        .alias("value"),
    )
    h = start_pipeline(val, sink, ckpt)
    run_to_completion(h)
    return rollup_quantiles(sink.read_rollup(spark), [5000, 9500, 9900], *hist)


@query("q158_stream_pca_covariance", ORACLES.get("q149_pca_covariance"))
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PCA statistics ingest (FoldSink + clustering
    pca_covariance/pca_cov_merge): embeddings arrive as a real file
    stream and each micro-batch's integer covariance partials fold
    into the committed generation — no watermark, no vector retained;
    state is the d^2 table. The final committed covariance must equal
    q149's one-shot batch answer cell for cell (same oracle), because
    all four sums are linear — the property that lets a 100 TB corpus
    keep PCA statistics CONTINUOUSLY fresh at O(new vectors)/day."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_contrib.operators.clustering import pca_cov_merge, pca_covariance
    from quanta_spark.sinks.rollup import FoldSink
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    pdf = spark.table("embeddings").select("vec_id", "embedding").toPandas()
    _guard_gate_rows(len(pdf), "embedding stream input")
    pdf = pdf.sort_values("vec_id")
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["vec_id"], unit="s")
    d = tempfile.mkdtemp(prefix="qs_covstream_")
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("embedding", pa.list_(pa.float32())),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)
    src = (
        spark.readStream.schema("vec_id long, embedding array<float>, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    sink = FoldSink(
        base_dir=tempfile.mkdtemp(prefix="qs_covstream_sink_"),
        aggregate_fn=lambda b: pca_covariance(b, in_dim=64, scale=10_000),
        merge_fn=pca_cov_merge,
    )
    h = start_pipeline(src, sink, tempfile.mkdtemp(prefix="qs_covstream_ckpt_"))
    run_to_completion(h)
    return sink.read_state(spark)


@query(
    "q159_stream_scd2_enrich",
    f"""
WITH {TRANSCRIPTS_CTE},
hist AS ({ORACLES["q135_scd2_history"]})
SELECT t.conv_id, t.turn_idx, t.ts,
       h.event_type AS attr_at_ts,
       CAST(h.version AS INT) AS version
FROM transcripts t
LEFT JOIN hist h
  ON h.user_id = CAST(substr(t.conv_id, 6, 8) AS BIGINT)
 AND t.ts >= h.valid_from
 AND (h.valid_to IS NULL OR t.ts < h.valid_to)
""",
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING point-in-time SCD2 enrichment (asof.scd2_asof_join):
    transcript turns arriving on the stream pick up the dimension
    version valid AT their event time from the q135 history — the
    warehouse stream-static pattern (stateless, no watermark: the
    history is a bounded dimension; the equi key drives the join, the
    validity range evaluates as a residual). Left join: turns before a
    user's first version keep NULL attributes instead of dropping.
    Oracle replays the same history build + point-in-time join in
    SQL."""
    from quanta_contrib.operators.asof import scd2_asof_join
    from quanta_contrib.operators.timeseries import scd2_history

    hist = scd2_history(spark.table("events"), attr_cols=("event_type",))

    def op(src):
        pts = src.select(
            "conv_id",
            "turn_idx",
            "ts",
            # try_cast: the watermark heartbeat's conv_id is not
            # numeric; it enriches to NULL and is stripped post-hoc
            F.expr("TRY_CAST(substr(conv_id, 6, 8) AS BIGINT)").alias("user_id"),
        )
        out = scd2_asof_join(pts, hist, key_col="user_id", ts_col="ts")
        return out.select(
            "conv_id",
            "turn_idx",
            "ts",
            F.col("event_type").alias("attr_at_ts"),
            F.col("version").cast("int").alias("version"),
        )

    return _run_stream_query(spark, op, jitter=True, heartbeat_in_output=True)


@query(
    "q160_maxsim_topk",
    """
WITH tok AS (
  SELECT vec_id, i AS token_idx,
         list_slice(embedding, i * 16 + 1, i * 16 + 16) AS tvec
  FROM embeddings, generate_series(0, 3) g(i)
),
q AS (
  SELECT vec_id AS query_id, token_idx AS q_token_idx, tvec AS qvec
  FROM tok WHERE vec_id % 50 = 0 AND vec_id < 2500
),
pairs AS (
  SELECT q.query_id, c.vec_id, q.q_token_idx,
         CAST(round(list_cosine_similarity(CAST(c.tvec AS DOUBLE[]),
                                           CAST(q.qvec AS DOUBLE[])) * 10000)
              AS BIGINT) AS sim_bp
  FROM q, tok c WHERE c.vec_id <> q.query_id
),
m AS (
  SELECT query_id, vec_id, q_token_idx, max(sim_bp) AS m
  FROM pairs GROUP BY 1, 2, 3
),
s AS (SELECT query_id, vec_id, CAST(sum(m) AS BIGINT) AS maxsim_bp FROM m GROUP BY 1, 2)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, maxsim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY maxsim_bp DESC, vec_id ASC) AS rk
  FROM s
) t
WHERE rk <= 5
""",
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector MaxSim retrieval (similarity.maxsim_topk —
    ColBERT late interaction, Khattab & Zaharia SIGIR'20): each
    embedding sliced into four 16-dim token vectors
    (similarity.tokenize_vectors); score = sum over query tokens of
    the max per-token cosine (quantized to basis points BEFORE
    max/sum, so the score is engine-exact); top-5 on the
    (score desc, id asc) total order against the same fixed 50-query
    budget as q27/q30. The exact multi-vector baseline — blocking
    families compose upstream as candidate filters."""
    from quanta_contrib.operators.similarity import maxsim_topk, tokenize_vectors

    toks = tokenize_vectors(spark.table("embeddings"), n_tokens=4)
    qtoks = toks.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500)).select(
        F.col("vec_id").alias("query_id"), "token_idx", "tvec"
    )
    return maxsim_topk(toks, qtoks, k=5)


@query(
    "q161_stream_temporal_join",
    f"""
WITH {TRANSCRIPTS_CTE},
u AS (
  SELECT conv_id, ts, turn_idx AS seq, role = 'user' AS is_dim,
         CASE WHEN role = 'user' THEN string_split(text, ' ')[1] END AS attr
  FROM transcripts
),
enr AS (
  SELECT conv_id, seq, ts, is_dim,
         last_value(attr IGNORE NULLS) OVER (
           PARTITION BY conv_id
           ORDER BY ts, (CASE WHEN is_dim THEN 0 ELSE 1 END), seq
           ROWS UNBOUNDED PRECEDING
         ) AS attr_at_ts
  FROM u
)
SELECT conv_id, CAST(seq AS BIGINT) AS seq, ts, attr_at_ts
FROM enr WHERE NOT is_dim
""",
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING temporal table join (stateful.stream_temporal_join —
    Flink's FOR SYSTEM_TIME AS OF, absent from Spark natively): user
    turns act as dimension updates declaring the conversation's
    current topic (their first token); every assistant/tool turn is
    enriched with the topic in force AT its event time and emitted
    exactly once — even under jittered arrival where the dim update
    lands in a LATER micro-batch than the event it must enrich (the
    case the stream-static q159 cannot handle). Oracle: last_value
    IGNORE NULLS over the (ts, dim-first, seq) ordered union."""
    from quanta_spark.operators.stateful import stream_temporal_join

    def op(src):
        tagged = src.select(
            "conv_id",
            "ts",
            (F.col("role") == "user").alias("is_dim"),
            F.when(
                F.col("role") == "user", F.split(F.col("text"), " ").getItem(0)
            ).alias("attr"),
            F.col("turn_idx").cast("long").alias("seq"),
        )
        return stream_temporal_join(
            tagged,
            key_col="conv_id",
            ts_col="ts",
            is_dim_col="is_dim",
            attr_col="attr",
            seq_col="seq",
            watermark="1 hour",
        )

    return _run_stream_query(spark, op, jitter=True, heartbeat_in_output=True)


@query(
    "q162_corpus_overlap",
    f"""
WITH fa AS (
  SELECT DISTINCT md5({DUCK_NORM}) AS fp FROM documents WHERE doc_id % 2 = 0
),
fb AS (
  SELECT DISTINCT md5({DUCK_NORM}) AS fp FROM documents WHERE doc_id % 3 = 0
)
SELECT CAST((SELECT count(*) FROM fa) AS BIGINT) AS n_a,
       CAST((SELECT count(*) FROM fb) AS BIGINT) AS n_b,
       CAST((SELECT count(*) FROM fa JOIN fb USING (fp)) AS BIGINT) AS n_overlap,
       TRUE AS a_ok, TRUE AS b_ok, TRUE AS overlap_ok
""",
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-speed corpus overlap (sketches.corpus_overlap_estimate):
    HLL inclusion-exclusion estimates the contamination between two
    content-fingerprinted corpora in ONE scan each — the 100 TB triage
    the exact decontamination joins run behind. The gate splits
    documents into two overlapping corpora (doc_id %2 / %3 ⇒ overlap
    = %6), outputs the EXACT sizes (oracle-checkable) and asserts
    Spark-side that each estimate lands within 5% + 10 of exact (the
    q42 boolean-bound trick — estimates themselves are engine-
    specific)."""
    from quanta_spark.operators.dedup import normalized
    from quanta_contrib.operators.sketches import corpus_overlap_estimate

    docs = spark.table("documents").select(
        "doc_id", F.md5(normalized(F.col("text"))).alias("fp")
    )
    a = docs.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    b = docs.filter(F.col("doc_id") % 3 == 0).select("fp").distinct()
    est = corpus_overlap_estimate(a, b, value="fp")
    exact = (
        a.join(b, "fp")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .crossJoin(a.agg(F.count(F.lit(1)).alias("n_a")))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("n_b")))
    )
    ok = lambda e, x: F.abs(F.col(e) - F.col(x)) <= F.lit(0.05) * F.col(x) + 10  # noqa: E731
    return est.crossJoin(exact).select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("n_overlap").cast("long"),
        ok("est_a", "n_a").alias("a_ok"),
        ok("est_b", "n_b").alias("b_ok"),
        ok("overlap_est", "n_overlap").alias("overlap_ok"),
    )


@query(
    "q163_histogram_ks",
    """
WITH v AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
),
b1 AS (SELECT (greatest(least(CAST(floor(v) AS BIGINT), 511), 0) * 128) // 512 AS bin_idx FROM v),
b2 AS (SELECT (greatest(least(CAST(floor(v * 1.3) AS BIGINT), 511), 0) * 128) // 512 AS bin_idx FROM v),
h1 AS (SELECT bin_idx, count(*) AS c1 FROM b1 GROUP BY 1),
h2 AS (SELECT bin_idx, count(*) AS c2 FROM b2 GROUP BY 1),
j AS (
  SELECT coalesce(h1.bin_idx, h2.bin_idx) AS bin_idx,
         coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
  FROM h1 FULL OUTER JOIN h2 ON h1.bin_idx = h2.bin_idx
),
cum AS (
  SELECT sum(c1) OVER (ORDER BY bin_idx) AS cum1,
         sum(c2) OVER (ORDER BY bin_idx) AS cum2
  FROM j
),
tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM j),
drift AS (
  SELECT max(abs(cum1 * n2 - cum2 * n1) * 10000 // (n1 * n2)) AS ks
  FROM cum, tot
)
SELECT 'drift' AS case_name, CAST(ks AS BIGINT) AS ks_bp FROM drift
UNION ALL
SELECT 'identical', 0
""",
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift from mergeable histograms
    (sketches.histogram_ks) — the threshold-free complement of PSI
    (q126), computed entirely on the <= n_bins histogram tables the
    rollup family already maintains: D in exact rational basis points
    (|cum1·n2 − cum2·n1|·10⁴ div n1·n2). Planted drift (value×1.3)
    must read the oracle's exact KS; an identical pair must read 0."""
    from quanta_contrib.operators.sketches import histogram_counts, histogram_ks

    ev = spark.table("events").select(F.col("value").cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    h1 = histogram_counts(ev, F.col("v"), 0, 512, 128)
    h2 = histogram_counts(ev.select((F.col("v") * 1.3).alias("v")), F.col("v"), 0, 512, 128)
    drift = histogram_ks(h1, h2).select(
        F.lit("drift").alias("case_name"), F.col("ks_bp")
    )
    same = histogram_ks(h1, h1).select(
        F.lit("identical").alias("case_name"), F.col("ks_bp")
    )
    return drift.unionByName(same)


@query(
    "q164_stream_ks_monitor",
    f"""
WITH {TRANSCRIPTS_CTE},
v AS (
  SELECT ts, greatest(least(CAST(len(text) AS BIGINT), 31), 0) AS bin_idx
  FROM transcripts WHERE text IS NOT NULL
),
bins AS (SELECT i AS bin_idx FROM generate_series(0, 31) g(i)),
bl AS (SELECT bin_idx, count(*) AS cb FROM v GROUP BY 1),
blf AS (
  SELECT b.bin_idx, coalesce(cb, 0) AS cb FROM bins b LEFT JOIN bl USING (bin_idx)
),
bcum AS (SELECT bin_idx, sum(cb) OVER (ORDER BY bin_idx) AS cumb FROM blf),
nb AS (SELECT sum(cb) AS nb FROM blf),
w AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000)
           AS window_start,
         bin_idx
  FROM v
),
wc AS (SELECT window_start, bin_idx, count(*) AS cw FROM w GROUP BY 1, 2),
wcf AS (
  SELECT ws.window_start, b.bin_idx, coalesce(wc.cw, 0) AS cw
  FROM (SELECT DISTINCT window_start FROM wc) ws
  CROSS JOIN bins b
  LEFT JOIN wc ON wc.window_start = ws.window_start AND wc.bin_idx = b.bin_idx
),
cum AS (
  SELECT window_start, bin_idx,
         sum(cw) OVER (PARTITION BY window_start ORDER BY bin_idx) AS cumw
  FROM wcf
),
nw AS (SELECT window_start, sum(cw) AS nwv FROM wcf GROUP BY 1)
SELECT c.window_start,
       CAST(max(abs(c.cumw * nb.nb - bc.cumb * n.nwv) * 10000
                // (n.nwv * nb.nb)) AS BIGINT) AS ks_bp,
       CAST(n.nwv AS BIGINT) AS n
FROM cum c
JOIN bcum bc USING (bin_idx)
JOIN nw n USING (window_start)
CROSS JOIN nb
GROUP BY 1, n.nwv
""",
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KS drift monitor (stateful.stream_ks_monitor): per
    6h window a 32-bin turn-length histogram accumulates in state (one
    bounded array per OPEN window); at watermark finality the window's
    exact-rational KS distance against the whole-corpus baseline
    emits exactly once. Jittered arrival must not move a single basis
    point. The live twin of PSI (q126) / batch KS (q163)."""
    import pandas as pd

    from quanta_contrib.operators.sketches import histogram_counts
    from quanta_contrib.operators.stateful import stream_ks_monitor

    lo, hi, n_bins = 0, 32, 32
    base_rows = {
        r["bin_idx"]: r["cnt"]
        for r in histogram_counts(
            spark.sql(
                f"WITH {TRANSCRIPTS_CTE} SELECT length(text) AS vl "
                "FROM transcripts WHERE text IS NOT NULL"
            ),
            F.col("vl"),
            lo,
            hi,
            n_bins,
        ).collect()
    }
    baseline = [int(base_rows.get(i, 0)) for i in range(n_bins)]
    max_ts = pd.Timestamp(
        spark.sql(f"WITH {TRANSCRIPTS_CTE} SELECT max(ts) m FROM transcripts").first()["m"]
    )

    def strip(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pd.to_datetime(pdf["window_start"]) <= max_ts]

    return _run_stream_query(
        spark,
        lambda src: stream_ks_monitor(
            src.select("ts", F.length("text").cast("double").alias("value")),
            baseline,
            lo,
            hi,
            n_bins,
            window="6 hours",
            watermark="1 hour",
        ),
        jitter=True,
        strip_heartbeat=strip,
    )


@query(
    "q165_stream_cdc_snapshot",
    """
SELECT user_id, ts, CAST(event_id AS BIGINT) AS event_id, event_type,
       CAST(n AS BIGINT) AS n_upserts
FROM (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
) t
WHERE rk = 1
""",
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC snapshot materialization (FoldSink +
    rollup.latest_aggregate/latest_merge): the events changelog
    arrives as a real file stream and every micro-batch folds into a
    last-writer-wins per-user serving table — the dependency-free
    analog of a continuous Iceberg/Delta MERGE-on-key. (ts, event_id)
    totalizes ordering, so replay boundaries and arrival order cannot
    change a winner; the committed generation must equal the oracle's
    one-shot row_number()-desc snapshot exactly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.operators.rollup import latest_aggregate, latest_merge
    from quanta_spark.sinks.rollup import FoldSink
    from quanta_spark.streaming.engine import run_to_completion, start_pipeline

    pdf = (
        spark.table("events")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id", "event_type")
        .toPandas()
    )
    _guard_gate_rows(len(pdf), "changelog stream input")
    # arrival order = changelog order (event_id); the fold must be
    # order-insensitive anyway, which the merge proves
    pdf = pdf.sort_values("event_id")
    d = tempfile.mkdtemp(prefix="qs_cdcstream_")
    schema = pa.schema(
        [
            pa.field("user_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("event_id", pa.int64()),
            pa.field("event_type", pa.string()),
        ]
    )
    paths = []
    for k, ix in enumerate(np.array_split(np.arange(len(pdf)), 6)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[ix], schema=schema, preserve_index=False),
            path,
        )
        paths.append(path)
    stamp_arrival_order(paths)
    src = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    sink = FoldSink(
        base_dir=tempfile.mkdtemp(prefix="qs_cdcstream_sink_"),
        aggregate_fn=lambda b: latest_aggregate(
            b, ["user_id"], ts_col="ts", seq_col="event_id",
            payload_cols=("event_type",),
        ),
        merge_fn=lambda h, dd: latest_merge(
            h, dd, keys=["user_id"], ts_col="ts", seq_col="event_id"
        ),
    )
    h = start_pipeline(src, sink, tempfile.mkdtemp(prefix="qs_cdcstream_ckpt_"))
    run_to_completion(h)
    return sink.read_state(spark).select(
        "user_id", "ts", F.col("event_id").cast("long"), "event_type",
        F.col("n_upserts").cast("long").alias("n_upserts"),
    )


def _q166_oracle() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i * 8 + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(8)
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (
  SELECT vec_id AS query_id, bucket FROM b
  WHERE vec_id % 50 = 0 AND vec_id < 2500
),
cand AS (
  SELECT q.query_id, c.vec_id
  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
),
tok AS (
  SELECT vec_id, i AS token_idx,
         list_slice(embedding, i * 16 + 1, i * 16 + 16) AS tvec
  FROM embeddings, generate_series(0, 3) g(i)
),
pairs AS (
  SELECT cd.query_id, cd.vec_id, qt.token_idx AS q_token_idx,
         CAST(round(list_cosine_similarity(CAST(ct.tvec AS DOUBLE[]),
                                           CAST(qt.tvec AS DOUBLE[])) * 10000)
              AS BIGINT) AS sim_bp
  FROM cand cd
  JOIN tok ct ON ct.vec_id = cd.vec_id
  JOIN tok qt ON qt.vec_id = cd.query_id
),
m AS (
  SELECT query_id, vec_id, q_token_idx, max(sim_bp) AS m
  FROM pairs GROUP BY 1, 2, 3
),
s AS (SELECT query_id, vec_id, CAST(sum(m) AS BIGINT) AS maxsim_bp FROM m GROUP BY 1, 2)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, maxsim_bp
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY maxsim_bp DESC, vec_id ASC) AS rk
  FROM s
) t
WHERE rk <= 5
"""


@query("q166_maxsim_blocked", _q166_oracle())
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked MaxSim (similarity.maxsim_topk_blocked): q160's
    exact late-interaction scoring preceded by the q30 doc-level
    axis-LSH bucket join, so candidate token pairs shrink by ~2^8
    while scores stay byte-identical on survivors — the composition
    the exact baseline's docstring promises, oracle-checked end to
    end (bucket pruning + maxsim arithmetic in one SQL replay)."""
    from quanta_contrib.operators.similarity import maxsim_topk_blocked

    emb = spark.table("embeddings").select("vec_id", "embedding")
    queries_df = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))
    return maxsim_topk_blocked(emb, queries_df, k=5)
