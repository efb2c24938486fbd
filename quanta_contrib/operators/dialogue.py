"""Dialogue-structure operators over transcript tables.

The payload of this engine is multi-turn conversation transcripts
(BASELINE.json input_hint: conv_id, turn_idx, role, text, tool, ts);
these operators extract the training-facing structure a fine-tuning
pipeline needs from them: role-transition statistics (conversation
shape QA), prompt/response pair extraction (SFT datasets), and
context-tail truncation (fit a conversation into a model context).

All three are single-shuffle window/aggregate plans — one exchange on
the conversation key (or the role key for the global matrix), pure
codegen, no Python — so they run at scan speed over 10^12 turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quanta_contrib.operators.text import ws_token_count


def role_transitions(df: DataFrame) -> DataFrame:
    """Global role-transition matrix: counts and per-source-role
    probabilities (basis points) of ``role -> next role`` steps inside
    conversations. The conversation-shape health check of a transcript
    corpus — e.g. user->user runs flag merge bugs upstream.

    One conv_id shuffle for the lead(), then an aggregation whose
    output is |roles|^2 rows; the probability normalization is a
    window over that tiny table, not the corpus."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = df.select(
        F.col("role"), F.lead("role").over(w).alias("next_role")
    ).filter(F.col("next_role").isNotNull())
    counts = pairs.groupBy("role", "next_role").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = Window.partitionBy("role")
    return counts.select(
        "role",
        "next_role",
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("n") * 10_000 / F.sum("n").over(total) + F.lit(0.5))
        .cast("long")
        .alias("prob_bp"),
    )


def sft_pairs(df: DataFrame, context_turns: int = 3) -> DataFrame:
    """Extract (prompt, response) training pairs: every assistant turn
    becomes a response; its prompt is the previous ``context_turns``
    turns (any role) joined newline-separated in order. The
    bread-and-butter SFT dataset extraction.

    Bounded context => bounded row width (no unbounded string_agg of a
    mega-conversation); ``lag`` columns share one conv_id window, so
    the plan is a single exchange + window + filter."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lags = [
        F.lag("text", i).over(w) for i in range(context_turns, 0, -1)
    ]
    n_context = sum(
        (F.lag("text", i).over(w).isNotNull()).cast("int")
        for i in range(1, context_turns + 1)
    )
    out = df.select(
        "conv_id",
        "turn_idx",
        F.col("role"),
        F.concat_ws("\n", *lags).alias("prompt"),
        F.col("text").alias("response"),
        n_context.alias("n_context"),
    )
    return out.filter(F.col("role") == "assistant").drop("role")


def truncate_to_context(
    df: DataFrame, max_tokens: int, text_col: str = "text"
) -> DataFrame:
    """Keep each conversation's LAST turns whose running token total
    (counted from the end) fits ``max_tokens`` — how a serving/training
    pipeline fits history into a context window. A turn is kept only
    if the whole suffix through it fits; the newest turn always
    competes first. Reverse-cumsum filter: one conv_id shuffle, pure
    codegen."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ntok = ws_token_count(F.col(text_col))
    return (
        df.withColumn("_suffix_tokens", F.sum(ntok).over(w).cast("long"))
        .filter(F.col("_suffix_tokens") <= max_tokens)
        .drop("_suffix_tokens")
    )


def render_conversations(
    df: DataFrame, max_turns: int = 64, text_col: str = "text"
) -> DataFrame:
    """Render each conversation to one training-text document —
    ``role: text`` lines in turn order — the standard transcript →
    pretraining-corpus materialization. ``max_turns`` keeps the
    rendered KEEP-LAST suffix bounded (row width must stay bounded at
    mega-conversation skew; render the chunks of a 10^5-turn
    conversation separately if you really need all of it).

    Plan: one conv_id shuffle into a sorted collect_list fold —
    the array is bounded by ``max_turns`` via slice-after-sort, all
    JVM-side."""
    lines = df.select(
        "conv_id",
        F.struct(
            F.col("turn_idx"),
            F.concat_ws(": ", F.col("role"), F.col(text_col)).alias("line"),
        ).alias("_t"),
    )
    agg = lines.groupBy("conv_id").agg(
        F.array_sort(F.collect_list("_t")).alias("_turns")
    )
    tail = F.slice(
        F.col("_turns"), F.greatest(F.size("_turns") - max_turns + 1, F.lit(1)),
        max_turns,
    )
    return agg.select(
        "conv_id",
        F.size("_turns").cast("int").alias("n_turns"),
        F.least(F.size("_turns"), F.lit(max_turns)).cast("int").alias("n_rendered"),
        F.array_join(F.transform(tail, lambda t: t["line"]), "\n").alias("rendered"),
    )


def curate_conversations(
    df: DataFrame,
    min_turns: int = 4,
    min_tokens: int = 60,
    max_tool_ratio_bp: int = 5_000,
) -> DataFrame:
    """Conversation-level curation: per-conversation health stats and
    a keep flag — the transcript counterpart of document quality
    filtering. Signals: length floors, tool-turn ratio ceiling,
    must-start-with-user, and zero adjacent same-role turns (a merge
    bug upstream shows up as user->user runs). The lead() pass and the
    rollup share one conv_id partitioning — a single exchange."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    p = df.select(
        "conv_id",
        "turn_idx",
        "role",
        ws_token_count(F.col("text")).alias("_ntok"),
        (F.lead("role").over(w) == F.col("role")).cast("int").alias("_same_next"),
        (F.col("role") == "tool").cast("int").alias("_is_tool"),
    )
    agg = p.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        F.sum("_ntok").cast("long").alias("total_tokens"),
        F.sum(F.coalesce(F.col("_same_next"), F.lit(0))).cast("int").alias("n_same_role_adjacent"),
        # role of the EARLIEST PRESENT turn — a literal turn_idx==0
        # test would reject every conversation whose head was
        # truncated/filtered upstream (e.g. truncate_to_context)
        (F.min_by("role", "turn_idx") == "user").cast("int").alias("starts_with_user"),
        F.floor(F.sum("_is_tool") * 10_000 / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("tool_ratio_bp"),
    )
    keep = (
        (F.col("n_turns") >= min_turns)
        & (F.col("total_tokens") >= min_tokens)
        & (F.col("n_same_role_adjacent") == 0)
        & (F.col("starts_with_user") == 1)
        & (F.col("tool_ratio_bp") <= max_tool_ratio_bp)
    )
    return agg.withColumn("keep", keep)


REPLY_LATENCY_BUCKETS: list[tuple[str, int, int | None]] = [
    ("0_under_1s", 0, 1),
    ("1_1_to_10s", 1, 10),
    ("2_10_to_60s", 10, 60),
    ("3_1_to_10m", 60, 600),
    ("4_over_10m", 600, None),
]


def reply_latency_histogram(df: DataFrame) -> DataFrame:
    """Reply-latency distribution of an agent corpus: for every
    user turn immediately followed by an assistant turn (turn_idx + 1,
    same conversation), the ts gap, bucketed into human-meaningful
    latency bands — the SLO histogram an agent-serving team watches,
    computed over the transcript table itself.

    Buckets are INTEGER-second ranges (no log2/float boundary math, so
    a SQL oracle agrees bit-exactly at every edge). One conv_id
    shuffle for the lead() window, then a 5-row aggregate.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = df.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("ts"),
        F.lead("role").over(w).alias("_nrole"),
        F.lead("turn_idx").over(w).alias("_nidx"),
        F.lead("ts").over(w).alias("_nts"),
    )
    replies = nxt.filter(
        (F.col("role") == "user")
        & (F.col("_nrole") == "assistant")
        & (F.col("_nidx") == F.col("turn_idx") + 1)
    ).select(
        (
            # cast via TIMESTAMP: unix_micros rejects TIMESTAMP_NTZ, and
            # the session TZ is pinned UTC so the DIFFERENCE is exact
            (
                F.unix_micros(F.col("_nts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            )
            / F.lit(1_000_000)
        ).cast("long").alias("_sec")  # floor to whole seconds
    )
    bucket = F.lit(None).cast("string")
    for name, lo, hi in reversed(REPLY_LATENCY_BUCKETS):
        cond = F.col("_sec") >= lo if hi is None else (
            (F.col("_sec") >= lo) & (F.col("_sec") < hi)
        )
        bucket = F.when(cond, name).otherwise(bucket)
    return (
        replies.select(bucket.alias("latency_bucket"), "_sec")
        .groupBy("latency_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replies"),
            F.min("_sec").cast("long").alias("min_s"),
            F.max("_sec").cast("long").alias("max_s"),
            F.sum("_sec").cast("long").alias("sum_s"),
        )
    )


def role_trigram_patterns(df: DataFrame, min_support: int = 2) -> DataFrame:
    """Frequent conversation-shape patterns: counts of (role, next
    role, next-next role) trigrams inside conversations, with the
    share of conversations containing each pattern — the corpus-scale
    summary of how agent flows actually run (user->assistant->user
    loops vs tool-chain runs), and the batch complement of the CEP
    operators (which MATCH a given pattern; this MINES the frequent
    ones).

    One conv_id shuffle for the two lead() windows; counts and the
    distinct-conversation support are hash aggregates over the
    |roles|^3-bounded trigram table. ``min_support`` prunes the long
    tail (conversations, not occurrences)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tri = (
        df.select(
            "conv_id",
            F.col("role").alias("r1"),
            F.lead("role", 1).over(w).alias("r2"),
            F.lead("role", 2).over(w).alias("r3"),
        )
        .filter(F.col("r2").isNotNull() & F.col("r3").isNotNull())
    )
    out = tri.groupBy("r1", "r2", "r3").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.count_distinct("conv_id").cast("long").alias("n_convs"),
    )
    return out.filter(F.col("n_convs") >= min_support)
