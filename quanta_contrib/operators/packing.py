"""Sequence packing — the training-batch preparation step.

An SFT/pretraining pipeline feeds fixed-size context windows; short
conversations are PACKED back-to-back into one training sequence so
the batch isn't mostly padding. The reference has no notion of this
(its stages are 1->1/1->0/1->N frame transforms, runner.go:120-160);
the target spec's training-data layer needs it as a first-class
operator.

Semantics (next-fit, per conversation): walk turns in ``turn_idx``
order keeping a running token fill; when adding the next turn would
exceed ``budget`` (and the current pack is non-empty), close the pack
and start the next. A single oversized turn (> budget tokens) occupies
whatever pack it lands in alone — next-fit never splits a turn
(chunking first is the right tool for that, text.chunk_documents).

Scale (100 TB posture): packing is per-conversation sequential BY
DEFINITION — the parallel unit is the conversation key, exactly like
the CEP matcher (stateful.py). The fold runs JVM-side as a Catalyst
``aggregate`` over a sorted ``collect_list``: one shuffle on conv_id,
zero Python. The accumulated bin array makes a mega-conversation cost
O(len^2) array copies inside its single task; the mitigation at that
skew is to chunk the conversation first (cdc_chunks / chunk_documents)
— packing 10^5+ turns into ONE curriculum is a data-modeling smell,
not an engine requirement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quanta_contrib.operators.text import ws_token_count


def pack_turns(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    ntok: Column | None = None,
) -> DataFrame:
    """Assign every turn a conversation-local ``pack_idx`` such that
    each pack's total whitespace-token count stays <= ``budget``
    (next-fit in ``order_col`` order; an oversized single turn gets a
    pack of its own). Returns (key, order, ntok, pack_idx) per turn.

    Deterministic and integer-only, so a DuckDB recursive CTE
    re-derives it exactly (the q76 gate oracle)."""
    if ntok is None:
        ntok = ws_token_count(F.col(text_col))
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    t = df.select(
        F.col(key_col),
        F.col(order_col).cast("int").alias(order_col),
        # a NULL token count (e.g. NULL text) would poison the whole
        # conversation's fold — treat it as an empty turn instead
        F.coalesce(ntok.cast("int"), F.lit(0)).alias("ntok"),
    )
    arr = t.groupBy(key_col).agg(
        F.array_sort(F.collect_list(F.struct(order_col, "ntok"))).alias("_turns")
    )

    zero = F.struct(
        F.expr("CAST(array() AS ARRAY<INT>)").alias("bins"),
        F.lit(0).alias("cur"),
        F.lit(0).alias("fill"),
    )

    def step(acc: Column, x: Column) -> Column:
        new_fill = acc["fill"] + x["ntok"]
        over = (acc["fill"] > 0) & (new_fill > F.lit(budget))
        cur2 = F.when(over, acc["cur"] + 1).otherwise(acc["cur"])
        fill2 = F.when(over, x["ntok"]).otherwise(new_fill)
        return F.struct(
            F.concat(acc["bins"], F.array(cur2)).alias("bins"),
            cur2.alias("cur"),
            fill2.alias("fill"),
        )

    packed = arr.withColumn("_pack", F.aggregate("_turns", zero, step)["bins"])
    z = packed.select(
        key_col, F.explode(F.arrays_zip("_turns", "_pack")).alias("z")
    )
    return z.select(
        key_col,
        F.col(f"z._turns.{order_col}").alias(order_col),
        F.col("z._turns.ntok").alias("ntok"),
        F.col("z._pack").alias("pack_idx"),
    )


def pack_stats(packed: DataFrame, key_col: str = "conv_id") -> DataFrame:
    """Per-pack rollup of :func:`pack_turns` output — the actual
    training-sequence manifest (how full each pack is)."""
    return packed.groupBy(key_col, "pack_idx").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("ntok").cast("long").alias("pack_tokens"),
    )


def pack_lm_examples(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    eos: str = "<eos>",
) -> DataFrame:
    """Causal-LM example packing — the standard GPT pretraining prep:
    append an EOS token to every document, lay ALL documents' tokens
    end-to-end on one global axis (in ``id_col`` order), and cut it
    into consecutive ``seq_len``-token training examples. Documents
    crossing an example boundary SPLIT across the adjacent examples
    (unlike pack_turns' next-fit, which never splits); the final
    partial example is kept.

    100 TB shape: the global token offset is sampling.global_prefix_sum
    (coarse-range partial sums -> O(parallelism) rows to the driver ->
    broadcast offsets + per-range window; never a one-task global
    window). Each document then computes its own example span locally
    and explodes into at most ceil(n_tokens/seq_len)+1 portion rows —
    for the typical doc ≪ seq_len that is ONE row — and examples
    reassemble with a single groupBy(example_id). Token arrays are
    sliced JVM-side; zero Python.

    Output: (example_id, n_tokens, text); every example has exactly
    ``seq_len`` tokens except the last."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    from quanta_contrib.operators.sampling import global_prefix_sum

    L = int(seq_len)
    base = df.select(F.col(id_col), F.trim(F.col(text_col)).alias("_txt"))
    n_toks = F.size(F.split(F.col("_txt"), " ")) + F.lit(1)  # +1: EOS
    with_cum = global_prefix_sum(base, n_toks, id_col)
    if with_cum is None:
        return df.sparkSession.createDataFrame(
            [], "example_id long, n_tokens long, text string"
        )
    doc = with_cum.select(
        (F.col("_cum") - F.col("_w")).alias("_start"),
        F.col("_cum"),
        F.concat(F.split(F.col("_txt"), " "), F.array(F.lit(eos))).alias("_toks"),
    )
    p = doc.select(
        "_start",
        "_cum",
        "_toks",
        F.explode(
            F.sequence(
                F.expr(f"_start DIV {L}"), F.expr(f"(_cum - 1) DIV {L}")
            )
        ).alias("example_id"),
    )
    s_g = F.greatest(F.col("example_id") * L, F.col("_start"))
    e_g = F.least((F.col("example_id") + 1) * L, F.col("_cum"))
    portions = p.select(
        "example_id",
        s_g.alias("_gstart"),
        F.slice(
            F.col("_toks"),
            (s_g - F.col("_start") + 1).cast("int"),
            (e_g - s_g).cast("int"),
        ).alias("_ptoks"),
    )
    return portions.groupBy("example_id").agg(
        F.sum(F.size("_ptoks")).cast("long").alias("n_tokens"),
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_gstart", "_ptoks"))),
                    lambda x: x["_ptoks"],
                )
            ),
            " ",
        ).alias("text"),
    )
