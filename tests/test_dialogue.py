"""Dialogue-structure operators: SFT pairs, truncation, transitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from quanta_contrib.operators.dialogue import (
    render_conversations,
    role_transitions,
    sft_pairs,
    truncate_to_context,
)


def _conv(spark):
    rows = [
        ("c1", 0, "user", "hello there"),
        ("c1", 1, "assistant", "hi how can i help"),
        ("c1", 2, "user", "do a thing"),
        ("c1", 3, "tool", "tool output text"),
        ("c1", 4, "assistant", "done the thing"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_sft_pairs_context_and_edges(spark):
    got = {r["turn_idx"]: r for r in sft_pairs(_conv(spark), 3).collect()}
    assert set(got) == {1, 4}  # one pair per assistant turn
    assert got[1]["prompt"] == "hello there"  # missing lags skipped
    assert got[1]["n_context"] == 1
    assert got[4]["prompt"] == "hi how can i help\ndo a thing\ntool output text"
    assert got[4]["n_context"] == 3
    assert got[4]["response"] == "done the thing"


def test_truncate_keeps_newest_suffix_only(spark):
    # token counts: 2,5,3,3,3 from newest: 3,3,3 -> 9; +5 = 14
    kept = sorted(
        r["turn_idx"] for r in truncate_to_context(_conv(spark), 9).collect()
    )
    assert kept == [2, 3, 4]
    # an oversized newest turn drops the whole conversation
    assert truncate_to_context(_conv(spark), 2).count() == 0


def test_role_transition_probs_sum_to_one(spark):
    out = role_transitions(_conv(spark)).collect()
    n_by_src: dict = {}
    for r in out:
        n_by_src.setdefault(r["role"], []).append(r["prob_bp"])
    for src, bps in n_by_src.items():
        assert abs(sum(bps) - 10_000) <= len(bps), (src, bps)
    m = {(r["role"], r["next_role"]): r["n"] for r in out}
    assert m[("user", "assistant")] == 1 and m[("user", "tool")] == 1


def test_render_conversations_bounded_and_ordered(spark):
    rows = [("c1", i, "user" if i % 2 == 0 else "assistant", f"t{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    r = render_conversations(df, max_turns=4).collect()[0]
    assert (r["n_turns"], r["n_rendered"]) == (10, 4)
    assert r["rendered"] == "user: t6\nassistant: t7\nuser: t8\nassistant: t9"
    # layout-independence of the sort-then-slice
    r2 = render_conversations(df.repartition(7), max_turns=4).collect()[0]
    assert r2["rendered"] == r["rendered"]


def test_reply_latency_histogram_buckets_and_edges(spark):
    """Bucket edges are integer-exact: 0s, 1s, 9s, 10s, 59s, 60s, 600s
    land in the right bands; non-adjacent and non-user->assistant pairs
    are excluded."""
    from datetime import datetime, timedelta

    from quanta_contrib.operators.dialogue import reply_latency_histogram

    t0 = datetime(2024, 1, 1)
    rows = []
    # conv c<k>: user at t0, assistant at t0+gap
    for k, gap in enumerate([0, 1, 9, 10, 59, 60, 600]):
        rows += [
            (f"c{k}", 0, "user", t0),
            (f"c{k}", 1, "assistant", t0 + timedelta(seconds=gap)),
        ]
    # excluded: assistant->user, and a user->assistant with a gap in turn_idx
    rows += [
        ("x1", 0, "assistant", t0),
        ("x1", 1, "user", t0 + timedelta(seconds=5)),
        ("x2", 0, "user", t0),
        ("x2", 2, "assistant", t0 + timedelta(seconds=5)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, ts timestamp")
    got = {
        r["latency_bucket"]: (r["n_replies"], r["min_s"], r["max_s"])
        for r in reply_latency_histogram(df).collect()
    }
    assert got == {
        "0_under_1s": (1, 0, 0),
        "1_1_to_10s": (2, 1, 9),
        "2_10_to_60s": (2, 10, 59),
        "3_1_to_10m": (1, 60, 60),
        "4_over_10m": (1, 600, 600),
    }


def test_role_trigram_patterns_counts_and_support(spark):
    """Trigram counts cross conversation boundaries never; support
    counts distinct conversations; min_support prunes."""
    from quanta_contrib.operators.dialogue import role_trigram_patterns

    rows = []
    # two convs with user->assistant->user twice each (sliding), one
    # conv with a unique tool pattern (support 1 -> pruned)
    for c in ("a", "b"):
        for i, r in enumerate(["user", "assistant", "user", "assistant"]):
            rows.append((c, i, r, None))
    for i, r in enumerate(["tool", "tool", "tool"]):
        rows.append(("c", i, r, None))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, ts timestamp")
    got = {
        (r["r1"], r["r2"], r["r3"]): (r["n_occurrences"], r["n_convs"])
        for r in role_trigram_patterns(df, min_support=2).collect()
    }
    assert got == {
        ("user", "assistant", "user"): (2, 2),
        ("assistant", "user", "assistant"): (2, 2),
    }
    all_pat = {
        (r["r1"], r["r2"], r["r3"])
        for r in role_trigram_patterns(df, min_support=1).collect()
    }
    assert ("tool", "tool", "tool") in all_pat
