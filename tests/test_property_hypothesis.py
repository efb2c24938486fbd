"""Hypothesis property tests — randomized inputs for the invariants a
fixed fixture can miss: codec round-trips over arbitrary shapes, and
the two-phase token budget vs a single-machine oracle over arbitrary
token distributions (the operator whose equivalence proof has the
subtlest edge cases — see the overflow-sentinel note in sampling.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    c=st.sampled_from([3, 4]),
    ft=st.integers(0, 4),
    seed=st.integers(0, 2**16),
)
def test_png_roundtrip_random_shapes(h, w, c, ft, seed):
    from quanta_contrib.operators.codecs import decode_png, encode_png

    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, c), dtype=np.uint8)
    assert (decode_png(encode_png(px, filter_type=ft)) == px).all()


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(1, 3000),
    seed=st.integers(0, 2**16),
)
def test_bmp_roundtrip_random_rows(n, seed):
    from quanta_contrib.operators.codecs import decode_bmp, encode_bmp

    rng = np.random.default_rng(seed)
    w = int(rng.integers(1, 50))
    h = max(1, n // max(w, 1)) % 50 + 1
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(px)) == px).all()


def _naive_budget(pdf: pd.DataFrame, budget: int) -> set:
    keep = set()
    for _lang, grp in pdf.groupby("lang"):
        grp = grp.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        running = 0
        for _, row in grp.iterrows():
            running += row["n_tokens"]
            if running <= budget:
                keep.add(row["doc_id"])
    return keep


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(0, 2**16),
    budget=st.integers(1, 400),
    n_salt=st.sampled_from([1, 2, 3, 32]),
)
def test_token_budget_two_phase_equals_naive_random(spark, seed, budget, n_salt):
    """Random token distributions x random budgets x salt counts: the
    two-phase plan must equal the single-machine prefix rule exactly.
    n_salt=1 degenerates to single-phase; small salt counts maximize
    bucket collisions (the re-admission hazard)."""
    from quanta_contrib.operators.sampling import token_budget_per_stratum

    rng = np.random.default_rng(seed)
    n = int(rng.integers(5, 120))
    pdf = pd.DataFrame(
        {
            "lang": rng.choice(["en", "de"], size=n, p=[0.8, 0.2]),
            "doc_id": np.arange(n, dtype=np.int64),
            "n_tokens": rng.integers(1, 80, size=n).astype(np.int64),
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    got = token_budget_per_stratum(
        df, budget=budget, tokens_col="n_tokens", n_salt=n_salt
    )
    assert {r["doc_id"] for r in got.collect()} == _naive_budget(pdf, budget)


def _naive_next_fit(items: list[tuple[int, int]], budget: int) -> dict:
    """(turn_idx, ntok) sorted -> {turn_idx: pack_idx} next-fit."""
    out, cur, fill = {}, 0, 0
    for idx, tok in sorted(items):
        if fill > 0 and fill + tok > budget:
            cur += 1
            fill = tok
        else:
            fill += tok
        out[idx] = cur
    return out


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    budget=st.integers(3, 40),
    n_convs=st.integers(1, 6),
)
def test_pack_turns_equals_naive_next_fit(spark, seed, budget, n_convs):
    from pyspark.sql import functions as F

    from quanta_contrib.operators.packing import pack_turns

    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_convs):
        for i in range(int(rng.integers(1, 15))):
            rows.append((f"c{c}", i, "w " * int(rng.integers(0, 12))))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        (r["conv_id"], r["turn_idx"]): r["pack_idx"]
        for r in pack_turns(df, budget=budget).collect()
    }
    # ws_token_count("") == 1 (split of empty string yields ['']), so
    # mirror that in the reference
    by_conv: dict = {}
    for conv, idx, text in rows:
        ntok = len(text.strip().split()) if text.strip() else 1
        by_conv.setdefault(conv, []).append((idx, ntok))
    want = {
        (conv, idx): pk
        for conv, items in by_conv.items()
        for idx, pk in _naive_next_fit(items, budget).items()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(0, 10_000), stride=st.integers(3, 200))
def test_systematic_weighted_sample_equals_naive_cumsum(spark, seed, stride):
    from pyspark.sql import functions as F

    from quanta_contrib.operators.sampling import systematic_weighted_sample

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 80))
    ids = sorted(rng.choice(100_000, size=n, replace=False).tolist())
    w = rng.integers(0, 60, size=n).tolist()
    df = spark.createDataFrame(list(zip(ids, w)), "doc_id long, w long")
    got = {
        r["doc_id"]: (r["cum_weight"], r["pick_count"])
        for r in systematic_weighted_sample(df, "w", stride).collect()
    }
    cum = 0
    want = {}
    for i, wi in zip(ids, w):
        prev, cum = cum, cum + wi
        picks = cum // stride - prev // stride
        if picks > 0:
            want[i] = (cum, picks)
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), max_size=40),
    sp0=st.integers(min_value=0, max_value=30),
    sn0=st.integers(min_value=0, max_value=30),
    t=st.integers(min_value=-5, max_value=5),
    k=st.integers(min_value=0, max_value=5),
    h=st.integers(min_value=1, max_value=60),
)
def test_cusum_fold_equals_textbook_recursion(vals, sp0, sn0, t, k, h):
    """The segment-vectorized prefix-min CUSUM fold must equal the
    per-row textbook recursion on arbitrary integer sequences, carries
    and thresholds (the identity the q151/q152 oracles rely on)."""
    from quanta_spark.operators.stateful import _cusum_fold

    sp, sn, alarms = sp0, sn0, []
    for i, v in enumerate(vals):
        sp = max(0, sp + (v - t - k))
        sn = max(0, sn + (t - v - k))
        trip = sp > h or sn > h
        if sp > h:
            alarms.append((i, "up", sp))
        if sn > h:
            alarms.append((i, "down", sn))
        if trip:
            sp = sn = 0
    got = _cusum_fold(sp0, sn0, np.asarray(vals, dtype=np.int64), t, k, h)
    assert got == (sp, sn, alarms)
