"""Stateful core: per-conversation turn-ordering enforcement
(applyInPandasWithState) and the user↔reply stream-stream join,
verified against batch/pandas oracles (SURVEY.md §7 step 5).
"""

from __future__ import annotations

import os

import pandas as pd

from quanta_spark.datagen import (
    HEARTBEAT_CONV,
    GenSpec,
    copy_arrival_ordered,
    generate,
    write_heartbeat_file,
    write_transcripts,
)
from quanta_spark.operators.stateful import enforce_turn_order, join_user_replies
from quanta_spark.sources.readers import read_transcripts_batch, stream_transcripts_files
from quanta_spark.streaming.engine import run_to_completion, start_pipeline

SPEC = GenSpec(n_convs=40, mean_turns=10, seed=44, late_frac=0.0, shuffle_frac=0.25)


def _run_stream(spark, tmp_workdir, op, spec=SPEC, n_files=8, per_trigger=1):
    data_dir = os.path.join(tmp_workdir, "in")
    write_transcripts(data_dir, spec, n_files=n_files)
    batches: list[tuple[int, list]] = []

    def collect(batch_df, batch_id):
        batches.append((batch_id, batch_df.collect()))

    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=per_trigger, with_lineage=False
    )
    h = start_pipeline(op(src), collect, os.path.join(tmp_workdir, "ckpt"))
    h.process_all_available()
    write_heartbeat_file(
        data_dir, generate(spec)["ts"].max() + pd.Timedelta(days=30)
    )
    run_to_completion(h)
    return batches


def test_turn_order_enforced_streaming(spark, tmp_workdir):
    """Rows arrive out of turn order (shuffle_frac=0.25 within the
    watermark); the operator must emit each conversation's turns in
    contiguous turn_idx order across batches, with no dup and no loss."""
    batches = _run_stream(
        spark, tmp_workdir, lambda src: enforce_turn_order(src, watermark="1 hour")
    )
    emitted: dict[str, list[int]] = {}
    for _bid, rows in batches:
        for r in rows:
            if r["conv_id"] != HEARTBEAT_CONV:
                emitted.setdefault(r["conv_id"], []).append(r["turn_idx"])

    want = generate(SPEC)
    sizes = want.groupby("conv_id").size()
    assert set(emitted) == set(sizes.index.astype(str))
    for conv, idxs in emitted.items():
        # emission order IS turn order: contiguous from 0, no dup/loss
        assert idxs == list(range(len(idxs))), f"{conv}: out of order {idxs[:10]}"
        assert len(idxs) == sizes[conv]


def test_turn_order_input_was_actually_shuffled(tmp_workdir):
    """Guard: the fixture really delivers out-of-order rows (otherwise
    the previous test proves nothing)."""
    pdf = generate(SPEC).sort_values("arrival_ts", kind="mergesort")
    disorder = (pdf.groupby("conv_id")["turn_idx"].diff() < 0).sum()
    assert disorder > 20


def test_turn_order_batch_mode_equals_sort(spark, transcripts_dir, small_spec):
    df = read_transcripts_batch(spark, transcripts_dir)
    got = enforce_turn_order(df).toPandas().sort_values(["conv_id", "turn_idx"])
    want = generate(small_spec)
    assert len(got) == len(want)
    assert not got.duplicated(["conv_id", "turn_idx"]).any()


def test_turn_order_permanent_gap_flushes_not_loses(spark, tmp_workdir):
    """Delete one mid-conversation turn from the input: the operator
    must still emit every other turn exactly once — successors of the
    gap arrive via the watermark flush (flushed=True), never silently
    lost, and never emitted before the gap is provably permanent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.datagen import _ARROW_SCHEMA

    spec = GenSpec(n_convs=10, mean_turns=12, seed=46, late_frac=0.0, shuffle_frac=0.0)
    pdf = generate(spec).drop(columns=["arrival_ts"])
    victim = pdf.groupby("conv_id").size().idxmax()
    drop_mask = (pdf.conv_id == victim) & (pdf.turn_idx == 3)
    assert drop_mask.sum() == 1
    kept = (
        pdf[~drop_mask]
        .sort_values("ts", kind="mergesort")  # arrival = event-time order
        .reset_index(drop=True)
    )

    data_dir = os.path.join(tmp_workdir, "in")
    os.makedirs(data_dir)
    for k in range(4):
        chunk = kept.iloc[k * len(kept) // 4 : (k + 1) * len(kept) // 4]
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=_ARROW_SCHEMA, preserve_index=False),
            os.path.join(data_dir, f"part-{k:05d}.parquet"),
        )

    batches = []
    src = stream_transcripts_files(spark, data_dir, max_files_per_trigger=1, with_lineage=False)
    h = start_pipeline(
        enforce_turn_order(src, watermark="10 minutes"),
        lambda b, i: batches.append(b.collect()),
        os.path.join(tmp_workdir, "ckpt"),
    )
    h.process_all_available()
    write_heartbeat_file(data_dir, pdf["ts"].max() + pd.Timedelta(days=30))
    run_to_completion(h)

    rows = [r for bs in batches for r in bs if r["conv_id"] != HEARTBEAT_CONV]
    got = pd.DataFrame([r.asDict() for r in rows])
    assert len(got) == len(kept), "loss or duplication around the gap"
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    vic = got[got.conv_id == victim].sort_values("turn_idx")
    assert list(vic.turn_idx) == [i for i in range(len(vic) + 1) if i != 3]
    # turns before the gap emitted normally; at least the first post-gap
    # turn can only have come out via the watermark flush
    assert not vic[vic.turn_idx < 3]["flushed"].any()
    assert vic[vic.turn_idx == 4]["flushed"].iloc[0]


def test_stream_stream_join_matches_batch(spark, tmp_workdir):
    """Streaming user↔reply join at final watermark == the same join
    run in batch over the whole input (pandas merge oracle)."""
    batches = _run_stream(
        spark,
        tmp_workdir,
        lambda src: join_user_replies(src, watermark="1 hour", max_reply_delay="30 minutes"),
        per_trigger=2,
    )
    got = pd.DataFrame(
        [r.asDict() for _bid, rows in batches for r in rows]
    )
    got = got[got["conv_id"] != HEARTBEAT_CONV].sort_values(
        ["conv_id", "user_turn_idx"]
    ).reset_index(drop=True)

    pdf = generate(SPEC).drop(columns=["arrival_ts"])
    users = pdf[pdf.role == "user"][["conv_id", "turn_idx", "ts"]].rename(
        columns={"turn_idx": "user_turn_idx", "ts": "user_ts"}
    )
    reps = pdf[pdf.role.isin(["assistant", "tool"])][
        ["conv_id", "turn_idx", "ts"]
    ].rename(columns={"turn_idx": "reply_turn_idx", "ts": "reply_ts"})
    want = users.merge(reps, on="conv_id")
    want = want[
        (want.reply_turn_idx == want.user_turn_idx + 1)
        & (want.reply_ts >= want.user_ts)
        & (want.reply_ts <= want.user_ts + pd.Timedelta(minutes=30))
    ].sort_values(["conv_id", "user_turn_idx"]).reset_index(drop=True)

    assert len(got) == len(want), f"join rows {len(got)} != oracle {len(want)}"
    assert (got["user_turn_idx"].to_numpy() == want["user_turn_idx"].to_numpy()).all()
    assert (got["reply_latency_s"] >= 0).all()
    assert (got["reply_latency_s"] <= 1800).all()


def test_stream_outer_join_emits_unanswered_after_watermark(spark, tmp_workdir):
    """LEFT OUTER stream-stream join: at final watermark the streaming
    result equals the batch left join — answered rows identical, and
    every user turn with no qualifying reply appears exactly once with
    NULL reply columns (emitted only after the watermark passed its
    reply-delay bound)."""
    from quanta_spark.operators.stateful import join_user_replies_outer

    # custom harness: outer-join NULL rows emit in the micro-batch
    # AFTER the watermark advances past their bound, so one heartbeat
    # is not enough — the batch that RAISES the watermark is the last
    # to run. A second heartbeat forces the extra batch that flushes
    # the eviction-ready unmatched rows.
    data_dir = os.path.join(tmp_workdir, "in")
    write_transcripts(data_dir, SPEC, n_files=8)
    batches: list[tuple[int, list]] = []
    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=2, with_lineage=False
    )
    # watermark strictly wider than the generator's 1h arrival
    # jitter so no user turn is dropped as late — this test measures
    # outer-join NULL emission, not late-data exclusion (which is
    # covered by the windowed-late-drop tests)
    h = start_pipeline(
        join_user_replies_outer(src, watermark="2 hours", max_reply_delay="30 minutes"),
        lambda b, i: batches.append((i, b.collect())),
        os.path.join(tmp_workdir, "ckpt"),
    )
    h.process_all_available()
    max_ts = generate(SPEC)["ts"].max()
    write_heartbeat_file(data_dir, max_ts + pd.Timedelta(days=30))
    h.process_all_available()
    write_heartbeat_file(data_dir, max_ts + pd.Timedelta(days=60), name="zz-heartbeat2")
    run_to_completion(h)
    got = pd.DataFrame([r.asDict() for _bid, rows in batches for r in rows])
    got = got[got["conv_id"] != HEARTBEAT_CONV].sort_values(
        ["conv_id", "user_turn_idx"]
    ).reset_index(drop=True)

    pdf = generate(SPEC).drop(columns=["arrival_ts"])
    users = pdf[pdf.role == "user"][["conv_id", "turn_idx", "ts"]].rename(
        columns={"turn_idx": "user_turn_idx", "ts": "user_ts"}
    )
    reps = pdf[pdf.role.isin(["assistant", "tool"])][
        ["conv_id", "turn_idx", "ts"]
    ].rename(columns={"turn_idx": "reply_turn_idx", "ts": "reply_ts"})
    m = users.merge(reps, on="conv_id", how="left")
    ok = (
        (m.reply_turn_idx == m.user_turn_idx + 1)
        & (m.reply_ts >= m.user_ts)
        & (m.reply_ts <= m.user_ts + pd.Timedelta(minutes=30))
    )
    answered = m[ok]
    unanswered = users[~users.set_index(["conv_id", "user_turn_idx"]).index.isin(
        answered.set_index(["conv_id", "user_turn_idx"]).index
    )]

    # every user turn appears exactly once
    assert len(got) == len(users)
    assert not got.duplicated(["conv_id", "user_turn_idx"]).any()
    got_answered = got[got["answered"]]
    got_null = got[~got["answered"]]
    assert len(got_answered) == len(answered)
    assert len(got_null) == len(unanswered) > 0
    assert got_null["reply_turn_idx"].isna().all()
    # unanswered sets match exactly
    assert set(map(tuple, got_null[["conv_id", "user_turn_idx"]].to_numpy())) == set(
        map(tuple, unanswered[["conv_id", "user_turn_idx"]].to_numpy())
    )


def test_stream_join_resumes_from_checkpoint_exactly_once(spark, tmp_workdir):
    """Kill the streaming join mid-run and restart a NEW query on the
    same checkpoint: the union of both runs' outputs must equal the
    batch join exactly — no duplicate and no missing (conv, user_turn)
    pair — i.e. join STATE (not just source offsets) survives restart."""
    data_dir = os.path.join(tmp_workdir, "in")
    write_transcripts(data_dir, SPEC, n_files=8)
    ckpt = os.path.join(tmp_workdir, "ckpt")
    rows: list = []

    def collect(b, i):
        rows.extend(b.collect())

    def build(src):
        return join_user_replies(src, watermark="1 hour", max_reply_delay="30 minutes")

    # run 1: only half the files exist yet -> stop mid-stream
    os.makedirs(data_dir + "_half")
    files = sorted(os.listdir(data_dir))
    copy_arrival_ordered(data_dir, data_dir + "_half", files[:4])
    src = stream_transcripts_files(
        spark, data_dir + "_half", max_files_per_trigger=2, with_lineage=False
    )
    h1 = start_pipeline(build(src), collect, ckpt)
    h1.process_all_available()
    h1.stop()
    n_first = len(rows)
    assert n_first > 0

    # run 2: remaining files appear; new query, SAME checkpoint
    copy_arrival_ordered(data_dir, data_dir + "_half", files[4:])
    src2 = stream_transcripts_files(
        spark, data_dir + "_half", max_files_per_trigger=2, with_lineage=False
    )
    h2 = start_pipeline(build(src2), collect, ckpt)
    h2.process_all_available()
    write_heartbeat_file(
        data_dir + "_half", generate(SPEC)["ts"].max() + pd.Timedelta(days=30)
    )
    run_to_completion(h2)
    assert len(rows) > n_first, "post-restart batches produced nothing"

    got = pd.DataFrame([r.asDict() for r in rows])
    got = got[got["conv_id"] != HEARTBEAT_CONV]
    assert not got.duplicated(["conv_id", "user_turn_idx"]).any()

    pdf = generate(SPEC).drop(columns=["arrival_ts"])
    users = pdf[pdf.role == "user"][["conv_id", "turn_idx", "ts"]].rename(
        columns={"turn_idx": "user_turn_idx", "ts": "user_ts"}
    )
    reps = pdf[pdf.role.isin(["assistant", "tool"])][
        ["conv_id", "turn_idx", "ts"]
    ].rename(columns={"turn_idx": "reply_turn_idx", "ts": "reply_ts"})
    want = users.merge(reps, on="conv_id")
    want = want[
        (want.reply_turn_idx == want.user_turn_idx + 1)
        & (want.reply_ts >= want.user_ts)
        & (want.reply_ts <= want.user_ts + pd.Timedelta(minutes=30))
    ]
    assert len(got) == len(want)
    assert set(map(tuple, got[["conv_id", "user_turn_idx"]].to_numpy())) == set(
        map(tuple, want[["conv_id", "user_turn_idx"]].to_numpy())
    )


def test_stream_full_outer_join_drains_both_sides(spark, tmp_workdir):
    """FULL OUTER stream-stream join: at final watermark the streaming
    result equals the batch full join — matched rows identical, every
    unanswered user turn AND every orphan reply emitted exactly once
    (both sides' unmatched state drains after the watermark bound)."""
    from quanta_spark.operators.stateful import join_user_replies_full

    data_dir = os.path.join(tmp_workdir, "in")
    write_transcripts(data_dir, SPEC, n_files=8)
    batches: list[tuple[int, list]] = []
    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=2, with_lineage=False
    )
    h = start_pipeline(
        join_user_replies_full(src, watermark="2 hours", max_reply_delay="30 minutes"),
        lambda b, i: batches.append((i, b.collect())),
        os.path.join(tmp_workdir, "ckpt_full"),
    )
    h.process_all_available()
    max_ts = generate(SPEC)["ts"].max()
    write_heartbeat_file(data_dir, max_ts + pd.Timedelta(days=30))
    h.process_all_available()
    write_heartbeat_file(data_dir, max_ts + pd.Timedelta(days=60), name="zz-heartbeat2")
    run_to_completion(h)
    got = pd.DataFrame([r.asDict() for _bid, rows in batches for r in rows])
    got = got[got["conv_id"] != HEARTBEAT_CONV].reset_index(drop=True)

    # batch twin on the identical input = the reference answer
    batch_in = spark.read.parquet(data_dir).filter(f"conv_id <> '{HEARTBEAT_CONV}'")
    want = (
        join_user_replies_full(batch_in, max_reply_delay="30 minutes")
        .toPandas()
        .reset_index(drop=True)
    )
    key = ["conv_id", "user_turn_idx", "reply_turn_idx", "kind"]

    def canon(pdf):
        return (
            pdf[key]
            .fillna({"user_turn_idx": -1, "reply_turn_idx": -1})
            .sort_values(key)
            .reset_index(drop=True)
        )

    assert len(got) == len(want)
    pd.testing.assert_frame_equal(canon(got), canon(want))
    kinds = got["kind"].value_counts()
    assert kinds.get("matched", 0) > 0
    assert kinds.get("unanswered", 0) > 0
    assert kinds.get("orphan", 0) > 0, kinds.to_dict()


def test_match_sequence_requires_contiguous_turns(spark):
    """A gap in turn_idx must NOT match even when roles line up; steps
    can also predicate on other columns (tool name)."""
    from quanta_spark.operators.stateful import match_sequence

    rows = [
        # conv A: contiguous user->tool->user  => match at 0
        ("A", 0, "user", None), ("A", 1, "tool", "search"), ("A", 2, "user", None),
        # conv B: same roles but turn 2 missing => NO match
        ("B", 0, "user", None), ("B", 1, "tool", "search"), ("B", 3, "user", None),
        # conv C: tool name differs => no match for the tool-specific pattern
        ("C", 0, "user", None), ("C", 1, "tool", "calc"), ("C", 2, "user", None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, tool string")
    steps = [
        lambda c: c["role"] == "user",
        lambda c: (c["role"] == "tool") & (c["tool"] == "search"),
        lambda c: c["role"] == "user",
    ]
    got = {(r["conv_id"], r["start_turn"]) for r in match_sequence(df, steps).collect()}
    assert got == {("A", 0)}


def test_stream_full_outer_join_resumes_from_checkpoint(spark, tmp_workdir):
    """Restart the FULL OUTER join mid-stream on the same checkpoint:
    the union of both runs equals the batch full join exactly — no
    matched pair duplicated or lost, and no unmatched row (either
    side) emitted twice or dropped across the restart boundary. This
    extends the exactly-once-across-restart evidence to the join type
    whose state drains from BOTH sides."""
    from quanta_spark.operators.stateful import join_user_replies_full

    data_dir = os.path.join(tmp_workdir, "in_fo")
    write_transcripts(data_dir, SPEC, n_files=8)
    live = data_dir + "_live"
    ckpt = os.path.join(tmp_workdir, "ckpt_fo")
    rows: list = []

    def collect(b, i):
        rows.extend(b.collect())

    def build(src):
        return join_user_replies_full(
            src, watermark="2 hours", max_reply_delay="30 minutes"
        )

    os.makedirs(live)
    files = sorted(os.listdir(data_dir))
    copy_arrival_ordered(data_dir, live, files[:4])
    h1 = start_pipeline(
        build(stream_transcripts_files(spark, live, max_files_per_trigger=2, with_lineage=False)),
        collect, ckpt,
    )
    h1.process_all_available()
    h1.stop()
    n_first = len(rows)

    copy_arrival_ordered(data_dir, live, files[4:])
    h2 = start_pipeline(
        build(stream_transcripts_files(spark, live, max_files_per_trigger=2, with_lineage=False)),
        collect, ckpt,
    )
    h2.process_all_available()
    max_ts = generate(SPEC)["ts"].max()
    write_heartbeat_file(live, max_ts + pd.Timedelta(days=30))
    h2.process_all_available()
    write_heartbeat_file(live, max_ts + pd.Timedelta(days=60), name="zz-heartbeat2")
    run_to_completion(h2)
    assert len(rows) > n_first

    got = pd.DataFrame([r.asDict() for r in rows])
    got = got[got["conv_id"] != HEARTBEAT_CONV].reset_index(drop=True)
    want = (
        join_user_replies_full(
            spark.read.parquet(data_dir).filter(f"conv_id <> '{HEARTBEAT_CONV}'"),
            max_reply_delay="30 minutes",
        )
        .toPandas()
        .reset_index(drop=True)
    )
    key = ["conv_id", "user_turn_idx", "reply_turn_idx", "kind"]

    def canon(pdf):
        return (
            pdf[key]
            .fillna({"user_turn_idx": -1, "reply_turn_idx": -1})
            .sort_values(key)
            .reset_index(drop=True)
        )

    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(canon(got), canon(want))


def test_match_sequence_kleene_greedy_and_bounds(spark):
    """Bounded Kleene: greedy longest-run per start, contiguity still
    enforced, bad bounds / oversize expansions rejected, and the whole
    pattern plans as ONE shuffle."""
    import pytest

    from quanta_spark.operators.stateful import match_sequence_kleene

    rows = [
        # conv A: v c c p  => greedy match_len 4 at turn 0
        ("A", 0, "view"), ("A", 1, "click"), ("A", 2, "click"), ("A", 3, "purchase"),
        # conv B: v c p    => match_len 3 at turn 0
        ("B", 0, "view"), ("B", 1, "click"), ("B", 2, "purchase"),
        # conv C: v c c c c p => 4 clicks exceeds {1,3}: no match at 0,
        # but the tail v-less window can't start (no 'view' later)
        ("C", 0, "view"), ("C", 1, "click"), ("C", 2, "click"),
        ("C", 3, "click"), ("C", 4, "click"), ("C", 5, "purchase"),
        # conv D: gap between click and purchase => no match
        ("D", 0, "view"), ("D", 1, "click"), ("D", 3, "purchase"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, kind string")
    steps = [
        lambda c: c["kind"] == "view",
        (lambda c: c["kind"] == "click", 1, 3),
        lambda c: c["kind"] == "purchase",
    ]
    out = match_sequence_kleene(df, steps, cols=("kind",))
    got = {(r["conv_id"], r["start_turn"]): r["match_len"] for r in out.collect()}
    assert got == {("A", 0): 4, ("B", 0): 3}

    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints Final AND Initial plan sections — count the
    # shuffle only in the final one
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange") == 1, plan
    # shared leads must be computed once, not once per variant
    assert final.count("lead(kind") <= 4, plan

    with pytest.raises(ValueError, match="1 <= m <= n"):
        match_sequence_kleene(df, [(steps[0], 0, 2)], cols=("kind",))
    with pytest.raises(ValueError, match="MAX_KLEENE_DEPTH"):
        match_sequence_kleene(df, [(steps[0], 1, 40)], cols=("kind",))
    with pytest.raises(ValueError, match="MAX_KLEENE_VARIANTS"):
        match_sequence_kleene(
            df, [(steps[0], 1, 9), (steps[1][0], 1, 9)], cols=("kind",)
        )


def test_match_sequence_kleene_matches_fixed_for_degenerate_bounds(spark):
    """{1,1} bounds must reduce exactly to match_sequence."""
    from quanta_spark.operators.stateful import match_sequence, match_sequence_kleene

    rows = [
        ("A", 0, "user", None), ("A", 1, "tool", "search"), ("A", 2, "user", None),
        ("B", 0, "user", None), ("B", 1, "tool", "search"), ("B", 3, "user", None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, tool string")
    steps = [
        lambda c: c["role"] == "user",
        lambda c: c["role"] == "tool",
        lambda c: c["role"] == "user",
    ]
    fixed = {tuple(r) for r in match_sequence(df, steps).collect()}
    kleene = {tuple(r) for r in match_sequence_kleene(df, [(s, 1, 1) for s in steps]).collect()}
    assert fixed == kleene == {("A", 0, 3)}


def test_match_sequence_within_time_bound(spark):
    """The WITHIN clause: predicates match but the event-time span
    exceeds the bound -> no match; greedy Kleene falls back to a
    shorter variant whose span fits."""
    import datetime as dt

    from quanta_spark.operators.stateful import match_sequence, match_sequence_kleene

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # conv A: v(0m) c(5m) p(10m)   -> span 10m, fits 30m
        ("A", 0, "view", ts(0)), ("A", 1, "click", ts(5)), ("A", 2, "purchase", ts(10)),
        # conv B: v(0m) c(50m) p(55m)  -> span 55m, violates 30m
        ("B", 0, "view", ts(0)), ("B", 1, "click", ts(50)), ("B", 2, "purchase", ts(55)),
        # conv C: v(0) c(5) c(40) p(45): len-4 variant spans 45m (out),
        # but no shorter variant matches (c at idx2 is not purchase)
        ("C", 0, "view", ts(0)), ("C", 1, "click", ts(5)),
        ("C", 2, "click", ts(40)), ("C", 3, "purchase", ts(45)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, kind string, ts timestamp"
    )
    fixed_steps = [
        lambda c: c["kind"] == "view",
        lambda c: c["kind"] == "click",
        lambda c: c["kind"] == "purchase",
    ]
    got = {
        r["conv_id"]
        for r in match_sequence(
            df, fixed_steps, cols=("kind",), within="30 minutes"
        ).collect()
    }
    assert got == {"A"}
    kleene_steps = [
        lambda c: c["kind"] == "view",
        (lambda c: c["kind"] == "click", 1, 3),
        lambda c: c["kind"] == "purchase",
    ]
    out = {
        (r["conv_id"], r["match_len"])
        for r in match_sequence_kleene(
            df, kleene_steps, cols=("kind",), within="30 minutes"
        ).collect()
    }
    assert out == {("A", 3)}
    # without the bound, B matches too and C's len-4 variant wins
    unbounded = {
        (r["conv_id"], r["match_len"])
        for r in match_sequence_kleene(df, kleene_steps, cols=("kind",)).collect()
    }
    assert unbounded == {("A", 3), ("B", 3), ("C", 4)}


def _run_cep_boundary(spark, workdir, w_minutes: float):
    """4 single-file micro-batches: A gets user@0m, tool@5m, then two W
    turns at ``w_minutes`` advance the watermark (delay 10m) to
    w_minutes-10m while A's start is pending, then A's final user turn
    arrives at exactly t0+30m (span == within == 30m)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.datagen import _ARROW_SCHEMA
    from quanta_spark.operators.stateful import match_sequence_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def row(conv, idx, role, minutes):
        return {
            "conv_id": conv, "turn_idx": idx, "role": role,
            "text": "x", "tool": None, "ts": t0 + dt.timedelta(minutes=minutes),
        }

    files = [
        [row("A", 0, "user", 0), row("A", 1, "tool", 5)],
        [row("W", 0, "user", w_minutes)],
        [row("W", 1, "tool", w_minutes)],
        [row("A", 2, "user", 30)],
    ]
    data_dir = os.path.join(workdir, "in")
    os.makedirs(data_dir)
    for k, rows in enumerate(files):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(rows), schema=_ARROW_SCHEMA, preserve_index=False
            ),
            os.path.join(data_dir, f"part-{k:05d}.parquet"),
        )

    batches: list[list] = []
    src = stream_transcripts_files(
        spark, data_dir, max_files_per_trigger=1, with_lineage=False
    )
    h = start_pipeline(
        match_sequence_stream(
            src, _cep_stream_steps(), pattern_col="role",
            watermark="10 minutes", within="30 minutes",
        ),
        lambda b, i: batches.append(b.collect()),
        os.path.join(workdir, "ckpt"),
    )
    h.process_all_available()
    write_heartbeat_file(data_dir, pd.Timestamp(t0) + pd.Timedelta(days=30))
    run_to_completion(h)
    return {
        (r["conv_id"], r["start_turn"], r["match_len"])
        for bs in batches
        for r in bs
        if r["conv_id"] != HEARTBEAT_CONV
    }


def test_cep_stream_within_boundary(spark, tmp_workdir):
    """Decided-starts boundary (ADVICE r04 follow-up). The <= decide
    bound (ts[s] <= wm - within) is safe because Spark ADMITS only rows
    with event time strictly greater than the watermark — so against a
    decided start every future row's span is >= within + 1us. Pin both
    halves:

    (a) the premise — a span==within match whose last row lands in a
        batch where wm == that row's ts is DROPPED by Spark, so no
        match can exist (if Spark ever admits ts == wm, this fails and
        the decide bound must become strict);
    (b) the non-eager side — with wm one second SHORT of the boundary
        when the last row arrives, the start must still be undecided
        and the span==within match emitted."""
    got_at_boundary = _run_cep_boundary(
        spark, os.path.join(tmp_workdir, "at"), w_minutes=40
    )
    assert got_at_boundary == set()  # (a): wm == 30m, A2@30m dropped
    got_below_boundary = _run_cep_boundary(
        spark, os.path.join(tmp_workdir, "below"), w_minutes=39 + 59 / 60
    )
    assert got_below_boundary == {("A", 0, 3)}  # (b): wm == 29m59s


def _cep_stream_steps():
    return [
        lambda v: v == "user",
        lambda v: v == "tool",
        lambda v: v == "user",
    ]


def test_cep_stream_matches_batch_under_shuffle(spark, tmp_workdir):
    """Streaming fixed-length CEP over OUT-OF-ORDER arrival equals the
    batch matcher run on the whole input."""
    from pyspark.sql import functions as F

    from quanta_spark.operators.stateful import match_sequence, match_sequence_stream

    batches = _run_stream(
        spark,
        tmp_workdir,
        lambda src: match_sequence_stream(
            src, _cep_stream_steps(), pattern_col="role", watermark="1 hour"
        ),
    )
    got = {
        (r["conv_id"], r["start_turn"], r["match_len"])
        for _b, rows in batches
        for r in rows
        if r["conv_id"] != HEARTBEAT_CONV
    }
    batch_df = read_transcripts_batch(
        spark, os.path.join(tmp_workdir, "in")
    ).dropDuplicates(["conv_id", "turn_idx"])
    want = {
        tuple(r)
        for r in match_sequence(
            batch_df,
            [
                lambda c: c["role"] == "user",
                lambda c: c["role"] == "tool",
                lambda c: c["role"] == "user",
            ],
            cols=("role",),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_cep_stream_restart_exactly_once(spark, tmp_workdir):
    """Restart mid-stream on the same checkpoint: the union of both
    runs' matches equals the batch matcher output with no duplicates."""
    from quanta_spark.operators.stateful import match_sequence, match_sequence_stream

    data_dir = os.path.join(tmp_workdir, "in_cep")
    write_transcripts(data_dir, SPEC, n_files=8)
    live = data_dir + "_live"
    ckpt = os.path.join(tmp_workdir, "ckpt_cep")
    rows: list = []

    def build(src):
        return match_sequence_stream(
            src, _cep_stream_steps(), pattern_col="role", watermark="1 hour"
        )

    os.makedirs(live)
    files = sorted(os.listdir(data_dir))
    copy_arrival_ordered(data_dir, live, files[:4])
    h1 = start_pipeline(
        build(stream_transcripts_files(spark, live, max_files_per_trigger=2, with_lineage=False)),
        lambda b, i: rows.extend(b.collect()), ckpt,
    )
    h1.process_all_available()
    h1.stop()

    copy_arrival_ordered(data_dir, live, files[4:])
    h2 = start_pipeline(
        build(stream_transcripts_files(spark, live, max_files_per_trigger=2, with_lineage=False)),
        lambda b, i: rows.extend(b.collect()), ckpt,
    )
    h2.process_all_available()
    write_heartbeat_file(live, generate(SPEC)["ts"].max() + pd.Timedelta(days=30))
    run_to_completion(h2)

    got = [
        (r["conv_id"], r["start_turn"]) for r in rows if r["conv_id"] != HEARTBEAT_CONV
    ]
    assert len(got) == len(set(got)), "duplicate matches across restart"
    batch_df = read_transcripts_batch(spark, data_dir).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    want = {
        (r["conv_id"], r["start_turn"])
        for r in match_sequence(
            batch_df,
            [
                lambda c: c["role"] == "user",
                lambda c: c["role"] == "tool",
                lambda c: c["role"] == "user",
            ],
            cols=("role",),
        ).collect()
    }
    assert set(got) == want and len(want) > 0


def test_cep_stream_kleene_restart_matches_batch_greedy(spark, tmp_workdir):
    """Kleene + within across a mid-stream restart: the union of both
    runs equals the batch greedy matcher (match_sequence_kleene with
    the same within bound) — the decided-starts pointer must survive
    the checkpoint, or a restart would re-judge (duplicate) or skip
    starts at the boundary."""
    from pyspark.sql import functions as F

    from quanta_spark.operators.stateful import (
        match_sequence_kleene,
        match_sequence_stream,
    )

    data_dir = os.path.join(tmp_workdir, "in_ck")
    write_transcripts(data_dir, SPEC, n_files=8)
    live = data_dir + "_live"
    ckpt = os.path.join(tmp_workdir, "ckpt_ck")
    rows: list = []

    steps_stream = [
        lambda v: v == "user",
        (lambda v: v == "assistant", 1, 2),
        lambda v: v == "user",
    ]

    def build(src):
        return match_sequence_stream(
            src, steps_stream, pattern_col="role",
            watermark="1 hour", within="2 hours",
        )

    os.makedirs(live)
    files = sorted(os.listdir(data_dir))
    copy_arrival_ordered(data_dir, live, files[:4])
    h1 = start_pipeline(
        build(stream_transcripts_files(spark, live, max_files_per_trigger=2, with_lineage=False)),
        lambda b, i: rows.extend(b.collect()), ckpt,
    )
    h1.process_all_available()
    h1.stop()

    copy_arrival_ordered(data_dir, live, files[4:])
    h2 = start_pipeline(
        build(stream_transcripts_files(spark, live, max_files_per_trigger=2, with_lineage=False)),
        lambda b, i: rows.extend(b.collect()), ckpt,
    )
    h2.process_all_available()
    write_heartbeat_file(live, generate(SPEC)["ts"].max() + pd.Timedelta(days=30))
    run_to_completion(h2)

    got = {
        (r["conv_id"], r["start_turn"], r["match_len"])
        for r in rows
        if r["conv_id"] != HEARTBEAT_CONV
    }
    assert len(got) == len(
        [r for r in rows if r["conv_id"] != HEARTBEAT_CONV]
    ), "duplicate matches across restart"

    batch_df = read_transcripts_batch(spark, data_dir).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    want = {
        tuple(r)
        for r in match_sequence_kleene(
            batch_df,
            [
                lambda c: c["role"] == "user",
                (lambda c: c["role"] == "assistant", 1, 2),
                lambda c: c["role"] == "user",
            ],
            cols=("role",),
            within="2 hours",
        ).collect()
    }
    assert got == want and len(want) > 0


def _cusum_naive(sp, sn, vals, t, k, h):
    alarms = []
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
    return sp, sn, alarms


def test_cusum_fold_matches_naive_recursion():
    """The segment-vectorized prefix-min fold must equal the textbook
    per-row recursion on adversarial sequences: drifts both ways,
    immediate re-trips, nonzero carries, all-zero stretches."""
    import numpy as np

    from quanta_spark.operators.stateful import _cusum_fold

    cases = [
        (0, 0, [5, 5, 5, -20, 30, 30, 30, 0, 0, 30]),
        (7, 2, [1, -1, 2, -2, 40, -40, 40, -40]),
        (0, 0, [-30, -30, -30, 25, 25, 25, 25]),
        (14, 0, [0] * 6),
        (0, 0, []),
        (0, 9, [100]),  # single-row trip with carry on the other side
    ]
    t, k, h = 3, 1, 25
    for sp0, sn0, vals in cases:
        arr = np.asarray(vals, dtype=np.int64)
        got = _cusum_fold(sp0, sn0, arr, t, k, h)
        want = _cusum_naive(sp0, sn0, vals, t, k, h)
        assert got == want, (sp0, sn0, vals, got, want)
    # pseudo-random long sequence (deterministic LCG, both signs)
    x, seq = 1234567, []
    for _ in range(500):
        x = (x * 1103515245 + 12345) % (1 << 31)
        seq.append((x % 41) - 20)
    arr = __import__("numpy").asarray(seq, dtype="int64")
    assert _cusum_fold(3, 4, arr, 0, 2, 30) == _cusum_naive(3, 4, seq, 0, 2, 30)


def test_stream_cusum_validation(spark):
    import pytest

    from quanta_spark.operators.stateful import stream_cusum

    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1.0)], "user_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="slack"):
        stream_cusum(df, threshold=1.0, slack=-1.0)
    with pytest.raises(ValueError, match="threshold"):
        stream_cusum(df, threshold=0.0)


def test_stream_ks_monitor_batch_twin_flags_planted_drift(spark):
    """Batch path: a window drawn from the baseline distribution reads
    ~0 bp; a window shifted by +10 reads a large KS."""
    from datetime import datetime, timedelta

    import pytest

    from quanta_contrib.operators.stateful import stream_ks_monitor

    t0 = datetime(2024, 1, 1)
    rows = []
    # window A (hour 0-6): values 0..9 uniform -> identical to baseline
    for i in range(100):
        rows.append((t0 + timedelta(minutes=i), float(i % 10)))
    # window B (hour 6-12): values shifted +10 -> hard drift
    for i in range(100):
        rows.append((t0 + timedelta(hours=6, minutes=i), float(i % 10 + 10)))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    baseline = [10] * 10 + [0] * 22  # uniform mass on bins 0..9
    out = {
        r["window_start"]: r
        for r in stream_ks_monitor(df, baseline, 0, 32, 32, window="6 hours").collect()
    }
    assert out[t0]["ks_bp"] == 0 and out[t0]["n"] == 100
    assert out[datetime(2024, 1, 1, 6)]["ks_bp"] == 10_000  # disjoint support
    with pytest.raises(ValueError, match="n_bins"):
        stream_ks_monitor(df, [1, 2], 0, 32, 32)
    with pytest.raises(ValueError, match="empty"):
        stream_ks_monitor(df, [0] * 32, 0, 32, 32)


def test_turn_order_bucketed_single_group(spark, tmp_workdir):
    """Focused test for the r07 bucketing optimization: force EVERY
    conversation through ONE state bucket (n_buckets=1), so the
    vectorized multi-conversation path inside _order_fn carries the
    whole load — per-conv contiguous emission, no dup, no loss must
    hold exactly as with per-conv groups."""
    batches = _run_stream(
        spark,
        tmp_workdir,
        lambda src: enforce_turn_order(src, watermark="1 hour", n_buckets=1),
        per_trigger=2,
    )
    emitted: dict[str, list[int]] = {}
    for _bid, rows in batches:
        for r in rows:
            if r["conv_id"] != HEARTBEAT_CONV:
                emitted.setdefault(r["conv_id"], []).append(r["turn_idx"])

    want = generate(SPEC)
    sizes = want.groupby("conv_id").size()
    assert set(emitted) == set(sizes.index.astype(str))
    for conv, idxs in emitted.items():
        assert idxs == list(range(len(idxs))), f"{conv}: out of order {idxs[:10]}"
        assert len(idxs) == sizes[conv]


def test_turn_order_bucketed_gap_flush_single_group(spark, tmp_workdir):
    """Permanent-gap flush semantics with every conversation in one
    bucket: successors of a dropped turn arrive via the watermark flush
    (flushed=True), exactly once, never before the gap is permanent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_spark.datagen import _ARROW_SCHEMA

    spec = GenSpec(n_convs=10, mean_turns=12, seed=46, late_frac=0.0, shuffle_frac=0.0)
    pdf = generate(spec).drop(columns=["arrival_ts"])
    victim = pdf.groupby("conv_id").size().idxmax()
    drop_mask = (pdf.conv_id == victim) & (pdf.turn_idx == 3)
    kept = (
        pdf[~drop_mask]
        .sort_values("ts", kind="mergesort")
        .reset_index(drop=True)
    )
    data_dir = os.path.join(tmp_workdir, "in")
    os.makedirs(data_dir)
    for k in range(4):
        chunk = kept.iloc[k * len(kept) // 4 : (k + 1) * len(kept) // 4]
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=_ARROW_SCHEMA, preserve_index=False),
            os.path.join(data_dir, f"part-{k:05d}.parquet"),
        )
    batches = []
    src = stream_transcripts_files(spark, data_dir, max_files_per_trigger=1, with_lineage=False)
    h = start_pipeline(
        enforce_turn_order(src, watermark="10 minutes", n_buckets=1),
        lambda b, i: batches.append(b.collect()),
        os.path.join(tmp_workdir, "ckpt"),
    )
    h.process_all_available()
    write_heartbeat_file(data_dir, pdf["ts"].max() + pd.Timedelta(days=30))
    run_to_completion(h)

    rows = [r for bs in batches for r in bs if r["conv_id"] != HEARTBEAT_CONV]
    got = pd.DataFrame([r.asDict() for r in rows])
    assert len(got) == len(kept), "loss or duplication around the gap"
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    vic = got[got.conv_id == victim].sort_values("turn_idx")
    assert list(vic.turn_idx) == [i for i in range(len(vic) + 1) if i != 3]
    assert not vic[vic.turn_idx < 3]["flushed"].any()
    assert vic[vic.turn_idx == 4]["flushed"].iloc[0]


def test_stream_ks_monitor_excludes_nan_values(spark):
    """ADVICE r06 fix: NaN passed the null filter and hit an undefined
    float->int64 cast in the binning; it must be excluded like NULL."""
    import datetime
    import math

    from quanta_contrib.operators.stateful import stream_ks_monitor

    t0 = datetime.datetime(2025, 1, 1)
    rows = [(float(i % 32), t0) for i in range(64)]
    base = [2] * 32
    clean = spark.createDataFrame(rows, "value double, ts timestamp")
    noisy = spark.createDataFrame(
        rows + [(float("nan"), t0)] * 5, "value double, ts timestamp"
    )
    got_clean = stream_ks_monitor(clean, base, 0, 32, 32, window="6 hours").collect()
    got_noisy = stream_ks_monitor(noisy, base, 0, 32, 32, window="6 hours").collect()
    assert [r.asDict() for r in got_clean] == [r.asDict() for r in got_noisy]
    assert got_noisy[0]["n"] == 64  # NaN rows not counted
    assert not math.isnan(got_noisy[0]["ks_bp"])
