"""Stateful operators: per-conversation turn-ordering enforcement and
the user↔assistant stream-stream join.

Reference semantics being generalized: the reference guarantees
per-partition total order by construction — one synchronous goroutine
per Kafka partition claim (driver_sarama.go:114-214, runner bound at
runner.go:206), so frames of a conversation (keyed by conv_id,
frame.proto:36) are processed strictly in produce order. Spark makes
no cross-batch row-order promise, so the target requires an explicit
operator: buffer out-of-order turns per conversation and emit them in
contiguous ``turn_idx`` order (BASELINE.json north_star:
'per-conversation turn-ordering enforcement').

Realization: ``applyInPandasWithState`` keyed by ``conv_id``
(Arrow-batched; state in the RocksDB state store). State is
(next expected idx, buffered pending turns). Each trigger:

1. append the batch's rows to the buffer (dropping stale rows with
   ``turn_idx`` < next — already emitted, i.e. replays/duplicates);
2. emit the contiguous prefix starting at next;
3. set an event-time timeout just past the current watermark; when it
   fires with no new data, flush whatever is buffered IN ORDER
   (gaps are declared permanently missing — same availability-over-
   completeness stance as the reference's drop-on-retry-exhaustion,
   runner.go:147-156, but explicit: flushed rows are marked).

State is bounded: the watermark-timeout flush guarantees no buffer
outlives the watermark horizon, so state size is O(convs active within
the horizon) — the property that lets this run at 10^12 turns.

Model assumption (holds for transcripts by construction): event time
``ts`` is non-decreasing in ``turn_idx`` within a conversation; the
flush rule "ts <= watermark => missing predecessors are permanently
late" relies on it.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# output: transcript columns + emission diagnostics
ORDERED_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("flushed", T.BooleanType(), False),
    ]
)

# state: one BUCKET of conversations (see enforce_turn_order) — per-conv
# cursors (tombstones included) + parallel arrays of buffered turns.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_conv", T.ArrayType(T.StringType()), True),
        T.StructField("cur_next", T.ArrayType(T.IntegerType()), True),
        T.StructField("buf_conv", T.ArrayType(T.StringType()), True),
        T.StructField("buf_idx", T.ArrayType(T.IntegerType()), True),
        T.StructField("buf_role", T.ArrayType(T.StringType()), True),
        T.StructField("buf_text", T.ArrayType(T.StringType()), True),
        T.StructField("buf_tool", T.ArrayType(T.StringType()), True),
        T.StructField("buf_ts", T.ArrayType(T.LongType()), True),  # epoch micros
    ]
)

# column bundle order used by the helpers below
_B_CONV, _B_IDX, _B_ROLE, _B_TEXT, _B_TOOL, _B_TS = range(6)


def _emit_pdf(bufs: tuple, flushed: "np.ndarray | bool") -> pd.DataFrame:
    conv, idx, role, text, tool, ts_us = bufs
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": pd.array(idx.astype("int32"), dtype="int32"),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": pd.to_datetime(ts_us, unit="us"),
            "flushed": flushed,
        }
    )


def _take(bufs: tuple, mask_or_index) -> tuple:
    return tuple(a[mask_or_index] for a in bufs)


def _seg_bounds(conv: "np.ndarray") -> tuple:
    """First-row mask + per-row segment id for a (conv)-sorted array."""
    import numpy as np

    if not len(conv):
        return np.empty(0, dtype=bool), np.empty(0, dtype=np.int64)
    first = np.concatenate([[True], conv[1:] != conv[:-1]])
    return first, np.cumsum(first) - 1


def _contiguous_prefix(bufs: tuple, nxt: dict) -> tuple:
    """Given (conv, idx)-sorted, deduped, stale-free buffers, split off
    the per-conversation contiguous prefix starting at nxt[conv].
    Advances ``nxt`` in place. Returns (emit_bufs, keep_bufs)."""
    import numpy as np

    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    if not len(conv):
        return bufs, bufs
    first, seg = _seg_bounds(conv)
    seg_starts = np.flatnonzero(first)
    start_next = np.array([nxt[c] for c in conv[seg_starts]], dtype=np.int64)
    pos = np.arange(len(conv)) - seg_starts[seg]
    ok = idx == (start_next[seg] + pos)
    bad = np.cumsum(~ok)
    bad_before_seg = (bad - (~ok).astype(np.int64))[seg_starts]
    emit = (bad - bad_before_seg[seg]) == 0
    if emit.any():
        e_conv, counts = np.unique(conv[emit], return_counts=True)
        for c, n in zip(e_conv.tolist(), counts.tolist()):
            nxt[c] += int(n)
    return _take(bufs, emit), _take(bufs, ~emit)


def _sorted_dedup_live(bufs: tuple, nxt: dict) -> tuple:
    """Stable-sort by (conv, idx), drop stale rows (idx < nxt[conv],
    i.e. already-emitted replays/duplicates), dedup keep-first."""
    import numpy as np

    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    order = np.lexsort((idx, conv))
    bufs = _take(bufs, order)
    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    nxt_per_row = np.array([nxt[c] for c in conv], dtype=np.int64)
    live = idx >= nxt_per_row
    bufs = _take(bufs, live)
    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    if len(conv):
        keep = np.concatenate(
            [[True], (conv[1:] != conv[:-1]) | (idx[1:] != idx[:-1])]
        )
        bufs = _take(bufs, keep)
    return bufs


def _load_state(state: GroupState) -> tuple:
    import numpy as np

    if state.exists:
        c_conv, c_next, b_conv, b_idx, b_role, b_text, b_tool, b_ts = state.get
        nxt = dict(zip(c_conv, (int(v) for v in c_next)))
        bufs = (
            np.asarray(b_conv, dtype=object),
            np.asarray(b_idx, dtype=np.int64),
            np.asarray(b_role, dtype=object),
            np.asarray(b_text, dtype=object),
            np.asarray(b_tool, dtype=object),
            np.asarray(b_ts, dtype=np.int64),
        )
    else:
        nxt = {}
        bufs = (
            np.empty(0, dtype=object), np.empty(0, dtype=np.int64),
            np.empty(0, dtype=object), np.empty(0, dtype=object),
            np.empty(0, dtype=object), np.empty(0, dtype=np.int64),
        )
    return nxt, bufs


def _save_state(state: GroupState, nxt: dict, bufs: tuple) -> None:
    state.update(
        (
            list(nxt.keys()),
            [int(v) for v in nxt.values()],
            bufs[_B_CONV].tolist(),
            bufs[_B_IDX].astype("int64").tolist(),
            bufs[_B_ROLE].tolist(),
            bufs[_B_TEXT].tolist(),
            bufs[_B_TOOL].tolist(),
            bufs[_B_TS].tolist(),
        )
    )
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(wm + 1 if wm > 0 else 1)


def _order_fn(
    key: Tuple[int], pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-BUCKET hot loop, fully vectorized (numpy) across every
    conversation in the bucket. Semantics per conversation are
    identical to the original one-group-per-conv formulation (pinned by
    test_stateful + test_turn_order_bucketing); the bucketing exists
    because applyInPandasWithState pays a measured ~100 µs framework
    floor per GROUP-call (Arrow slice -> pandas DataFrame, state
    round-trip) — grouping by conv_id made that 3x37.5k calls on the
    bench input where buckets make it 3xn_buckets (sampled worker
    stacks: >70%% of busy time in per-group serde, <10%% in this
    function's logic)."""
    import numpy as np

    nxt, bufs = _load_state(state)

    if state.hasTimedOut:
        # Evict exactly the turns the watermark has passed, per
        # conversation: a flushed row's missing predecessor has an even
        # older ts (ts is monotone in turn_idx per conversation), so
        # Spark's late-data filter would drop it anyway — the gap is
        # provably permanent. Turns with ts ahead of the watermark stay
        # buffered. Explicit availability-over-completeness, the
        # reference's stance on retry exhaustion (runner.go:147-156),
        # but watermark-correct. Conversations whose buffer was ALREADY
        # empty at this timeout drop their tombstone cursor (it existed
        # to dedup stale replays; bounded: two watermark horizons max).
        wm_us = state.getCurrentWatermarkMs() * 1000
        order = np.lexsort((bufs[_B_IDX], bufs[_B_CONV]))
        bufs = _take(bufs, order)
        ripe_mask = bufs[_B_TS] <= wm_us
        buffered_convs = set(bufs[_B_CONV].tolist())
        # tombstone eviction: convs with no buffered rows at entry
        nxt = {c: v for c, v in nxt.items() if c in buffered_convs}
        if ripe_mask.any():
            ripe = _take(bufs, ripe_mask)
            bufs = _take(bufs, ~ripe_mask)
            # advance each flushing conv past its last ripe turn
            r_conv = ripe[_B_CONV]
            first, _seg = _seg_bounds(r_conv)
            seg_last = np.concatenate([np.flatnonzero(first)[1:] - 1, [len(r_conv) - 1]])
            for c, last_idx in zip(r_conv[np.flatnonzero(first)].tolist(),
                                   ripe[_B_IDX][seg_last].tolist()):
                nxt[c] = max(nxt[c], int(last_idx) + 1)
            # drop now-stale survivors, then emit any unblocked
            # contiguous successors as normal rows
            nxt_per_row = np.array([nxt[c] for c in bufs[_B_CONV]], dtype=np.int64)
            bufs = _take(bufs, bufs[_B_IDX] >= nxt_per_row)
            unblocked, bufs = _contiguous_prefix(bufs, nxt)
            _save_state(state, nxt, bufs)
            yield _emit_pdf(ripe, flushed=True)
            if len(unblocked[_B_CONV]):
                yield _emit_pdf(unblocked, flushed=False)
        elif nxt:
            _save_state(state, nxt, bufs)
        else:
            state.remove()
        return

    parts = [p for p in pdf_iter if len(p)]
    if parts:
        new = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        n_conv = new["conv_id"].to_numpy(dtype=object)
        for c in set(n_conv.tolist()):
            nxt.setdefault(c, 0)
        bufs = tuple(
            np.concatenate([old, add])
            for old, add in zip(
                bufs,
                (
                    n_conv,
                    new["turn_idx"].to_numpy(dtype=np.int64),
                    new["role"].to_numpy(dtype=object),
                    new["text"].to_numpy(dtype=object),
                    new["tool"].where(new["tool"].notna(), None).to_numpy(dtype=object),
                    new["ts"].astype("datetime64[us]").to_numpy().astype(np.int64),
                ),
            )
        )

    # drop stale (already emitted), sort by (conv, idx), dedup
    # keep-first, then emit each conversation's contiguous prefix
    bufs = _sorted_dedup_live(bufs, nxt)
    emit, bufs = _contiguous_prefix(bufs, nxt)

    _save_state(state, nxt, bufs)
    if len(emit[_B_CONV]):
        yield _emit_pdf(emit, flushed=False)


def turn_order_buckets(df: DataFrame) -> int:
    """Scale-adaptive bucket count for enforce_turn_order: enough
    buckets that no single group-call sees a meaningful fraction of a
    partition's rows (32 per core, like shuffle salting); pass
    ``n_buckets`` to enforce_turn_order to override."""
    return df.sparkSession.sparkContext.defaultParallelism * 32


def enforce_turn_order(
    df: DataFrame, watermark: str = "1 hour", n_buckets: int | None = None
) -> DataFrame:
    """Streaming turn-order enforcement keyed by ``conv_id``.

    The batch-mode oracle for this operator is simply
    ``ORDER BY conv_id, turn_idx`` with duplicates dropped — streaming
    output must equal it as a set, with per-conversation emission order
    contiguous in ``turn_idx``.

    The stateful group key is a deterministic hash BUCKET of conv_id
    (``pmod(xxhash64(conv_id), n_buckets)``), not conv_id itself: the
    per-conversation logic is vectorized ACROSS the bucket inside
    _order_fn, so the applyInPandasWithState per-group-call framework
    cost is paid per bucket instead of per conversation (measured
    21s -> ~8s on the 651k-turn bench leg). State stays
    watermark-bounded and skew stays hash-spread; one conversation
    still never spans buckets, so per-conv ordering is preserved.
    """
    if not df.isStreaming:
        return (
            df.dropDuplicates(["conv_id", "turn_idx"])
            .withColumn("flushed", F.lit(False))
            .select([f.name for f in ORDERED_OUTPUT_SCHEMA.fields])
        )
    n = n_buckets or turn_order_buckets(df)
    return (
        df.withWatermark("ts", watermark)
        .withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            _order_fn,
            outputStructType=ORDERED_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def join_user_replies_outer(
    df: DataFrame,
    watermark: str = "1 hour",
    max_reply_delay: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream join: like join_user_replies, but user
    turns with NO qualifying reply are emitted too (reply columns
    NULL, ``answered`` = false) — the "unanswered turns" monitoring
    query. In streaming mode the NULL row for an unmatched user turn
    is emitted only once the watermark passes the end of its
    reply-delay window (Spark can't know a reply won't arrive until
    event time moves past the join condition's upper bound) — the
    outer-join-with-watermark contract, and exactly why both sides
    MUST carry watermarks + a time-range predicate for the state store
    to evict. Batch mode plans the same left join directly (the
    oracle path)."""
    users = df.filter(F.col("role") == "user").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("text").alias("user_text"),
        F.col("ts").alias("user_ts"),
    )
    replies = df.filter(F.col("role").isin("assistant", "tool")).select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("reply_turn_idx"),
        F.col("role").alias("reply_role"),
        F.col("ts").alias("reply_ts"),
    )
    if df.isStreaming:
        users = users.withWatermark("user_ts", watermark)
        replies = replies.withWatermark("reply_ts", watermark)
    cond = (
        (users.conv_id == replies.r_conv_id)
        & (replies.reply_turn_idx == users.user_turn_idx + 1)
        & (replies.reply_ts >= users.user_ts)
        & (replies.reply_ts <= users.user_ts + F.expr(f"INTERVAL {max_reply_delay}"))
    )
    out = users.join(replies, cond, "left_outer")
    return out.select(
        "conv_id",
        "user_turn_idx",
        "user_text",
        "user_ts",
        "reply_turn_idx",
        "reply_role",
        "reply_ts",
        F.col("reply_turn_idx").isNotNull().alias("answered"),
    )


def match_sequence(
    df: DataFrame,
    steps,
    cols: tuple[str, ...] = ("role", "tool"),
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    within: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Fixed-length CEP sequence detection (MATCH_RECOGNIZE-style)
    over per-conversation turn order: a match starts at turn i when
    ``steps[j]`` holds on turn i+j for every j AND the turns are
    CONTIGUOUS (lead(order, j) == order + j — gaps don't match).

    Each step is a callable taking a dict of {col -> Column} (the
    lead-j view of ``cols``) and returning a boolean Column.
    ``within`` (e.g. "30 minutes") additionally bounds the event-time
    span ``ts[last] - ts[first]`` of the whole match — the WITHIN
    clause of CEP engines.

    Plan: ONE shuffle on the conversation key, then pure window/lead
    codegen — a k-step pattern as k-1 self-joins would be k-1
    shuffles of the full stream at 10^12 turns; this is one. The
    STREAMING counterpart is enforce_turn_order -> per-batch
    detection on the ordered output (lead over an unbounded stream is
    not plannable; ordering first makes the pattern a local check)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(order_col)
    pred = None
    for j, step in enumerate(steps):
        leads = {
            c: (F.col(c) if j == 0 else F.lead(c, j).over(w)) for c in cols
        }
        p = step(leads)
        if j:
            p = p & (F.lead(order_col, j).over(w) == F.col(order_col) + j)
        pred = p if pred is None else pred & p
    extra = [ts_col] if within else []
    if within:
        last = len(steps) - 1
        span_ok = (
            F.lead(ts_col, last).over(w) if last else F.col(ts_col)
        ) - F.col(ts_col) <= F.expr(f"INTERVAL {within}")
        pred = pred & span_ok
    return (
        df.select(key_col, order_col, *cols, *extra)
        .withColumn("_match", pred)
        .filter(F.col("_match"))
        .select(
            F.col(key_col),
            F.col(order_col).alias("start_turn"),
            F.lit(len(steps)).cast("int").alias("match_len"),
        )
    )


_CEP_STREAM_OUTPUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("start_turn", T.IntegerType()),
        T.StructField("match_len", T.IntegerType()),
    ]
)
_CEP_STREAM_STATE = T.StructType(
    [
        T.StructField("next_idx", T.LongType()),
        T.StructField("decided_upto", T.LongType()),
        T.StructField("tail_idx", T.ArrayType(T.LongType())),
        T.StructField("tail_val", T.ArrayType(T.StringType())),
        T.StructField("tail_ts", T.ArrayType(T.LongType())),
        T.StructField("buf_idx", T.ArrayType(T.LongType())),
        T.StructField("buf_val", T.ArrayType(T.StringType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
    ]
)


def _duration_us(s: str) -> int:
    n, unit = s.split()
    mult = {
        "second": 1_000_000, "seconds": 1_000_000,
        "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
        "day": 86_400_000_000, "days": 86_400_000_000,
    }[unit]
    return int(n) * mult


def _scan_matches(idx, vals, ts_us, variants, within_us, lo, hi):
    """GREEDY variable-length scan over DECIDED starts: for each
    expanded variant (a flat predicate list), find starts s with
    ``lo < s <= hi`` where every step holds on index-contiguous rows
    (and the event-time span fits ``within_us``); the longest variant
    wins per start. The (lo, hi] decided window is what makes emission
    exactly-once AND greedy-correct: a start is only judged once every
    variant's outcome is known."""
    import numpy as np

    best: dict[int, int] = {}
    n = len(idx)
    for steps in variants:
        L = len(steps)
        m = n - L + 1
        if m <= 0:
            continue
        ok = (idx[:m] > lo) & (idx[:m] <= hi)
        for j, st in enumerate(steps):
            ok &= np.asarray(st(vals[j : j + m]), dtype=bool)
            if j:
                ok &= idx[j : j + m] == idx[:m] + j
        if within_us is not None:
            ok &= ts_us[L - 1 : L - 1 + m] - ts_us[:m] <= within_us
        for s in idx[:m][ok]:
            s = int(s)
            if best.get(s, 0) < L:
                best[s] = L
    return sorted(best.items())


def match_sequence_stream(
    df: DataFrame,
    steps,
    pattern_col: str = "role",
    watermark: str = "1 hour",
    within: str | None = None,
) -> DataFrame:
    """STREAMING CEP over per-conversation turn order: the one-operator
    fusion of enforce_turn_order + match_sequence(_kleene).

    ``steps``: list of vectorized predicates over the ``pattern_col``
    value (numpy object array -> boolean array), e.g.
    ``[lambda v: v == "user", lambda v: v == "tool"]`` — or tuples
    ``(pred, m, n)`` for bounded Kleene quantifiers, GREEDY per start
    like the batch matcher. ``within`` bounds each match's event-time
    span. A match is emitted once per start turn, in start order,
    exactly once across restarts (checkpointed state).

    State per conversation: the contiguous-emission pointer, a
    DECIDED-starts pointer, the out-of-order buffer (turns ahead of
    the pointer), and a TAIL of the last max_len-1 released turns. A
    start is judged only once every variant's outcome is known — when
    the longest variant's window is fully released, or (with
    ``within``) once the watermark passes its span bound, at which
    point no future turn can join the window without violating the
    span. That makes emission exactly-once AND greedy-correct with no
    emitted-set bookkeeping. Without ``within``, a quantified pattern
    at the very end of a conversation shorter than the longest variant
    stays undecided until more turns arrive — the same reason CEP
    engines require a time bound for Kleene patterns on open streams;
    fixed-length patterns need no bound. Watermark timeout flushes
    ripe buffered turns past permanent gaps (matches never span a gap:
    index contiguity is enforced in the scan). Bounded state: buffer
    is watermark-bounded, tail is max_len-1 rows."""
    from itertools import product

    import numpy as np

    norm = []
    for s in steps:
        if callable(s):
            norm.append((s, 1, 1))
        else:
            fn, m, n = s
            if not (1 <= m <= n):
                raise ValueError(f"bad Kleene bounds {{{m},{n}}} — need 1 <= m <= n")
            norm.append((fn, m, n))
    if not norm:
        raise ValueError("match_sequence_stream needs at least one step")
    counts = [range(m, n + 1) for _, m, n in norm]
    raw_variants = list(product(*counts))
    if len(raw_variants) > MAX_KLEENE_VARIANTS:
        raise ValueError(
            f"pattern expands to {len(raw_variants)} variants > "
            f"MAX_KLEENE_VARIANTS={MAX_KLEENE_VARIANTS}; tighten the bounds"
        )
    variants = [
        [fn for (fn, _, _), r in zip(norm, reps) for _ in range(r)]
        for reps in raw_variants
    ]
    L = max(len(v) for v in variants)
    if L > MAX_KLEENE_DEPTH:
        raise ValueError(f"pattern max length {L} > MAX_KLEENE_DEPTH={MAX_KLEENE_DEPTH}")
    within_us = _duration_us(within) if within else None

    def fn(key, pdf_iter, state):
        conv_id = key[0]
        if state.exists:
            next_idx, decided_upto, t_idx, t_val, t_ts, b_idx, b_val, b_ts = state.get
            t_idx = np.asarray(t_idx, dtype=np.int64)
            t_val = np.asarray(t_val, dtype=object)
            t_ts = np.asarray(t_ts, dtype=np.int64)
            b_idx = np.asarray(b_idx, dtype=np.int64)
            b_val = np.asarray(b_val, dtype=object)
            b_ts = np.asarray(b_ts, dtype=np.int64)
        else:
            next_idx = 0
            decided_upto = -1
            t_idx = np.empty(0, dtype=np.int64)
            t_val = np.empty(0, dtype=object)
            t_ts = np.empty(0, dtype=np.int64)
            b_idx = np.empty(0, dtype=np.int64)
            b_val = np.empty(0, dtype=object)
            b_ts = np.empty(0, dtype=np.int64)

        def save():
            state.update(
                (
                    int(next_idx),
                    int(decided_upto),
                    t_idx.astype("int64").tolist(),
                    t_val.tolist(),
                    t_ts.astype("int64").tolist(),
                    b_idx.astype("int64").tolist(),
                    b_val.tolist(),
                    b_ts.tolist(),
                )
            )
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(wm + 1 if wm > 0 else 1)

        def release(r_idx, r_val, r_ts, wm_us=None):
            """Scan tail+released rows over the newly DECIDED starts,
            update tail + decided_upto; return matches.

            A start decides when its longest-variant window is fully
            released (idx bound), or — with ``within`` — once the
            watermark passed its span bound (ts bound: any future turn
            would have ts > wm >= ts[s]+within, violating the span; ts
            is monotone in turn_idx per conversation, so both bounds
            are prefixes and one scalar pointer suffices)."""
            nonlocal t_idx, t_val, t_ts, decided_upto
            all_idx = np.concatenate([t_idx, r_idx])
            all_val = np.concatenate([t_val, r_val])
            all_ts = np.concatenate([t_ts, r_ts])
            hi = decided_upto
            if len(all_idx):
                hi = max(hi, int(all_idx[-1]) - (L - 1))
                if within_us is not None and wm_us is not None:
                    # Boundary proof for the <= bound: Spark DROPS rows
                    # with event time == watermark and admits only
                    # ts > wm (verified empirically; pinned by
                    # test_cep_stream_within_boundary). A start decided
                    # here has ts[s] <= wm - within, so any future
                    # admissible row (ts >= wm + 1us) has span
                    # >= within + 1us > within — it can no longer
                    # complete the match. Strict < would only delay
                    # decisions by one watermark tick.
                    ts_ok = all_ts <= wm_us - within_us
                    if ts_ok.any():
                        hi = max(hi, int(all_idx[ts_ok][-1]))
            matches = _scan_matches(
                all_idx, all_val, all_ts, variants, within_us, decided_upto, hi
            )
            decided_upto = max(decided_upto, hi)
            keep = min(L - 1, len(all_idx))
            t_idx = all_idx[len(all_idx) - keep :]
            t_val = all_val[len(all_val) - keep :]
            t_ts = all_ts[len(all_ts) - keep :]
            return matches

        if state.hasTimedOut:
            wm_us = state.getCurrentWatermarkMs() * 1000
            order = np.argsort(b_idx, kind="stable")
            b_idx, b_val, b_ts = (a[order] for a in (b_idx, b_val, b_ts))
            ripe = b_ts <= wm_us
            n_ripe = int(ripe.sum())
            if n_ripe:
                r_idx, r_val, r_ts = b_idx[ripe], b_val[ripe], b_ts[ripe]
                b_idx, b_val, b_ts = (a[~ripe] for a in (b_idx, b_val, b_ts))
                next_idx = max(next_idx, int(r_idx[-1]) + 1)
                live = b_idx >= next_idx
                b_idx, b_val, b_ts = (a[live] for a in (b_idx, b_val, b_ts))
                contig = b_idx == (next_idx + np.arange(len(b_idx)))
                n_un = int(contig.argmin()) if not contig.all() else len(contig)
                r_idx = np.concatenate([r_idx, b_idx[:n_un]])
                r_val = np.concatenate([r_val, b_val[:n_un]])
                r_ts = np.concatenate([r_ts, b_ts[:n_un]])
                b_idx, b_val, b_ts = (a[n_un:] for a in (b_idx, b_val, b_ts))
                next_idx += n_un
                matches = release(r_idx, r_val, r_ts, wm_us=wm_us)
                save()
                if matches:
                    yield pd.DataFrame(
                        {
                            "conv_id": conv_id,
                            "start_turn": np.array(
                                [s for s, _ in matches], dtype="int32"
                            ),
                            "match_len": np.array(
                                [ln for _, ln in matches], dtype="int32"
                            ),
                        }
                    )
            else:
                # nothing ripe: with `within`, the advancing watermark
                # can still DECIDE pending frontier starts in the tail
                matches = (
                    release(
                        np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=object),
                        np.empty(0, dtype=np.int64),
                        wm_us=wm_us,
                    )
                    if within_us is not None
                    else []
                )
                # the tail may still hold UNDECIDED frontier starts
                # (watermark not yet past their span bound) — evicting
                # now would silently drop their future matches
                undecided = (
                    within_us is not None
                    and len(t_idx)
                    and int(t_idx[-1]) > decided_upto
                )
                if len(b_idx) or undecided:
                    save()
                else:
                    # tombstone semantics as _order_fn: evicted at the
                    # second consecutive empty-buffer timeout
                    state.remove()
                if matches:
                    yield pd.DataFrame(
                        {
                            "conv_id": conv_id,
                            "start_turn": np.array(
                                [s for s, _ in matches], dtype="int32"
                            ),
                            "match_len": np.array(
                                [ln for _, ln in matches], dtype="int32"
                            ),
                        }
                    )
            return

        parts = [p for p in pdf_iter if len(p)]
        if parts:
            new = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            b_idx = np.concatenate(
                [b_idx, new["turn_idx"].to_numpy(dtype=np.int64)]
            )
            b_val = np.concatenate(
                [b_val, new[pattern_col].to_numpy(dtype=object)]
            )
            b_ts = np.concatenate(
                [
                    b_ts,
                    new["ts"].astype("datetime64[us]").to_numpy().astype(np.int64),
                ]
            )

        live = b_idx >= next_idx
        order = np.argsort(b_idx[live], kind="stable")
        b_idx, b_val, b_ts = (a[live][order] for a in (b_idx, b_val, b_ts))
        if len(b_idx):
            first = np.concatenate([[True], b_idx[1:] != b_idx[:-1]])
            b_idx, b_val, b_ts = (a[first] for a in (b_idx, b_val, b_ts))
        contig = b_idx == (next_idx + np.arange(len(b_idx)))
        n_emit = int(contig.argmin()) if not contig.all() else len(contig)
        r_idx, r_val, r_ts = b_idx[:n_emit], b_val[:n_emit], b_ts[:n_emit]
        b_idx, b_val, b_ts = (a[n_emit:] for a in (b_idx, b_val, b_ts))
        next_idx += n_emit
        matches = release(r_idx, r_val, r_ts) if n_emit else []
        save()
        if matches:
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "start_turn": np.array([s for s, _ in matches], dtype="int32"),
                    "match_len": np.array([ln for _, ln in matches], dtype="int32"),
                }
            )

    if not df.isStreaming:
        raise ValueError(
            "match_sequence_stream requires a streaming DataFrame — use "
            "match_sequence for batch inputs"
        )
    return (
        df.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_CEP_STREAM_OUTPUT,
            stateStructType=_CEP_STREAM_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


MAX_KLEENE_VARIANTS = 64
MAX_KLEENE_DEPTH = 32


def match_sequence_kleene(
    df: DataFrame,
    steps,
    cols: tuple[str, ...] = ("role", "tool"),
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    within: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """CEP sequence detection with bounded Kleene quantifiers
    (MATCH_RECOGNIZE-style ``step{m,n}``), extending match_sequence's
    fixed-length contiguous patterns.

    ``steps`` is a list of either a callable (exactly-one step, as in
    match_sequence) or a tuple ``(callable, m, n)`` meaning the step
    must hold on between m and n CONTIGUOUS consecutive turns (m >= 1).
    Matching is GREEDY per start turn (the longest matching expansion
    wins — the MATCH_RECOGNIZE default); every matching start turn is
    reported with its greedy match_len. ``within`` (e.g. "30 minutes")
    bounds each variant's event-time span ``ts[last] - ts[first]`` —
    the WITHIN clause of CEP engines; a variant too spread out in time
    doesn't match even when its predicates do, so under greedy
    selection a shorter, tighter variant can win instead.

    Plan: the bounded pattern expands into all fixed-length variants
    (cartesian product of repetition counts, capped at
    MAX_KLEENE_VARIANTS / lead depth MAX_KLEENE_DEPTH), every variant a
    lead()-conjunction over ONE window — still exactly one shuffle on
    the conversation key regardless of pattern size, where a join-based
    NFA would shuffle the 10^12-turn stream once per step. Spark
    evaluates lead(col, j) once per distinct j across all variants."""
    from itertools import product

    from pyspark.sql.window import Window

    norm = []  # (callable, m, n)
    for s in steps:
        if callable(s):
            norm.append((s, 1, 1))
        else:
            fn, m, n = s
            if not (1 <= m <= n):
                raise ValueError(f"bad Kleene bounds {{{m},{n}}} — need 1 <= m <= n")
            norm.append((fn, m, n))
    counts = [range(m, n + 1) for _, m, n in norm]
    variants = list(product(*counts))
    if len(variants) > MAX_KLEENE_VARIANTS:
        raise ValueError(
            f"pattern expands to {len(variants)} variants > "
            f"MAX_KLEENE_VARIANTS={MAX_KLEENE_VARIANTS}; tighten the bounds"
        )
    max_len = sum(n for _, _, n in norm)
    if max_len > MAX_KLEENE_DEPTH:
        raise ValueError(
            f"pattern max length {max_len} > MAX_KLEENE_DEPTH={MAX_KLEENE_DEPTH}"
        )

    w = Window.partitionBy(key_col).orderBy(order_col)

    # materialize each lead ONCE as a named column — Catalyst does not
    # dedup textually-identical lead() expressions across variants, so
    # building predicates straight from F.lead would compute every
    # shared lead once per variant referencing it
    lead_cols = (*cols, order_col, *((ts_col,) if within else ()))
    work = df.select(key_col, order_col, *cols, *((ts_col,) if within else ()))
    for j in range(1, max_len):
        for c in lead_cols:
            work = work.withColumn(f"_l{j}_{c}", F.lead(c, j).over(w))

    def lead_view(j: int) -> dict:
        if j == 0:
            return {c: F.col(c) for c in cols}
        return {c: F.col(f"_l{j}_{c}") for c in cols}

    def variant_pred(reps) -> tuple:
        pred = None
        j = 0
        for (fn, _, _), r in zip(norm, reps):
            for _ in range(r):
                p = fn(lead_view(j))
                if j:
                    p = p & (
                        F.col(f"_l{j}_{order_col}") == F.col(order_col) + j
                    )
                pred = p if pred is None else pred & p
                j += 1
        if within:
            last_ts = F.col(f"_l{j - 1}_{ts_col}") if j > 1 else F.col(ts_col)
            pred = pred & (
                last_ts - F.col(ts_col) <= F.expr(f"INTERVAL {within}")
            )
        return pred, j

    # greedy: longest expansion first; ties in length are impossible to
    # distinguish observably (same start, same len), so order is moot
    preds = sorted((variant_pred(v) for v in variants), key=lambda t: -t[1])
    match_len = None
    for pred, length in preds:
        match_len = (
            F.when(pred, F.lit(length)) if match_len is None
            else match_len.when(pred, F.lit(length))
        )
    return (
        work.withColumn("_len", match_len)
        .filter(F.col("_len").isNotNull())
        .select(
            F.col(key_col),
            F.col(order_col).alias("start_turn"),
            F.col("_len").cast("int").alias("match_len"),
        )
    )


def join_user_replies_full(
    df: DataFrame,
    watermark: str = "1 hour",
    max_reply_delay: str = "30 minutes",
) -> DataFrame:
    """FULL OUTER stream-stream join — completes the join-type
    coverage (inner: join_user_replies, left: join_user_replies_outer).
    Three row kinds:

    - ``matched``    user turn + its qualifying reply;
    - ``unanswered`` user turn with no reply in the delay window;
    - ``orphan``     assistant/tool turn with NO qualifying preceding
      user turn — conversation fragments / role-ordering corruption,
      the data-quality signal only the full join surfaces.

    Both unmatched kinds emit only once the watermark passes their
    join-window bound (both sides' state evicts — same contract as the
    left join, now symmetric). Batch mode plans a plain full join (the
    q61 oracle path)."""
    users = df.filter(F.col("role") == "user").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"),
    )
    replies = df.filter(F.col("role").isin("assistant", "tool")).select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("reply_turn_idx"),
        F.col("role").alias("reply_role"),
        F.col("ts").alias("reply_ts"),
    )
    if df.isStreaming:
        users = users.withWatermark("user_ts", watermark)
        replies = replies.withWatermark("reply_ts", watermark)
    cond = (
        (users.conv_id == replies.r_conv_id)
        & (replies.reply_turn_idx == users.user_turn_idx + 1)
        & (replies.reply_ts >= users.user_ts)
        & (replies.reply_ts <= users.user_ts + F.expr(f"INTERVAL {max_reply_delay}"))
    )
    out = users.join(replies, cond, "full_outer")
    kind = (
        F.when(
            F.col("user_turn_idx").isNotNull() & F.col("reply_turn_idx").isNotNull(),
            F.lit("matched"),
        )
        .when(F.col("reply_turn_idx").isNull(), F.lit("unanswered"))
        .otherwise(F.lit("orphan"))
    )
    return out.select(
        F.coalesce(F.col("conv_id"), F.col("r_conv_id")).alias("conv_id"),
        "user_turn_idx",
        "user_ts",
        "reply_turn_idx",
        "reply_role",
        "reply_ts",
        kind.alias("kind"),
    )


def reply_session_stats(
    df: DataFrame,
    watermark: str = "1 hour",
    gap: str = "30 minutes",
    max_reply_delay: str = "30 minutes",
) -> DataFrame:
    """The north-star composite pipeline in ONE streaming query:
    stream-stream user/reply join followed by per-conversation session
    windows over the reply stream (two chained stateful operators —
    Spark >= 3.4 plans both against the state store; the join's
    watermark propagates, so no redefinition downstream).

    Latency stats are reported in integer microseconds so the batch /
    streaming / DuckDB-oracle triples hash-match (float avg is
    summation-order dependent in the last ULP)."""
    from pyspark.sql import functions as F  # local alias for clarity

    joined = join_user_replies(df, watermark=watermark, max_reply_delay=max_reply_delay)
    out = joined.groupBy(
        F.session_window("reply_ts", gap).alias("win"), F.col("conv_id")
    ).agg(
        F.count(F.lit(1)).alias("n_replies"),
        F.round(F.avg("reply_latency_s") * 1_000_000).cast("long").alias("avg_latency_us"),
        F.min("user_turn_idx").alias("first_user_turn"),
        F.max("reply_turn_idx").alias("last_reply_turn"),
    )
    return out.select(
        "conv_id",
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_replies",
        "avg_latency_us",
        "first_user_turn",
        "last_reply_turn",
    )


def join_user_replies(
    df: DataFrame,
    watermark: str = "1 hour",
    max_reply_delay: str = "30 minutes",
) -> DataFrame:
    """Stream-stream stateful join: each user turn joined to its direct
    reply (assistant or tool turn at ``turn_idx + 1`` in the same
    conversation, within ``max_reply_delay`` event time).

    Both sides carry watermarks + a time-range predicate, so Spark's
    join state store evicts rows once the watermark passes — bounded
    state (north_rule: 'stateful stream-stream joins ... on conv_id').
    The join shuffles both sides on conv_id; AQE skew-join splitting
    (session.py) handles mega-conversation skew.

    Works identically on batch DataFrames (the oracle path).
    """
    users = df.filter(F.col("role") == "user").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("text").alias("user_text"),
        F.col("ts").alias("user_ts"),
    )
    replies = df.filter(F.col("role").isin("assistant", "tool")).select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("reply_turn_idx"),
        F.col("role").alias("reply_role"),
        F.col("text").alias("reply_text"),
        F.col("tool").alias("reply_tool"),
        F.col("ts").alias("reply_ts"),
    )
    if df.isStreaming:
        users = users.withWatermark("user_ts", watermark)
        replies = replies.withWatermark("reply_ts", watermark)
    cond = (
        (users.conv_id == replies.r_conv_id)
        & (replies.reply_turn_idx == users.user_turn_idx + 1)
        & (replies.reply_ts >= users.user_ts)
        & (replies.reply_ts <= users.user_ts + F.expr(f"INTERVAL {max_reply_delay}"))
    )
    out = users.join(replies, cond, "inner")
    return out.select(
        "conv_id",
        "user_turn_idx",
        "user_text",
        "user_ts",
        "reply_turn_idx",
        "reply_role",
        "reply_text",
        "reply_tool",
        "reply_ts",
        (
            # via micros: NTZ-safe (cast TIMESTAMP_NTZ -> DOUBLE is
            # disallowed) and bit-identical to DuckDB's epoch() double
            F.unix_micros(F.col("reply_ts").cast("timestamp")) / 1_000_000.0
            - F.unix_micros(F.col("user_ts").cast("timestamp")) / 1_000_000.0
        ).alias("reply_latency_s"),
    )


def _cusum_fold(sp, sn, vq, target_q, slack_q, h_q):
    """Two-sided CUSUM over one ordered integer segment with
    reset-on-alarm (Page 1954). Vectorized BETWEEN alarms via the
    prefix-min identity S_i = max(0, C_i - min(-S_0, min_{j<i} C_j))
    — the python loop runs once per ALARM, not per row. Returns
    (sp, sn, [(pos, side, stat), ...])."""
    import numpy as np

    alarms: list = []
    n = len(vq)
    start = 0
    while start < n:
        seg = vq[start:]
        cu = np.cumsum(seg - target_q - slack_q)
        cd = np.cumsum(target_q - seg - slack_q)
        mu = np.minimum.accumulate(np.concatenate(([np.int64(-sp)], cu[:-1])))
        md = np.minimum.accumulate(np.concatenate(([np.int64(-sn)], cd[:-1])))
        su = np.maximum(cu - mu, 0)
        sd = np.maximum(cd - md, 0)
        trip = (su > h_q) | (sd > h_q)
        if not trip.any():
            sp, sn = int(su[-1]), int(sd[-1])
            break
        a = int(trip.argmax())
        pos = start + a
        if su[a] > h_q:
            alarms.append((pos, "up", int(su[a])))
        if sd[a] > h_q:
            alarms.append((pos, "down", int(sd[a])))
        sp = sn = 0  # bidirectional restart after any alarm
        start = pos + 1
    return sp, sn, alarms


def stream_cusum(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    target: float = 0.0,
    slack: float = 0.0,
    threshold: float = 1.0,
    watermark: str = "1 hour",
    scale: int = 10_000,
) -> DataFrame:
    """Two-sided CUSUM change-point detection per key (Page 1954) —
    the streaming drift alarm of the monitoring family (PSI drift is
    the batch twin for distributions; this fires ONLINE when a key's
    level shifts): S+ accumulates (v - target - slack), S- accumulates
    (target - v - slack), both clamped at 0; crossing ``threshold``
    emits an alarm row (key, ts, side, stat) and restarts both sides.

    All arithmetic is fixed-point integer (floor(x*scale + 0.5)), and
    rows fold in strict (ts, value) order — so any engine, any
    partitioning, and any arrival jitter inside the watermark computes
    the IDENTICAL alarm sequence (a SQL oracle replays the recursion
    with a recursive CTE).

    Streaming mechanics (the turn-order operator's ordered-replay
    contract, applied to a running statistic): arrivals buffer in
    state; when the event-time timer proves a prefix final
    (ts <= watermark), exactly that prefix folds in order and its
    alarms emit. The CUSUM carry (two ints) persists for the key's
    lifetime — the continuous-monitor contract, same as the gap
    filler's LOCF carry; buffered rows are watermark-bounded.

    Batch input runs the identical fold per key in one pass.
    """
    import numpy as np

    target_q = int(np.floor(target * scale + 0.5))
    slack_q = int(np.floor(slack * scale + 0.5))
    h_q = int(np.floor(threshold * scale + 0.5))
    if slack_q < 0 or h_q <= 0:
        raise ValueError(
            f"need slack >= 0 and threshold > 0, got {slack}/{threshold}"
        )
    key_field = df.schema[key_col]
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType),
            T.StructField("ts", T.TimestampType()),
            T.StructField("side", T.StringType()),
            T.StructField("stat", T.LongType()),
        ]
    )

    def _emit(key_val, ts_us, alarms):
        return pd.DataFrame(
            {
                key_col: [key_val] * len(alarms),
                "ts": pd.to_datetime([ts_us[p] for p, _, _ in alarms], unit="us"),
                "side": [s for _, s, _ in alarms],
                "stat": pd.array([st for _, _, st in alarms], dtype="int64"),
            }
        )

    def _prep(pdf: pd.DataFrame):
        ts_us = pdf[ts_col].astype("datetime64[us]").to_numpy().astype(np.int64)
        vq = np.floor(
            pdf[value_col].to_numpy(dtype=np.float64) * scale + 0.5
        ).astype(np.int64)
        return ts_us, vq

    if not df.isStreaming:

        def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
            ts_us, vq = _prep(pdf)
            order = np.lexsort((vq, ts_us))
            ts_us, vq = ts_us[order], vq[order]
            _, _, alarms = _cusum_fold(0, 0, vq, target_q, slack_q, h_q)
            return _emit(pdf[key_col].iloc[0], ts_us, alarms)

        clean = df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        return clean.groupBy(key_col).applyInPandas(_batch, schema=out_schema)

    state_schema = T.StructType(
        [
            T.StructField("sp", T.LongType()),
            T.StructField("sn", T.LongType()),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_vq", T.ArrayType(T.LongType())),
        ]
    )

    def _fn(key, pdf_iter, state: GroupState):
        if state.exists:
            sp, sn, buf_ts, buf_vq = state.get
            buf_ts = np.asarray(buf_ts, dtype=np.int64)
            buf_vq = np.asarray(buf_vq, dtype=np.int64)
        else:
            sp = sn = 0
            buf_ts = buf_vq = np.empty(0, dtype=np.int64)

        if state.hasTimedOut:
            wm_us = state.getCurrentWatermarkMs() * 1000
            order = np.lexsort((buf_vq, buf_ts))
            buf_ts, buf_vq = buf_ts[order], buf_vq[order]
            ripe = buf_ts <= wm_us
            n_ripe = int(ripe.sum())
            if n_ripe:
                r_ts, r_vq = buf_ts[:n_ripe], buf_vq[:n_ripe]
                buf_ts, buf_vq = buf_ts[n_ripe:], buf_vq[n_ripe:]
                sp, sn, alarms = _cusum_fold(sp, sn, r_vq, target_q, slack_q, h_q)
                if alarms:
                    yield _emit(key[0], r_ts, alarms)
            # carry persists for the key's lifetime (two ints); timer
            # re-arms only while rows are buffered
            state.update((int(sp), int(sn), buf_ts.tolist(), buf_vq.tolist()))
            if len(buf_ts):
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(wm + 1 if wm > 0 else 1)
            return

        parts = [p for p in pdf_iter if len(p)]
        if parts:
            new = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            n_ts, n_vq = _prep(new)
            buf_ts = np.concatenate([buf_ts, n_ts])
            buf_vq = np.concatenate([buf_vq, n_vq])
        state.update((int(sp), int(sn), buf_ts.tolist(), buf_vq.tolist()))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(wm + 1 if wm > 0 else 1)

    clean = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    return (
        clean.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_temporal_join(
    df: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    is_dim_col: str = "is_dim",
    attr_col: str = "attr",
    seq_col: str = "seq",
    watermark: str = "1 hour",
) -> DataFrame:
    """Temporal table join — Flink's ``FOR SYSTEM_TIME AS OF`` /
    changelog-versioned enrichment, which Spark lacks natively: one
    stream carries BOTH dimension updates (``is_dim`` true, with
    ``attr``) and events; every event is enriched with the latest
    dimension value at-or-before its event time and emitted exactly
    once, even when the dimension update arrives in a later
    micro-batch than the event it must enrich.

    Correctness contract (a stream-STATIC join cannot give this): an event may only emit once the watermark passes its
    timestamp — before that, an earlier-timestamped dim update could
    still arrive; after it, any such update would be watermark-dropped
    anyway, so the enrichment is FINAL. Rows fold in strict
    (ts, dim-first, seq) order at timer fire, the same ordered-replay
    machinery as turn-order/CUSUM. State per key: the current
    dimension value (two scalars, kept for the key's lifetime — the
    continuous-monitor contract) plus the watermark-bounded arrival
    buffer.

    Batch input runs the identical fold per key in one pass (the
    oracle path: last non-null attr over the ordered union).
    """
    import numpy as np

    key_field = df.schema[key_col]
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType),
            T.StructField(seq_col, T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("attr_at_ts", T.StringType()),
        ]
    )

    def _prep(pdf: pd.DataFrame):
        ts_us = pdf[ts_col].astype("datetime64[us]").to_numpy().astype(np.int64)
        seq = pdf[seq_col].to_numpy(dtype=np.int64)
        is_dim = pdf[is_dim_col].to_numpy(dtype=bool)
        attr = pdf[attr_col].where(pdf[attr_col].notna(), None).to_numpy(dtype=object)
        return ts_us, seq, is_dim, attr

    def _fold(cur_attr, ts_us, seq, is_dim, attr):
        """Ordered fold over one ripe segment, fully vectorized: each
        event takes the attr of the last dim row before it (prefix-max
        of dim positions), falling back to the carried value."""
        n = len(ts_us)
        if n == 0:
            return cur_attr, [], [], []
        pos = np.where(is_dim, np.arange(n), -1)
        last_dim = np.maximum.accumulate(pos)
        ev = ~is_dim
        ld = last_dim[ev]
        looked_up = attr[np.maximum(ld, 0)]
        out_attr = np.where(ld >= 0, looked_up, cur_attr).tolist()
        new_cur = attr[last_dim[-1]] if last_dim[-1] >= 0 else cur_attr
        return new_cur, seq[ev].tolist(), ts_us[ev].tolist(), out_attr

    def _emit(key_val, out_seq, out_ts, out_attr):
        return pd.DataFrame(
            {
                key_col: [key_val] * len(out_seq),
                seq_col: pd.array(out_seq, dtype="int64"),
                "ts": pd.to_datetime(out_ts, unit="us"),
                "attr_at_ts": out_attr,
            }
        )

    def _order(ts_us, seq, is_dim, attr):
        # (ts, dim-first, seq): a dim update timestamped exactly at an
        # event applies to it; seq (unique per key) totalizes ties
        order = np.lexsort((seq, ~is_dim, ts_us))
        return ts_us[order], seq[order], is_dim[order], attr[order]

    if not df.isStreaming:

        def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
            arrs = _order(*_prep(pdf))
            _, out_seq, out_ts, out_attr = _fold(None, *arrs)
            return _emit(pdf[key_col].iloc[0], out_seq, out_ts, out_attr)

        clean = df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        return clean.groupBy(key_col).applyInPandas(_batch, schema=out_schema)

    state_schema = T.StructType(
        [
            T.StructField("cur_attr", T.StringType()),
            T.StructField("has_cur", T.BooleanType()),
            T.StructField("b_ts", T.ArrayType(T.LongType())),
            T.StructField("b_seq", T.ArrayType(T.LongType())),
            T.StructField("b_dim", T.ArrayType(T.BooleanType())),
            T.StructField("b_attr", T.ArrayType(T.StringType())),
        ]
    )

    def _fn(key, pdf_iter, state: GroupState):
        if state.exists:
            cur_attr, has_cur, b_ts, b_seq, b_dim, b_attr = state.get
            if not has_cur:
                cur_attr = None
            b_ts = np.asarray(b_ts, dtype=np.int64)
            b_seq = np.asarray(b_seq, dtype=np.int64)
            b_dim = np.asarray(b_dim, dtype=bool)
            b_attr = np.asarray(b_attr, dtype=object)
        else:
            cur_attr = None
            b_ts = b_seq = np.empty(0, dtype=np.int64)
            b_dim = np.empty(0, dtype=bool)
            b_attr = np.empty(0, dtype=object)

        def _save():
            state.update(
                (
                    cur_attr,
                    cur_attr is not None,
                    b_ts.tolist(),
                    b_seq.tolist(),
                    b_dim.tolist(),
                    [a if a is None else str(a) for a in b_attr],
                )
            )
            wm = state.getCurrentWatermarkMs()
            if len(b_ts):
                state.setTimeoutTimestamp(wm + 1 if wm > 0 else 1)

        if state.hasTimedOut:
            wm_us = state.getCurrentWatermarkMs() * 1000
            b_ts, b_seq, b_dim, b_attr = _order(b_ts, b_seq, b_dim, b_attr)
            n_ripe = int((b_ts <= wm_us).sum())
            if n_ripe:
                cur_attr, out_seq, out_ts, out_attr = _fold(
                    cur_attr, b_ts[:n_ripe], b_seq[:n_ripe], b_dim[:n_ripe],
                    b_attr[:n_ripe],
                )
                b_ts, b_seq, b_dim, b_attr = (
                    b_ts[n_ripe:], b_seq[n_ripe:], b_dim[n_ripe:], b_attr[n_ripe:]
                )
                _save()
                if out_seq:
                    yield _emit(key[0], out_seq, out_ts, out_attr)
            else:
                _save()
            return

        parts = [p for p in pdf_iter if len(p)]
        if parts:
            new = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            n_ts, n_seq, n_dim, n_attr = _prep(new)
            b_ts = np.concatenate([b_ts, n_ts])
            b_seq = np.concatenate([b_seq, n_seq])
            b_dim = np.concatenate([b_dim, n_dim])
            b_attr = np.concatenate([b_attr, n_attr])
        _save()

    clean = df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
    return (
        clean.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
