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

The same buffer-until-the-watermark mechanism also drives streaming
CEP, CUSUM and the temporal join: all four share one replay kernel
(``_ReplayState``, ``_append``, ``_split_ripe``) and one state call
site (``_with_state``). CUSUM and the temporal join are per-key
ordered folds on one driver (``_ordered_fold``), streaming and batch.
"""

from __future__ import annotations

from itertools import product
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from quanta_spark.operators.timeseries import _bucket_to_us

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

# turn-order column bundle: (conv, idx, role, text, tool, ts). The
# helpers below read only conv, idx and the LAST column, ts, so a
# one-conversation CEP bundle (conv, idx, val, ts) runs on them too
_B_CONV, _B_IDX, _B_TS = 0, 1, -1


# --- watermark-ordered replay kernel ---------------------------------
# Arrivals buffer per key in applyInPandasWithState state, an
# event-time timer fires once the watermark moves past its current
# value, and the buffer's ripe part (ts <= watermark) is released in
# order. Turn order, CEP, CUSUM and the temporal join all run on it.

_NP_DTYPES = {"string": object, "integer": np.int64, "long": np.int64, "boolean": bool}


class _ReplayState:
    """State codec and timer policy for one operator's state schema.

    The first ``len(carry0)`` fields are the operator's carry, passed
    through as-is (``carry0`` while the key has no state); every later
    field is a parallel buffer column, decoded to a numpy array of its
    element type, with the arrival buffer last. ``arm_empty`` re-arms
    the timer on every save (turn order, CEP: their tombstone is
    evicted at the second empty timeout); without it the timer runs
    only while rows are buffered (CUSUM, temporal join: the carry lives
    for the key's lifetime)."""

    def __init__(self, schema: T.StructType, carry0: tuple, arm_empty: bool) -> None:
        self.schema = schema
        self.carry0 = carry0
        self.dtypes = [
            _NP_DTYPES[f.dataType.elementType.typeName()]
            for f in schema.fields[len(carry0):]
        ]
        self.arm_empty = arm_empty

    def load(self, state: GroupState) -> tuple:
        """(carry list, buffer column tuple) of this key."""
        n = len(self.carry0)
        vals = state.get if state.exists else (*self.carry0, *[[]] * len(self.dtypes))
        cols = tuple(np.asarray(v, dtype=d) for v, d in zip(vals[n:], self.dtypes))
        return list(vals[:n]), cols

    def save(self, state: GroupState, carry, cols: tuple) -> None:
        state.update((*carry, *(c.tolist() for c in cols)))
        if self.arm_empty or len(cols[-1]):
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(wm + 1 if wm > 0 else 1)


def _with_state(grouped, fn, out_schema: T.StructType, replay: _ReplayState) -> DataFrame:
    """The one applyInPandasWithState call: append mode, event-time timer."""
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=replay.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _ts_us(s: pd.Series) -> "np.ndarray":
    """Event-time column -> epoch micros, the buffers' ts encoding."""
    return s.astype("datetime64[us]").to_numpy().astype(np.int64)


def _append(cols: tuple, pdf_iter: Iterator[pd.DataFrame], prep) -> tuple:
    """Append one call's arrivals to the buffer columns; ``prep`` maps
    a pandas frame to the operator's column tuple."""
    parts = [p for p in pdf_iter if len(p)]
    if not parts:
        return cols
    new = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    return tuple(np.concatenate([old, add]) for old, add in zip(cols, prep(new)))


def _split_ripe(state: GroupState, cols: tuple, order, ts: int) -> tuple:
    """Sort the buffer by ``order`` and split off the rows the watermark
    has passed (``cols[ts] <= watermark``). Returns (ripe, rest), both
    sorted."""
    cols = _take(cols, order)
    ripe = cols[ts] <= state.getCurrentWatermarkMs() * 1000
    return _take(cols, ripe), _take(cols, ~ripe)


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
    if not len(conv):
        return np.empty(0, dtype=bool), np.empty(0, dtype=np.int64)
    first = np.concatenate([[True], conv[1:] != conv[:-1]])
    return first, np.cumsum(first) - 1


def _contiguous_prefix(bufs: tuple, nxt: dict) -> tuple:
    """Given (conv, idx)-sorted, deduped, stale-free buffers, split off
    the per-conversation contiguous prefix starting at nxt[conv].
    Advances ``nxt`` in place. Returns (emit_bufs, keep_bufs)."""
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
    i.e. already-emitted replays/duplicates), dedup keep-first.
    Conversations not yet in ``nxt`` start at 0."""
    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    order = np.lexsort((idx, conv))
    bufs = _take(bufs, order)
    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    nxt_per_row = np.array([nxt.setdefault(c, 0) for c in conv], dtype=np.int64)
    live = idx >= nxt_per_row
    bufs = _take(bufs, live)
    conv, idx = bufs[_B_CONV], bufs[_B_IDX]
    if len(conv):
        keep = np.concatenate(
            [[True], (conv[1:] != conv[:-1]) | (idx[1:] != idx[:-1])]
        )
        bufs = _take(bufs, keep)
    return bufs


def _flush_ripe(state: GroupState, bufs: tuple, nxt: dict) -> tuple:
    """Timeout half of the ordered replay: flush exactly the turns the
    watermark has passed, per conversation, even across gaps — a
    flushed row's missing predecessor has an even older ts (ts is
    monotone in turn_idx per conversation), so Spark's late-data filter
    would drop it anyway and the gap is provably permanent. Turns with
    ts ahead of the watermark stay buffered. Explicit
    availability-over-completeness, the reference's stance on retry
    exhaustion (runner.go:147-156), but watermark-correct. Each
    flushing conversation advances past its last ripe turn, and the
    contiguous successors that unblocks are released as normal rows.
    Returns (ripe, unblocked, keep)."""
    ripe, bufs = _split_ripe(
        state, bufs, np.lexsort((bufs[_B_IDX], bufs[_B_CONV])), _B_TS
    )
    r_conv = ripe[_B_CONV]
    if not len(r_conv):
        return ripe, ripe, bufs
    first, _seg = _seg_bounds(r_conv)
    seg_last = np.concatenate([np.flatnonzero(first)[1:] - 1, [len(r_conv) - 1]])
    for c, last_idx in zip(r_conv[np.flatnonzero(first)].tolist(),
                           ripe[_B_IDX][seg_last].tolist()):
        nxt[c] = max(nxt[c], int(last_idx) + 1)
    unblocked, bufs = _contiguous_prefix(_sorted_dedup_live(bufs, nxt), nxt)
    return ripe, unblocked, bufs


_TURN_ORDER = _ReplayState(_STATE_SCHEMA, carry0=([], []), arm_empty=True)


def _turn_cols(new: pd.DataFrame) -> tuple:
    return (
        new["conv_id"].to_numpy(dtype=object),
        new["turn_idx"].to_numpy(dtype=np.int64),
        new["role"].to_numpy(dtype=object),
        new["text"].to_numpy(dtype=object),
        new["tool"].where(new["tool"].notna(), None).to_numpy(dtype=object),
        _ts_us(new["ts"]),
    )


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
    (c_conv, c_next), bufs = _TURN_ORDER.load(state)
    nxt = dict(zip(c_conv, (int(v) for v in c_next)))

    if state.hasTimedOut:
        # Conversations whose buffer was ALREADY empty at this timeout
        # drop their tombstone cursor (it existed to dedup stale
        # replays; bounded: two watermark horizons max).
        buffered_convs = set(bufs[_B_CONV].tolist())
        nxt = {c: v for c, v in nxt.items() if c in buffered_convs}
        ripe, unblocked, bufs = _flush_ripe(state, bufs, nxt)
        if nxt:
            _TURN_ORDER.save(state, (list(nxt), list(nxt.values())), bufs)
        else:
            state.remove()
        if len(ripe[_B_CONV]):
            yield _emit_pdf(ripe, flushed=True)
        if len(unblocked[_B_CONV]):
            yield _emit_pdf(unblocked, flushed=False)
        return

    # drop stale (already emitted), sort by (conv, idx), dedup
    # keep-first, then emit each conversation's contiguous prefix
    bufs = _sorted_dedup_live(_append(bufs, pdf_iter, _turn_cols), nxt)
    emit, bufs = _contiguous_prefix(bufs, nxt)

    _TURN_ORDER.save(state, (list(nxt), list(nxt.values())), bufs)
    if len(emit[_B_CONV]):
        yield _emit_pdf(emit, flushed=False)


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
    The default ``n_buckets`` is 32 per core (like shuffle salting), so
    no single group-call sees a meaningful fraction of a partition.
    """
    if not df.isStreaming:
        return (
            df.dropDuplicates(["conv_id", "turn_idx"])
            .withColumn("flushed", F.lit(False))
            .select([f.name for f in ORDERED_OUTPUT_SCHEMA.fields])
        )
    n = n_buckets or df.sparkSession.sparkContext.defaultParallelism * 32
    grouped = (
        df.withWatermark("ts", watermark)
        .withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n)))
        .groupBy("_bucket")
    )
    return _with_state(grouped, _order_fn, ORDERED_OUTPUT_SCHEMA, _TURN_ORDER)


def _user_reply_join(
    df: DataFrame,
    watermark: str,
    max_reply_delay: str,
    how: str,
    user_cols: tuple[str, ...],
    reply_cols: tuple[str, ...],
) -> DataFrame:
    """The user/reply join the three join variants share: user turns
    (``conv_id``, ``user_turn_idx``, ``user_<c>``..., ``user_ts``)
    joined ``how`` to the assistant/tool turns (``r_conv_id``,
    ``reply_turn_idx``, ``reply_<c>``..., ``reply_ts``) at
    ``turn_idx + 1`` of the same conversation within
    ``max_reply_delay``. On a stream both sides carry the watermark,
    which with the time-range predicate lets the join state evict."""
    users = df.filter(F.col("role") == "user").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("user_turn_idx"),
        *(F.col(c).alias(f"user_{c}") for c in user_cols),
        F.col("ts").alias("user_ts"),
    )
    replies = df.filter(F.col("role").isin("assistant", "tool")).select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("reply_turn_idx"),
        *(F.col(c).alias(f"reply_{c}") for c in reply_cols),
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
    return users.join(replies, cond, how)


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
    out = _user_reply_join(
        df, watermark, max_reply_delay, "left_outer", ("text",), ("role",)
    )
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


MAX_KLEENE_VARIANTS = 64
MAX_KLEENE_DEPTH = 32


def _expand_pattern(steps) -> list:
    """Expand a bounded-Kleene pattern into its fixed-length variants.

    Each step is a predicate (exactly one turn) or ``(pred, m, n)`` (m
    to n contiguous turns, 1 <= m <= n); a variant is the flat list of
    predicates for one choice of repetition counts (the cartesian
    product, capped at MAX_KLEENE_VARIANTS variants of at most
    MAX_KLEENE_DEPTH steps)."""
    norm = []  # (callable, m, n)
    for s in steps:
        if callable(s):
            norm.append((s, 1, 1))
        else:
            fn, m, n = s
            if not (1 <= m <= n):
                raise ValueError(f"bad Kleene bounds {{{m},{n}}} — need 1 <= m <= n")
            norm.append((fn, m, n))
    if not norm:
        raise ValueError("a CEP pattern needs at least one step")
    reps = list(product(*(range(m, n + 1) for _, m, n in norm)))
    if len(reps) > MAX_KLEENE_VARIANTS:
        raise ValueError(
            f"pattern expands to {len(reps)} variants > "
            f"MAX_KLEENE_VARIANTS={MAX_KLEENE_VARIANTS}; tighten the bounds"
        )
    max_len = sum(n for _, _, n in norm)
    if max_len > MAX_KLEENE_DEPTH:
        raise ValueError(
            f"pattern max length {max_len} > MAX_KLEENE_DEPTH={MAX_KLEENE_DEPTH}"
        )
    return [[fn for (fn, _, _), r in zip(norm, rs) for _ in range(r)] for rs in reps]


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
_CEP_REPLAY = _ReplayState(_CEP_STREAM_STATE, carry0=(0, -1), arm_empty=True)


def _scan_matches(idx, vals, ts_us, variants, within_us, lo, hi):
    """GREEDY variable-length scan over DECIDED starts: for each
    expanded variant (a flat predicate list), find starts s with
    ``lo < s <= hi`` where every step holds on index-contiguous rows
    (and the event-time span fits ``within_us``); the longest variant
    wins per start. The (lo, hi] decided window is what makes emission
    exactly-once AND greedy-correct: a start is only judged once every
    variant's outcome is known."""
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
    fusion of enforce_turn_order + a batch CEP matcher
    (``quanta_contrib.operators.stateful.match_sequence_kleene``).

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
    is watermark-bounded, tail is max_len-1 rows.

    The buffer runs through turn order's release logic
    (``_sorted_dedup_live``, ``_contiguous_prefix``, ``_flush_ripe``)
    as a one-conversation bundle; only the pattern scan is CEP's own."""
    variants = _expand_pattern(steps)
    L = max(len(v) for v in variants)
    within_us = _bucket_to_us(within) if within else None

    def prep(new: pd.DataFrame) -> tuple:
        return (
            new["conv_id"].to_numpy(dtype=object),
            new["turn_idx"].to_numpy(dtype=np.int64),
            new[pattern_col].to_numpy(dtype=object),
            _ts_us(new["ts"]),
        )

    def release(tail, decided_upto, rows, wm_us):
        """Scan tail+released rows over the newly DECIDED starts;
        return (matches, tail, decided_upto) after them.

        A start decides when its longest-variant window is fully
        released (idx bound), or — with ``within`` — once the
        watermark passed its span bound (ts bound: any future turn
        would have ts > wm >= ts[s]+within, violating the span; ts
        is monotone in turn_idx per conversation, so both bounds
        are prefixes and one scalar pointer suffices)."""
        all_idx, all_val, all_ts = (np.concatenate(p) for p in zip(tail, rows))
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
        keep = len(all_idx) - min(L - 1, len(all_idx))
        tail = (all_idx[keep:], all_val[keep:], all_ts[keep:])
        return matches, tail, max(decided_upto, hi)

    def fn(key, pdf_iter, state):
        conv_id = key[0]
        (next_idx, decided_upto), cols = _CEP_REPLAY.load(state)
        tail, nxt = cols[:3], {conv_id: int(next_idx)}
        bufs = (np.full(len(cols[3]), conv_id, dtype=object), *cols[3:])
        wm_us = None
        if state.hasTimedOut:
            wm_us = state.getCurrentWatermarkMs() * 1000
            ripe, unblocked, bufs = _flush_ripe(state, bufs, nxt)
            released = tuple(np.concatenate(p) for p in zip(ripe, unblocked))
        else:
            bufs = _sorted_dedup_live(_append(bufs, pdf_iter, prep), nxt)
            released, bufs = _contiguous_prefix(bufs, nxt)
        matches = []
        # with `within`, the advancing watermark alone can DECIDE
        # pending frontier starts in the tail
        if len(released[_B_IDX]) or (within_us is not None and wm_us is not None):
            matches, tail, decided_upto = release(
                tail, decided_upto, released[1:], wm_us
            )
        # the tail may still hold UNDECIDED frontier starts (watermark
        # not yet past their span bound) — evicting now would silently
        # drop their future matches
        undecided = (
            within_us is not None and len(tail[0]) and int(tail[0][-1]) > decided_upto
        )
        if not state.hasTimedOut or len(released[_B_IDX]) or len(bufs[_B_IDX]) or undecided:
            _CEP_REPLAY.save(state, (nxt[conv_id], decided_upto), (*tail, *bufs[1:]))
        else:
            # tombstone semantics as _order_fn: evicted at the second
            # consecutive empty-buffer timeout
            state.remove()
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
            "quanta_contrib.operators.stateful.match_sequence for batch inputs"
        )
    grouped = df.withWatermark("ts", watermark).groupBy("conv_id")
    return _with_state(grouped, fn, _CEP_STREAM_OUTPUT, _CEP_REPLAY)


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
    out = _user_reply_join(
        df, watermark, max_reply_delay, "full_outer", (), ("role",)
    )
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
    out = _user_reply_join(
        df, watermark, max_reply_delay, "inner", ("text",), ("role", "text", "tool")
    )
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


def _ordered_fold(
    df: DataFrame, key_col: str, ts_col: str, not_null: tuple, watermark: str,
    out_schema: T.StructType, replay: _ReplayState, prep, order, step,
) -> DataFrame:
    """Per-key ordered fold, streaming or batch (CUSUM, temporal join).

    Rows with a null key, ts or ``not_null`` column are dropped.
    ``prep`` maps a pandas frame to the operator's column tuple (epoch
    micros ts first), ``order`` gives a tuple's fold order, and
    ``step(key, carry, cols) -> (carry, frame)`` folds one ordered
    segment. A batch folds each key once from ``replay.carry0``; a
    stream buffers arrivals and, at each timer, folds the prefix the
    watermark has passed. ``step`` is pickled to the workers, so it
    must not capture a DataFrame."""
    cond = F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    for c in not_null:
        cond = cond & F.col(c).isNotNull()
    clean = df.filter(cond)

    if not df.isStreaming:

        def batch(pdf: pd.DataFrame) -> pd.DataFrame:
            cols = prep(pdf)
            return step(pdf[key_col].iloc[0], replay.carry0, _take(cols, order(cols)))[1]

        return clean.groupBy(key_col).applyInPandas(batch, schema=out_schema)

    def fn(key, pdf_iter, state: GroupState):
        carry, cols = replay.load(state)
        if state.hasTimedOut:
            ripe, cols = _split_ripe(state, cols, order(cols), 0)
            carry, frame = step(key[0], carry, ripe)
            replay.save(state, carry, cols)
            if len(frame):
                yield frame
            return
        replay.save(state, carry, _append(cols, pdf_iter, prep))

    grouped = clean.withWatermark(ts_col, watermark).groupBy(key_col)
    return _with_state(grouped, fn, out_schema, replay)


def _cusum_fold(sp, sn, vq, target_q, slack_q, h_q):
    """Two-sided CUSUM over one ordered integer segment with
    reset-on-alarm (Page 1954). Vectorized BETWEEN alarms via the
    prefix-min identity S_i = max(0, C_i - min(-S_0, min_{j<i} C_j))
    — the python loop runs once per ALARM, not per row. Returns
    (sp, sn, [(pos, side, stat), ...])."""
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


#: fixed-point scale of the CUSUM arithmetic (4 decimal digits)
_CUSUM_SCALE = 10_000
_CUSUM_STATE = T.StructType(
    [
        T.StructField("sp", T.LongType()),
        T.StructField("sn", T.LongType()),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
        T.StructField("buf_vq", T.ArrayType(T.LongType())),
    ]
)
# the CUSUM carry (two ints) persists for the key's lifetime
_CUSUM_REPLAY = _ReplayState(_CUSUM_STATE, carry0=(0, 0), arm_empty=False)


def stream_cusum(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    target: float = 0.0,
    slack: float = 0.0,
    threshold: float = 1.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Two-sided CUSUM change-point detection per key (Page 1954) —
    the streaming drift alarm of the monitoring family (PSI drift is
    the batch twin for distributions; this fires ONLINE when a key's
    level shifts): S+ accumulates (v - target - slack), S- accumulates
    (target - v - slack), both clamped at 0; crossing ``threshold``
    emits an alarm row (key, ts, side, stat) and restarts both sides.

    All arithmetic is fixed-point integer (floor(x*_CUSUM_SCALE + 0.5)), and
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
    target_q = int(np.floor(target * _CUSUM_SCALE + 0.5))
    slack_q = int(np.floor(slack * _CUSUM_SCALE + 0.5))
    h_q = int(np.floor(threshold * _CUSUM_SCALE + 0.5))
    if slack_q < 0 or h_q <= 0:
        raise ValueError(
            f"need slack >= 0 and threshold > 0, got {slack}/{threshold}"
        )
    out_schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField("ts", T.TimestampType()),
            T.StructField("side", T.StringType()),
            T.StructField("stat", T.LongType()),
        ]
    )

    def prep(pdf: pd.DataFrame) -> tuple:
        vq = np.floor(
            pdf[value_col].to_numpy(dtype=np.float64) * _CUSUM_SCALE + 0.5
        ).astype(np.int64)
        return _ts_us(pdf[ts_col]), vq

    def step(key, carry, cols):
        ts_us, vq = cols
        sp, sn, alarms = _cusum_fold(*carry, vq, target_q, slack_q, h_q)
        return (sp, sn), pd.DataFrame(
            {
                key_col: [key] * len(alarms),
                "ts": pd.to_datetime([ts_us[p] for p, _, _ in alarms], unit="us"),
                "side": [s for _, s, _ in alarms],
                "stat": pd.array([st for _, _, st in alarms], dtype="int64"),
            }
        )

    return _ordered_fold(
        df, key_col, ts_col, (value_col,), watermark, out_schema, _CUSUM_REPLAY,
        prep, lambda cols: np.lexsort((cols[1], cols[0])), step,
    )


_TEMPORAL_JOIN_STATE = T.StructType(
    [
        T.StructField("cur_attr", T.StringType()),
        T.StructField("has_cur", T.BooleanType()),
        T.StructField("b_ts", T.ArrayType(T.LongType())),
        T.StructField("b_seq", T.ArrayType(T.LongType())),
        T.StructField("b_dim", T.ArrayType(T.BooleanType())),
        T.StructField("b_attr", T.ArrayType(T.StringType())),
    ]
)
# the current dimension value persists for the key's lifetime
_TEMPORAL_JOIN_REPLAY = _ReplayState(
    _TEMPORAL_JOIN_STATE, carry0=(None, False), arm_empty=False
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
    out_schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField(seq_col, T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("attr_at_ts", T.StringType()),
        ]
    )

    def prep(pdf: pd.DataFrame) -> tuple:
        # str: the state buffers attrs as strings
        attr = np.array(
            [a if a is None else str(a) for a in pdf[attr_col].where(pdf[attr_col].notna(), None)],
            dtype=object,
        )
        return (
            _ts_us(pdf[ts_col]),
            pdf[seq_col].to_numpy(dtype=np.int64),
            pdf[is_dim_col].to_numpy(dtype=bool),
            attr,
        )

    def order(cols):
        # (ts, dim-first, seq): a dim update timestamped exactly at an
        # event applies to it; seq (unique per key) totalizes ties
        ts_us, seq, is_dim, _attr = cols
        return np.lexsort((seq, ~is_dim, ts_us))

    def step(key, carry, cols):
        # each event takes the attr of the last dim row before it
        # (prefix-max of dim positions), else the carried value
        cur_attr = carry[0] if carry[1] else None
        ts_us, seq, is_dim, attr = cols
        last_dim = np.maximum.accumulate(np.where(is_dim, np.arange(len(seq)), -1))
        ev = ~is_dim
        ld = last_dim[ev]
        out = pd.DataFrame(
            {
                key_col: [key] * len(ld),
                seq_col: pd.array(seq[ev], dtype="int64"),
                "ts": pd.to_datetime(ts_us[ev], unit="us"),
                "attr_at_ts": np.where(ld >= 0, attr[np.maximum(ld, 0)], cur_attr).tolist(),
            }
        )
        if len(last_dim) and last_dim[-1] >= 0:
            cur_attr = attr[last_dim[-1]]
        return (cur_attr, cur_attr is not None), out

    return _ordered_fold(
        df, key_col, ts_col, (), watermark, out_schema, _TEMPORAL_JOIN_REPLAY,
        prep, order, step,
    )
