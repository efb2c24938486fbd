"""Streaming continuous aggregates outside the pipeline's operator set:
gap-filled LOCF buckets, windowed top-k terms and the two-sample KS
drift monitor (``applyInPandasWithState`` like the core stateful
operators in ``quanta_spark.operators.stateful``), plus the batch CEP
matchers that the streaming matcher ``match_sequence_stream`` is
checked against (both expand a pattern with the engine's
``_expand_pattern``)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from quanta_spark.operators.stateful import _expand_pattern


_US = 1_000_000


def stream_gapfill_locf(
    df: DataFrame,
    key_col: str = "user_id",
    bucket: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAMING time-bucket gap fill with LOCF — the continuous-
    aggregate twin of ``timeseries.gapfill``: per-key observations
    arrive as a stream; once the watermark proves a grid tick FINAL
    (wm >= tick + step, so no event in [tick, tick+step) can still
    arrive), the tick is emitted exactly once — observed ticks with
    their per-tick MAX value, gap ticks between observations carrying
    the last observed value. A drained stream's cumulative output
    equals the batch operator's LOCF columns row-for-row (the oracle).

    State per key: the LOCF carry (last emitted tick + value, 2
    scalars — kept forever, the continuous-aggregate contract) plus
    the not-yet-final pending ticks (bounded by the watermark horizon:
    at most horizon/step entries). An event-time timer set to the
    earliest pending tick's finality point flushes keys that receive
    no further data — gap emission never needs a new event on the
    key. Emission is monotone in tick per key and replay-safe: a
    restarted batch re-derives the same finals from the same state.

    Batch input falls back to the batch operator's LOCF projection
    (same contract as enforce_turn_order's batch twin)."""
    from quanta_spark.operators.timeseries import _bucket_to_us

    step = _bucket_to_us(bucket)
    if not df.isStreaming:
        from quanta_contrib.operators.timeseries import gapfill

        return gapfill(
            df, key_col=key_col, bucket=bucket
        ).select(key_col, "tick", "value", "value_locf", "is_gap")

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("tick", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("value_locf", T.DoubleType()),
            T.StructField("is_gap", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_tick", T.LongType()),  # -1 = nothing emitted
            T.StructField("locf_v", T.DoubleType()),
            T.StructField("pend_ticks", T.ArrayType(T.LongType())),
            T.StructField("pend_vals", T.ArrayType(T.DoubleType())),
        ]
    )

    def _fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        k = key[0]
        if state.exists:
            last_tick, locf_v, p_ticks, p_vals = state.get
            pend = dict(zip(p_ticks, p_vals))
        else:
            last_tick, locf_v, pend = -1, float("nan"), {}

        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                ts_us = (
                    pdf["ts"].astype("datetime64[us]").to_numpy().astype(np.int64)
                )
                vals = pdf["value"].to_numpy(dtype=np.float64)
                ticks = (ts_us // step) * step
                for t, v in zip(ticks.tolist(), vals.tolist()):
                    old = pend.get(t)
                    pend[t] = v if old is None or v > old else old

        wm_us = state.getCurrentWatermarkMs() * 1000
        final = sorted(t for t in pend if t + step <= wm_us)
        out_t, out_v, out_locf, out_gap = [], [], [], []
        for t in final:
            v = pend.pop(t)
            if last_tick >= 0:
                for g in range(last_tick + step, t, step):
                    out_t.append(g)
                    out_v.append(None)
                    out_locf.append(locf_v)
                    out_gap.append(True)
            out_t.append(t)
            out_v.append(v)
            out_locf.append(v)
            out_gap.append(False)
            locf_v = v
            last_tick = t

        state.update(
            (
                int(last_tick),
                float(locf_v),
                sorted(pend),
                [pend[t] for t in sorted(pend)],
            )
        )
        if pend:
            # earliest pending tick's finality point; strictly above wm
            state.setTimeoutTimestamp(min(pend) // 1000 + step // 1000 + 1)

        if out_t:
            yield pd.DataFrame(
                {
                    key_col: np.full(len(out_t), k, dtype=np.int64),
                    "tick": pd.to_datetime(np.array(out_t, dtype="int64"), unit="us"),
                    "value": pd.array(out_v, dtype="float64"),
                    "value_locf": np.array(out_locf, dtype=np.float64),
                    "is_gap": np.array(out_gap, dtype=bool),
                }
            )

    return (
        df.select(
            F.col(key_col).cast("long").alias(key_col),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withWatermark("ts", watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_topk_terms(
    df: DataFrame,
    k: int = 10,
    window: str = "1 day",
    watermark: str = "1 hour",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """STREAMING exact top-k terms per event-time tumbling window —
    the "trending now" feed (streaming twin of the batch trending
    query): term counts accumulate in per-window state while the
    window is open; when the watermark proves the window FINAL
    (wm >= window end), the top-k rows (count desc, term asc — a total
    order) are emitted exactly once and the window's state is dropped.

    State is one count table per OPEN window, O(distinct terms within
    the watermark horizon) — exact by construction, the right tool for
    bounded vocabularies (ops dashboards, schema'd event names). For
    open-vocabulary 100 TB streams cap the memory with the mergeable
    CMS sketch (sketches.cms_heavy_hitters) instead; this operator is
    the exactness gate the sketch is validated against.

    An event-time timer at window end + 1ms flushes windows that
    receive no further batches (end-of-stream heartbeat advances the
    watermark, timers fire, finals drain). Late rows cannot resurrect
    an emitted window: emission requires wm >= window end, and the
    watermark filter drops any later-arriving row of that window
    BEFORE the stateful operator. Batch input falls back to the
    equivalent count + row_number plan (the oracle's shape).
    """
    from quanta_spark.operators.dedup import normalized
    from quanta_spark.operators.timeseries import _bucket_to_us

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    win_us = _bucket_to_us(window)

    toks_of = lambda d: d.select(  # noqa: E731
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")

    if not df.isStreaming:
        from pyspark.sql.window import Window as W

        counts = (
            toks_of(df)
            .groupBy(
                F.timestamp_micros(
                    (F.unix_micros(F.col("ts")) / win_us).cast("long") * win_us
                ).alias("window_start"),
                "term",
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = W.partitionBy("window_start").orderBy(F.col("n").desc(), "term")
        return (
            counts.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("window_start", "term", F.col("n").cast("long").alias("n"), "rank")
        )

    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("term", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def _fn(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        # key arrives as numpy int64; GroupState serializes timer
        # properties via json.dumps, which rejects numpy scalars
        win_start = int(key[0])
        cnt: dict = {}
        if state.exists:
            terms, counts = state.get
            cnt = {t: int(c) for t, c in zip(terms, counts)}

        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                part = pdf.groupby("term").size()
                for t, c in part.items():
                    cnt[t] = cnt.get(t, 0) + int(c)

        wm_us = state.getCurrentWatermarkMs() * 1000
        win_end_us = win_start + win_us
        if wm_us >= win_end_us:
            # FINAL: emit top-k on the (count desc, term asc) total
            # order, drop the window's state — exactly-once emission
            top = sorted(cnt.items(), key=lambda tc: (-tc[1], tc[0]))[:k]
            state.remove()
            if top:
                yield pd.DataFrame(
                    {
                        "window_start": pd.to_datetime(
                            np.full(len(top), win_start, dtype="int64"), unit="us"
                        ),
                        "term": [t for t, _ in top],
                        "n": np.array([c for _, c in top], dtype=np.int64),
                        "rank": np.arange(1, len(top) + 1, dtype=np.int32),
                    }
                )
        else:
            ts_sorted = sorted(cnt)
            state.update((ts_sorted, [cnt[t] for t in ts_sorted]))
            # flush without further data: fire just past finality,
            # strictly above the current watermark (set-time contract)
            state.setTimeoutTimestamp(max(win_end_us // 1000, wm_us // 1000 + 1) + 1)

    toks = toks_of(df).withWatermark("ts", watermark)
    keyed = toks.withColumn(
        "win_us", (F.unix_micros(F.col("ts")) / win_us).cast("long") * win_us
    )
    return keyed.groupBy("win_us").applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_ks_monitor(
    df: DataFrame,
    baseline: list[int],
    lo: int,
    hi: int,
    n_bins: int,
    value_col: str = "value",
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAMING distribution-drift monitor: per event-time tumbling
    window, a fixed-bin histogram of ``value_col`` accumulates in
    state; when the watermark proves the window final, its
    Kolmogorov-Smirnov distance against the ``baseline`` histogram
    (a list of n_bins counts — e.g. last month's rollup) emits exactly
    once in exact rational basis points (|cumW·nB − cumB·nW|·10⁴ div
    nW·nB — engine-exact, the sketches.histogram_ks arithmetic).

    The live twin of the batch PSI (q126) / KS (q163) drift checks:
    state is ONE n_bins-long count array per open window — bounded by
    construction, independent of stream volume — and the alarm
    surface is one row per window. Batch input computes the same
    per-window KS relationally.
    """
    import numpy as np

    if len(baseline) != n_bins:
        raise ValueError(
            f"baseline must have n_bins={n_bins} counts, got {len(baseline)}"
        )
    if hi <= lo or n_bins < 1:
        raise ValueError(f"need hi > lo and n_bins >= 1, got ({lo}, {hi}, {n_bins})")
    base = np.asarray(baseline, dtype=np.int64)
    if base.sum() <= 0:
        raise ValueError("baseline histogram is empty")
    base_cum = np.cumsum(base)
    n_base = int(base.sum())
    win_us = _bucket_to_us_shared(window)

    def _ks(counts: np.ndarray) -> tuple[int, int]:
        n_w = int(counts.sum())
        if n_w == 0:
            return 0, 0
        cum_w = np.cumsum(counts)
        num = np.abs(cum_w * n_base - base_cum * n_w) * 10_000
        return int((num // (n_w * n_base)).max()), n_w

    def _bin(vals: "np.ndarray") -> "np.ndarray":
        vl = np.floor(vals).astype(np.int64)
        vl = np.clip(vl, lo, hi - 1)
        return (vl - lo) * n_bins // (hi - lo)

    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("ks_bp", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    if not df.isStreaming:
        import pandas as pd_  # noqa: F401

        def _batch(pdf):
            vals = pdf[value_col].to_numpy(dtype=np.float64)
            counts = np.bincount(_bin(vals), minlength=n_bins)[:n_bins]
            ks, n_w = _ks(counts.astype(np.int64))
            return pd.DataFrame(
                {
                    "window_start": [pdf["_w"].iloc[0]],
                    "ks_bp": pd.array([ks], dtype="int64"),
                    "n": pd.array([n_w], dtype="int64"),
                }
            )

        keyed = df.filter(
            F.col(value_col).isNotNull()
            & ~F.coalesce(F.isnan(F.col(value_col).cast("double")), F.lit(False))
            & F.col(ts_col).isNotNull()
        ).withColumn(
            "_w",
            F.timestamp_micros(
                (F.unix_micros(F.col(ts_col).cast("timestamp")) / win_us).cast("long")
                * win_us
            ),
        )
        return keyed.groupBy("_w").applyInPandas(_batch, schema=out_schema)

    state_schema = T.StructType([T.StructField("counts", T.ArrayType(T.LongType()))])

    def _fn(key, pdf_iter, state: GroupState):
        win_start = int(key[0])
        counts = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(n_bins, dtype=np.int64)
        )
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                vals = pdf[value_col].to_numpy(dtype=np.float64)
                counts += np.bincount(_bin(vals), minlength=n_bins)[:n_bins]
        wm_us = state.getCurrentWatermarkMs() * 1000
        win_end_us = win_start + win_us
        if wm_us >= win_end_us:
            ks, n_w = _ks(counts)
            state.remove()
            if n_w:
                yield pd.DataFrame(
                    {
                        "window_start": pd.to_datetime([win_start], unit="us"),
                        "ks_bp": pd.array([ks], dtype="int64"),
                        "n": pd.array([n_w], dtype="int64"),
                    }
                )
        else:
            state.update((counts.tolist(),))
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(win_end_us // 1000, wm // 1000 + 1) + 1)

    clean = df.filter(
        F.col(value_col).isNotNull()
        # NaN would hit an undefined float->int64 cast in _bin and land
        # in an edge bin; exclude it like rollup_aggregate
        # and m4_downsample do. try_cast: isnan rejects non-numeric types.
        & ~F.coalesce(F.isnan(F.col(value_col).cast("double")), F.lit(False))
        & F.col(ts_col).isNotNull()
    ).withColumn(ts_col, F.col(ts_col).cast("timestamp"))  # cast BEFORE watermark
    keyed = clean.withWatermark(ts_col, watermark).withColumn(
        "_win_us",
        (F.unix_micros(F.col(ts_col)) / win_us).cast("long") * win_us,
    )
    return keyed.groupBy("_win_us").applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _bucket_to_us_shared(bucket: str) -> int:
    from quanta_spark.operators.timeseries import _bucket_to_us

    return _bucket_to_us(bucket)


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

    This is the ``{1,1}`` case of match_sequence_kleene and runs on it:
    ONE shuffle on the conversation key, then pure window/lead codegen
    — a k-step pattern as k-1 self-joins would be k-1 shuffles of the
    full stream at 10^12 turns; this is one. The STREAMING counterpart
    is match_sequence_stream (lead over an unbounded stream is not
    plannable; ordering first makes the pattern a local check)."""
    out = match_sequence_kleene(df, steps, cols, key_col, order_col, within, ts_col)
    # match_len is never null here; the coalesce keeps the column
    # non-nullable, as a fixed-length pattern's match_len always was
    return out.withColumn("match_len", F.coalesce("match_len", F.lit(len(steps))))


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
    from pyspark.sql.window import Window

    variants = _expand_pattern(steps)
    max_len = max(len(v) for v in variants)

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

    def variant_pred(variant) -> tuple:
        pred = None
        for j, fn in enumerate(variant):
            p = fn(lead_view(j))
            if j:
                p = p & (
                    F.col(f"_l{j}_{order_col}") == F.col(order_col) + j
                )
            pred = p if pred is None else pred & p
        j = len(variant)
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
