"""Transform stages with status routing — the reference's single
transform operator, rebuilt Spark-first.

The reference processes one frame at a time through an ordered chain
of gRPC plugin stages; each call returns a Status that routes the
frame (reference: internal/pipeline/runner.go:120-200, status enum
api/proto/v1/transformer.proto:79-84):

- OK    -> 0..N output events continue down the chain (fan-out:
           runner.go:90-118)
- DROP  -> frame discarded AND acked (runner.go:161-164)
- ERROR/RETRY -> bounded retry with fixed backoff under a per-call
           deadline (runner.go:138-145); on exhaustion the reference
           DROPS + ACKS (data loss, runner.go:147-156, README.md:75).
           We keep retry + deadline but route exhausted rows to a
           DEAD-LETTER status instead of silently dropping — explicit
           and observable (SURVEY.md §4.2 custom #4).

Spark realization — a stage is exactly one of:

- MAP (``map_cols``): named Column expressions applied 1->1. Each
  expression is guarded by the status column (CASE WHEN _status='OK'
  THEN expr ELSE old END), so ERROR rows flow THROUGH untouched and
  the plan stays a single linear Project chain — no filter+union
  split, whose two references per stage re-evaluate the upstream
  subtree ~2^N times on an N-stage chain.
- FILTER (``predicate``): rows failing the predicate get
  Status_DROP (only OK rows are judged) and are filtered out with a
  plain linear Filter node — the reference's drop+ack (dropped rows
  still commit because unwritten rows advance the offset log).
- VECTORIZED (``batch_fn``): a ``pandas.DataFrame -> pandas.DataFrame``
  function over Arrow batches via one ``mapInPandas`` covering ALL
  rows; the runner slices out OK rows for the function and passes
  non-OK rows through byte-identical. This is the designated
  replacement for the reference's per-event gRPC hop: the process
  boundary becomes the JVM<->Python Arrow channel, paid once per
  batch instead of once per row. Fan-out (1->N) and drop (1->0)
  fall out of returning more/fewer rows.

  Failure granularity: a failing batch is retried per policy, then
  BISECTED — halves re-run (deterministic poison doesn't heal, so
  bisection runs single-attempt) until only the genuinely poisonous
  rows carry STATUS_ERROR; innocents in the same Arrow batch still
  commit to data. This matches the reference's single-frame drop
  granularity (runner.go:147-156) at vectorized speed: cost is
  O(poison_rows * log(batch)) extra calls, zero when nothing fails.

  Deadline: ``timeout_ms`` is ENFORCED — the function runs on a
  worker thread and an over-deadline call is abandoned (the thread
  is orphaned, exactly like the reference's context deadline, which
  abandons the in-flight RPC without killing the plugin's work) and
  treated as a retryable error.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATUS_OK = "OK"
STATUS_DROP = "DROP"
STATUS_ERROR = "ERROR"

STATUS_COL = "_status"
ERROR_COL = "_error"
ATTRS_COL = "_attrs"  # ≙ EventMetadata.attributes (transformer.proto:45-51)


@dataclass(frozen=True)
class RetryPolicy:
    """Mirror of the reference's per-stage policy
    (internal/spec/spec.go:22-27; example pipeline.yml:14-18).
    ``timeout_ms`` bounds each vectorized call (enforced);
    ``attempts`` extra tries with fixed ``backoff_ms`` sleeps."""

    attempts: int = 3
    backoff_ms: int = 200
    timeout_ms: int | None = 60_000


@dataclass(frozen=True)
class Stage:
    """One named transform stage; exactly one behavior field is set
    (``map_cols`` / ``predicate`` / ``batch_fn``).
    ``map_cols`` may be a zero-arg callable returning the dict so
    stages can be registered at import time, before a SparkSession
    (Column construction needs an active context)."""

    name: str
    map_cols: dict[str, Column] | Callable[[], dict[str, Column]] | None = None
    predicate: Column | None = None
    batch_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)

    def __post_init__(self) -> None:
        kinds = [self.map_cols, self.predicate, self.batch_fn]
        if sum(k is not None for k in kinds) != 1:
            raise ValueError(
                f"stage {self.name!r}: exactly one of "
                "map_cols/predicate/batch_fn must be set"
            )


# ---------------------------------------------------------------------------
# registry — replaces the reference's plugin address book
# (internal/pipeline/compiler.go:53-66 dials one gRPC conn per stage name)
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, Stage] = {}


def register(stage: Stage) -> Stage:
    _REGISTRY[stage.name] = stage
    return stage


def get_stage(name: str) -> Stage:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown stage {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


# ---------------------------------------------------------------------------
# chain application
# ---------------------------------------------------------------------------


def ensure_status_cols(df: DataFrame) -> DataFrame:
    cols = set(df.columns)
    if STATUS_COL not in cols:
        df = df.withColumn(STATUS_COL, F.lit(STATUS_OK))
    if ERROR_COL not in cols:
        df = df.withColumn(ERROR_COL, F.lit(None).cast("string"))
    if ATTRS_COL not in cols:
        df = df.withColumn(
            ATTRS_COL, F.create_map().cast("map<string,string>")
        )
    return df


def _vectorized_runner(
    stage: Stage, columns: list[str]
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Wrap a pandas batch_fn with the reference's retry/deadline loop
    (runner.go:135-176) plus bisection to row-level DLQ granularity."""
    fn = stage.batch_fn
    policy = stage.retry
    name = stage.name
    timeout_s = policy.timeout_ms / 1000.0 if policy.timeout_ms else None

    def runner(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import concurrent.futures as cf

        pool: cf.ThreadPoolExecutor | None = None

        def call(pdf: pd.DataFrame) -> pd.DataFrame:
            nonlocal pool
            if timeout_s is None:
                return fn(pdf.copy())
            if pool is None:
                pool = cf.ThreadPoolExecutor(max_workers=1)
            fut = pool.submit(fn, pdf.copy())
            try:
                return fut.result(timeout=timeout_s)
            except cf.TimeoutError:
                # Abandon the in-flight call (≙ context deadline,
                # runner.go:138-145: the RPC is abandoned, the plugin's
                # work is not killed). The orphaned thread keeps the old
                # pool; a fresh pool serves the next call.
                fut.cancel()
                pool.shutdown(wait=False)
                pool = None
                raise TimeoutError(
                    f"deadline exceeded after {policy.timeout_ms} ms"
                ) from None

        def attempt(pdf: pd.DataFrame, attempts: int) -> tuple[pd.DataFrame | None, str | None]:
            err: str | None = None
            for i in range(attempts + 1):
                try:
                    return call(pdf), None
                except Exception as exc:  # noqa: BLE001 — stage errors are data
                    err = f"{type(exc).__name__}: {exc}"
                    if i < attempts:
                        time.sleep(policy.backoff_ms / 1000.0)
            return None, err

        def process(pdf: pd.DataFrame, attempts: int) -> pd.DataFrame:
            out, err = attempt(pdf, attempts)
            if err is None:
                assert out is not None
                if STATUS_COL not in out.columns:
                    out = out.assign(**{STATUS_COL: STATUS_OK})
                if ERROR_COL not in out.columns:
                    out = out.assign(**{ERROR_COL: None})
                return out
            if len(pdf) <= 1:
                bad = pdf.copy()
                bad[STATUS_COL] = STATUS_ERROR
                bad[ERROR_COL] = f"stage={name}: {err}"
                return bad
            # bisect: isolate poison rows; single-attempt below the top
            # level (deterministic failures don't heal on retry).
            mid = len(pdf) // 2
            return pd.concat(
                [process(pdf.iloc[:mid], 0), process(pdf.iloc[mid:], 0)],
                ignore_index=True,
            )

        for pdf in it:
            if len(pdf) == 0:
                continue
            ok_mask = pdf[STATUS_COL] == STATUS_OK
            parts: list[pd.DataFrame] = []
            if ok_mask.any():
                parts.append(process(pdf[ok_mask], policy.attempts))
            if (~ok_mask).any():
                parts.append(pdf[~ok_mask])
            out = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            yield out[columns]
        if pool is not None:
            pool.shutdown(wait=False)

    return runner


def _ok() -> Column:
    return F.col(STATUS_COL) == STATUS_OK


def apply_stage(df: DataFrame, stage: Stage) -> DataFrame:
    """Apply one stage; input/output schema is identical (the chain's
    frame envelope). Non-OK rows flow through untouched; DROP rows
    are filtered eagerly (reference short-circuits dropped frames,
    runner.go:186-189)."""
    df = ensure_status_cols(df)
    if stage.map_cols is not None:
        mc = stage.map_cols() if callable(stage.map_cols) else stage.map_cols
        for c, e in mc.items():
            old = F.col(c) if c in df.columns else F.lit(None)
            df = df.withColumn(c, F.when(_ok(), e).otherwise(old))
        return df
    if stage.predicate is not None:
        # NULL predicates drop the row, like SQL WHERE (and like the
        # pre-status-column df.filter): without the coalesce,
        # _ok() & ~NULL is NULL, which when() treats as "not matched"
        # and the row would silently flow on as OK.
        keeps = F.coalesce(stage.predicate, F.lit(False))
        marked = df.withColumn(
            STATUS_COL,
            F.when(_ok() & ~keeps, STATUS_DROP).otherwise(F.col(STATUS_COL)),
        )
        return marked.filter(F.col(STATUS_COL) != STATUS_DROP)
    out = df.mapInPandas(_vectorized_runner(stage, df.columns), schema=df.schema)
    return out.filter(F.col(STATUS_COL) != STATUS_DROP)


def apply_chain(df: DataFrame, stages: list[Stage | str]) -> DataFrame:
    """Sequential stage composition — YAML order in the reference
    (compiler.go:53-66, design_doc.md:81). Returns a DataFrame whose
    ``_status`` is OK or ERROR; the sink splits ERROR to the DLQ."""
    df = ensure_status_cols(df)
    for s in stages:
        stage = get_stage(s) if isinstance(s, str) else s
        df = apply_stage(df, stage)
    return df


def split_ok_dlq(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a chained result into (ok, dead-letter)."""
    df = ensure_status_cols(df)
    ok = df.filter(F.col(STATUS_COL) == STATUS_OK)
    dlq = df.filter(F.col(STATUS_COL) == STATUS_ERROR)
    return ok, dlq


# ---------------------------------------------------------------------------
# built-in stages — incl. the reference's example plugin
# ---------------------------------------------------------------------------


def uppercase_annotate_stage() -> Stage:
    """The reference's example plugin, as a map stage: uppercase the
    text and record ``transformed_by`` in attributes
    (examples/transformers/uppercase/main.go:61-97 — non-JSON branch
    uppercases; attributes set at :88-91). Column construction is
    deferred (lazy map_cols) so registration works at import time."""

    def cols() -> dict[str, Column]:
        return {
            "text": F.upper(F.col("text")),
            ATTRS_COL: F.map_concat(
                F.col(ATTRS_COL),
                F.create_map(F.lit("transformed_by"), F.lit("uppercase")),
            ),
        }

    return Stage(name="uppercase", map_cols=cols)


#: shared with the SQL oracle (q54) — keep both in sync
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9][0-9 ()-]{7,}[0-9]"


def redact_pii_stage() -> Stage:
    """PII redaction as a map stage: emails and phone-number-shaped
    digit runs replaced with typed placeholders — the compliance
    transform every training-data pipeline runs before anything else.
    Pure regexp_replace Column exprs (codegen, scan-speed at 100 TB);
    patterns shared verbatim with the DuckDB oracle (q54)."""

    def cols() -> dict[str, Column]:
        redacted = F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        )
        return {
            "text": redacted,
            ATTRS_COL: F.map_concat(
                F.col(ATTRS_COL),
                F.create_map(F.lit("transformed_by"), F.lit("redact_pii")),
            ),
        }

    return Stage(name="redact_pii", map_cols=cols)


register(uppercase_annotate_stage())
register(redact_pii_stage())
