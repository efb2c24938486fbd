"""Pipeline compiler: declarative spec -> running StreamingQuery.

The reference compiles a YAML pipeline spec into a wired Runner in one
linear pass with zero rewrites (internal/pipeline/compiler.go:18-100;
spec structs internal/spec/spec.go:3-44; ``schema_version: v1``
enforced at internal/config/pipeline.go:24-29). We keep the same spec
shape — source, ordered transform stages, sinks — but compilation
targets a DataFrame plan, so the REAL optimizer is Catalyst: predicate
pushdown, column pruning and codegen happen after this builder runs.

Spec (YAML or dict), mirroring the reference vocabulary:

    schema_version: v1
    pipeline:
      name: transcripts-uppercase
      source:
        kind: parquet-stream        # | rate | kafka
        path: /data/transcripts
        max_files_per_trigger: 4    # admission control (≙ capped tracker)
      watermark: 1 hour
      transformers:                 # ordered stage chain (≙ spec.go:34-39)
        - name: uppercase
      operator:                     # optional terminal operator
        kind: sessionize            # | tumbling | sliding | turn_order | user_replies | cep
                                    # | user_replies_outer | user_replies_full
                                    # | reply_sessions | stream_dedup | neardup_gate
                                    # | dq_monitor | cusum | m4 | temporal_join | none
        gap: 30 minutes
      sink:
        kind: idempotent-parquet    # | console | kafka | rollup
        path: /out/run1
      checkpoint: /out/run1/_ckpt
      trigger: available_now        # | {processing_time: 5 seconds} | {}

Every block binds to its factory by one rule (``_bind``): the block's
keys other than ``kind`` become the factory's keyword arguments, so
the factory's signature owns each default, and a key the block does
not accept raises ``ValueError`` naming the block and its accepted
keys; so does a missing or empty key the factory requires (a file
source's ``path``, a transformer's ``name``, a cep's ``steps``).
Accepted keys per kind (every operator also gets ``watermark``):

    block        kind                           keys
    pipeline     -                              name source watermark transformers
                                                operator sink sinks checkpoint trigger
    source       parquet-stream (default)       path max_files_per_trigger schema
                 json-stream, csv-stream        path max_files_per_trigger
                 parquet-batch                  path
                 rate                           rows_per_second n_convs
                 kafka                          bootstrap topics start_from
    operator     none (default), turn_order,    -
                 stream_dedup
                 sessionize                     gap
                 tumbling                       window
                 sliding                        window slide
                 user_replies, user_replies_outer,
                 user_replies_full              max_reply_delay
                 reply_sessions                 gap max_reply_delay
                 cep                            steps pattern_col derive
                 neardup_gate                   index_path threshold id_col text_col
                 dq_monitor                     checks window ts_col
                 cusum                          value key_col ts_col target slack threshold
                 temporal_join                  is_dim attr key_col ts_col seq_col
                 m4                             value key_col ts_col bucket
    sink         idempotent-parquet (default)   path key_cols
                 console, stdout                max_rows truncate delay_ms
                 kafka                          bootstrap topic
                 rollup                         path keys value_col distinct_col hist
    transformer  (a bare stage name, or)        name attempts backoff_ms timeout_ms
"""

from __future__ import annotations

import dataclasses
import inspect
import os
import re
from dataclasses import dataclass
from functools import partial
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from quanta_spark.operators import dedup, stateful, timeseries, validate, windows
from quanta_spark.operators import stages as stage_mod
from quanta_spark.sinks.console import StdoutSink
from quanta_spark.sinks.fanout import FanoutSink
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sinks.kafka import kafka_batch_writer
from quanta_spark.sinks.rollup import RollupSink
from quanta_spark.sources import readers
from quanta_spark.streaming.engine import QueryHandle, start_pipeline

SCHEMA_VERSION = "v1"


@dataclass
class CompiledPipeline:
    name: str
    df: DataFrame
    #: primary idempotent sink (read-back + DLQ anchor); None when the
    #: spec only configures console/kafka sinks
    sink: IdempotentSink | None
    #: None when the spec sets no ``checkpoint``: such a pipeline still
    #: compiles (``validate``, ad-hoc ``.df``) but cannot start
    checkpoint: str | None
    trigger: dict[str, Any]
    #: the composed foreachBatch target: the single configured sink, or
    #: a FanoutSink committing every configured sink as one unit
    sink_fn: Any = None
    #: Set when a terminal operator consumes the transformed flow: the
    #: operator aggregates OK rows, so dead-letter rows must be teed
    #: off BEFORE it (they are not window/join input) and committed by
    #: a companion query — otherwise failed rows would silently count
    #: in aggregates and their DLQ record would be lost.
    dlq_df: DataFrame | None = None
    dlq_sink: IdempotentSink | None = None
    #: the resolved transform chain (with per-stage policy overrides
    #: applied) — exposed so DLQ replay can re-run the same stages
    #: as an operator action (cli.py replay verb)
    stages: list = None

    def start(self) -> QueryHandle:
        if self.sink_fn is None:
            raise ValueError("pipeline has no sink; use .df for ad-hoc queries")
        if not self.checkpoint:
            # a shared default dir would let a second pipeline over the
            # same source resume the first one's file log and skip it all
            raise ValueError(
                f"pipeline {self.name!r} has no 'checkpoint' key; set one to start it"
            )
        trigger = dict(
            trigger_available_now=self.trigger.get("available_now", False),
            processing_time=self.trigger.get("processing_time"),
        )
        handle = start_pipeline(
            self.df, self.sink_fn, self.checkpoint, query_name=self.name, **trigger
        )
        if self.dlq_df is not None and self.dlq_sink is not None:
            handle.children.append(
                start_pipeline(
                    self.dlq_df,
                    self.dlq_sink,
                    os.path.join(self.checkpoint, "_dlq"),
                    query_name=f"{self.name}__dlq",
                    **trigger,
                )
            )
        return handle


_ENV_RE = re.compile(r"\$\{(\w+)(?::-([^}]*))?\}")


def _expand_env(obj):
    """``${VAR}`` / ``${VAR:-default}`` interpolation in string values —
    the reference overrides source config from the environment the same
    way (source/kafka/config.go:46-71)."""
    if isinstance(obj, dict):
        return {k: _expand_env(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_expand_env(v) for v in obj]
    if isinstance(obj, str):
        return _ENV_RE.sub(
            lambda m: os.environ.get(m.group(1), m.group(2) or ""), obj
        )
    return obj


def _load(spec: str | dict) -> dict:
    data = yaml.safe_load(spec) if isinstance(spec, str) else spec
    data = _expand_env(data)
    version = data.get("schema_version")
    if version != SCHEMA_VERSION:
        # same contract as the reference (pipeline.go:24-29): unknown
        # schema versions are rejected, not guessed at.
        raise ValueError(f"unsupported schema_version: {version!r} (want {SCHEMA_VERSION!r})")
    if "pipeline" not in data:
        raise ValueError("spec missing 'pipeline' block")
    return data["pipeline"]


#: YAML value -> factory argument, by spec key (a key means the same
#: thing in every block that accepts it)
_CASTS = {
    # a DDL string overrides the transcript schema, so the same source
    # kind streams document/embedding-shaped tables
    "schema": lambda s: StructType.fromDDL(s) if isinstance(s, str) else s,
    "threshold": float,
    "target": float,
    "slack": float,
    "key_cols": tuple,
    "keys": tuple,
    "hist": lambda h: tuple(h) if h else None,
}


#: a required key holding one of these values counts as missing
_EMPTY = (None, "", [], {})


def _bind(block: dict, what: str, allowed: str, build=None) -> dict:
    """The keyword arguments ``block`` passes to its factory: every key
    but ``kind``, cast by ``_CASTS``. ``allowed`` lists the accepted
    keys, space-separated; ``key=param`` binds spec key ``key`` to the
    factory's parameter ``param``. The factory's signature owns the
    defaults; a key outside ``allowed`` raises, so a typo fails loudly
    instead of silently running on a default, and so does a required key
    (a ``build`` parameter without a default) that is missing or empty
    (``""``, ``[]``, ``{}`` or null)."""
    params = {k: p or k for k, _, p in (a.partition("=") for a in allowed.split())}
    unknown = set(block) - set(params)
    if unknown:
        raise ValueError(f"{what}: unknown key(s) {sorted(unknown)}; accepted: {sorted(params)}")
    if build is not None:
        required = {
            p.name for p in inspect.signature(build).parameters.values() if p.default is p.empty
        }
        missing = {k for k, p in params.items() if p in required and block.get(k) in _EMPTY}
        if missing:
            raise ValueError(f"{what}: missing required key(s) {sorted(missing)}")
    return {params[k]: _CASTS[k](v) if k in _CASTS else v for k, v in block.items() if k != "kind"}


#: source kind -> (factory, accepted keys besides ``kind``)
_FILE_KEYS = "path max_files_per_trigger"
_SOURCES = {
    "parquet-stream": (readers.stream_transcripts_files, _FILE_KEYS + " schema"),
    "json-stream": (partial(readers.stream_transcripts_files, fmt="json"), _FILE_KEYS),
    "csv-stream": (partial(readers.stream_transcripts_files, fmt="csv"), _FILE_KEYS),
    "parquet-batch": (readers.read_transcripts_batch, "path"),
    "rate": (readers.stream_rate_transcripts, "rows_per_second n_convs"),
    "kafka": (readers.stream_kafka, "bootstrap topics start_from"),
}


def _build_source(spark: SparkSession, src: dict) -> DataFrame:
    kind = src.get("kind", "parquet-stream")
    if kind not in _SOURCES:
        raise ValueError(f"unknown source kind {kind!r} (≙ compiler.go:32-34 source check)")
    build, keys = _SOURCES[kind]
    return build(spark, **_bind(src, f"source {kind!r}", "kind " + keys, build))


# Adapters for the operator kinds whose spec keys need translating (SQL
# strings to Columns, a path to an index table). Each takes its spec
# keys as keyword arguments; a key without a default is required.


def _cep(df: DataFrame, watermark: str, steps: list, pattern_col: str = "role", derive=None):
    # declarative streaming pattern match:
    #   operator:
    #     kind: cep
    #     pattern_col: kind                  # column the steps test
    #     derive: "split(text, ' ')[0]"     # optional SQL expr for it
    #     steps: [view, click, purchase]    # equality per position
    if derive is not None:
        df = df.withColumn(pattern_col, F.expr(derive))
    steps = [(lambda v, s=s: v == s) for s in steps]
    return stateful.match_sequence_stream(df, steps, pattern_col, watermark=watermark)


def _neardup_gate(df: DataFrame, watermark: str, index_path: str, text_col: str = "text", **kw):
    # declarative streaming ingestion dedup vs a maintained index:
    #   operator:
    #     kind: neardup_gate
    #     index_path: /path/to/historical.parquet   # (doc_id, text)
    #     threshold: 0.8
    #     id_col: doc_id         # stream-side id column
    #     text_col: text
    index = dedup.neardup_index(df.sparkSession.read.parquet(index_path), text_col=text_col)
    return dedup.stream_neardup_gate(df, index, text_col=text_col, watermark=watermark, **kw)


def _dq_monitor(df: DataFrame, watermark: str, checks: dict, **kw):
    # declarative streaming data-quality monitoring:
    #   operator:
    #     kind: dq_monitor
    #     window: 1 day
    #     checks:                      # name -> VIOLATION predicate
    #       short_text: "length(text) < 15"
    #       bad_role: "role NOT IN ('user','assistant','tool')"
    checks = {name: F.expr(pred) for name, pred in checks.items()}
    return validate.stream_quality_monitor(df, checks, watermark=watermark, **kw)


def _series(build, default_key: str):
    """Adapter for an operator over (key_col, ts_col, ``value`` SQL expr
    AS value). ``default_key`` is the compiler's own key default (the
    factories default to user_id and event_type). Declarative streaming
    change-point monitor and M4 downsampling (dashboard feed):
      operator:                              operator:
        kind: cusum                            kind: m4
        key_col: conv_id                       key_col: role
        value: "CAST(length(text) AS DOUBLE)"  value: "CAST(length(text) AS DOUBLE)"
        target: 16.0                           bucket: 6 hours
        slack: 8.0
        threshold: 200.0"""

    def adapter(df: DataFrame, watermark: str, value: str, key_col=default_key, ts_col="ts", **kw):
        src = df.select(F.col(key_col), F.col(ts_col), F.expr(value).alias("value"))
        return build(src, watermark=watermark, key_col=key_col, ts_col=ts_col, **kw)

    return adapter


def _temporal_join(
    df: DataFrame,
    watermark: str,
    is_dim: str,
    attr: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    seq_col: str = "turn_idx",
):
    # declarative temporal table join (FOR SYSTEM_TIME AS OF):
    #   operator:
    #     kind: temporal_join
    #     key_col: conv_id
    #     is_dim: "role = 'user'"           # SQL predicate
    #     attr: "split(text, ' ')[0]"       # SQL expr (dim rows)
    #     seq_col: turn_idx
    src = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.expr(is_dim).alias("is_dim"),
        F.when(F.expr(is_dim), F.expr(attr)).alias("attr"),
        F.col(seq_col).cast("long").alias("seq"),
    )
    return stateful.stream_temporal_join(src, key_col=key_col, ts_col=ts_col, watermark=watermark)


#: operator kind -> (factory, accepted keys besides ``kind``); every
#: factory also gets the pipeline's ``watermark``
_OPERATORS = {
    "sessionize": (windows.sessionize, "gap"),
    "tumbling": (windows.tumbling_turn_stats, "window"),
    "sliding": (windows.sliding_turn_stats, "window slide"),
    "turn_order": (stateful.enforce_turn_order, ""),
    "user_replies": (stateful.join_user_replies, "max_reply_delay"),
    "user_replies_outer": (stateful.join_user_replies_outer, "max_reply_delay"),
    "user_replies_full": (stateful.join_user_replies_full, "max_reply_delay"),
    "reply_sessions": (stateful.reply_session_stats, "gap max_reply_delay"),
    "stream_dedup": (dedup.stream_dedup_exact, ""),
    "cep": (_cep, "steps pattern_col derive"),
    "neardup_gate": (_neardup_gate, "index_path threshold id_col text_col"),
    "dq_monitor": (_dq_monitor, "checks window ts_col"),
    "cusum": (_series(stateful.stream_cusum, "conv_id"),
              "value key_col ts_col target slack threshold"),
    "m4": (_series(timeseries.m4_downsample, "role"), "value key_col ts_col bucket"),
    "temporal_join": (_temporal_join, "is_dim attr key_col ts_col seq_col"),
}


def _apply_operator(df: DataFrame, op: dict, watermark: str) -> DataFrame:
    kind = op.get("kind")
    if kind not in _OPERATORS:
        raise ValueError(f"unknown operator kind {kind!r}")
    build, keys = _OPERATORS[kind]
    return build(df, watermark=watermark, **_bind(op, f"operator {kind!r}", "kind " + keys, build))


def _resolve_stage(t) -> stage_mod.Stage:
    """A transformers entry is a bare stage name or a dict carrying
    per-stage policy overrides — the reference's spec shape
    (internal/spec/spec.go:22-27: timeout_ms / attempts / backoff_ms
    per transformer)."""
    if isinstance(t, str):
        return stage_mod.get_stage(t)
    overrides = _bind(t, "transformer", "name attempts backoff_ms timeout_ms", stage_mod.get_stage)
    stage = stage_mod.get_stage(overrides.pop("name"))
    if overrides:
        stage = dataclasses.replace(
            stage, retry=dataclasses.replace(stage.retry, **overrides)
        )
    return stage


# sink registry (≙ sink adapter registry, sink/adapter.go:10-31):
# sink kind -> (factory, accepted keys besides ``kind``)
_SINKS = {
    "idempotent-parquet": (IdempotentSink, "path=base_dir key_cols"),
    "console": (StdoutSink, "max_rows truncate delay_ms"),
    "stdout": (StdoutSink, "max_rows truncate delay_ms"),
    "kafka": (kafka_batch_writer, "bootstrap topic"),
    # continuous-aggregate sink (exactly-once generation fold):
    #   sinks:
    #     - kind: rollup
    #       path: /path/to/rollup
    #       keys: [role]
    #       value_col: value
    #       distinct_col: conv_id     # optional HLL
    #       hist: [0, 512, 128]       # optional percentiles
    "rollup": (RollupSink, "path=base_dir keys value_col distinct_col hist"),
}


def compile_pipeline(spark: SparkSession, spec: str | dict) -> CompiledPipeline:
    p = _load(spec)
    _bind(p, "pipeline", "name source watermark transformers operator sink sinks checkpoint"
          " trigger")
    df = _build_source(spark, p.get("source", {}))
    chain = [_resolve_stage(t) for t in p.get("transformers", [])]
    if chain:
        df = stage_mod.apply_chain(df, chain)
    watermark = p.get("watermark", "1 hour")
    op = p.get("operator") or {}
    dlq_df = None
    if op.get("kind") not in (None, "none"):
        # A terminal operator consumes clean OK rows only: dead-letter
        # rows are teed off FIRST (committed by a companion query, see
        # CompiledPipeline.start) — never silently aggregated.
        if chain:
            ok, dlq_df = stage_mod.split_ok_dlq(df)
            df = ok
        df = df.drop(stage_mod.STATUS_COL, stage_mod.ERROR_COL, stage_mod.ATTRS_COL)
        df = _apply_operator(df, op, watermark)
    else:
        _bind(op, "operator 'none'", "kind")
        if df.isStreaming and p.get("watermark"):
            df = windows.with_watermark(df, watermark)

    # multiple sinks fan out under ONE commit (runner.go:192-198 /
    # compiler.go:69-98). Spec: a single `sink:` block or a `sinks:`
    # list; the first idempotent-parquet sink is the primary (exposed
    # for reads and as the DLQ anchor).
    if p.get("sink") and p.get("sinks"):
        raise ValueError("pipeline: set one of 'sink' and 'sinks', not both")
    sink_specs = p.get("sinks") or ([p["sink"]] if p.get("sink") else [])
    sink = None
    dlq_sink = None
    writers = []
    for s in sink_specs:
        kind = s.get("kind", "idempotent-parquet")
        if kind not in _SINKS:
            raise ValueError(f"unknown sink kind {kind!r}")
        build, keys = _SINKS[kind]
        writers.append(build(**_bind(s, f"sink {kind!r}", "kind " + keys, build)))
        if sink is None and kind == "idempotent-parquet":
            sink = writers[-1]
    if dlq_df is not None and sink is not None:
        # companion sink rooted under the primary sink's dir; ERROR
        # rows land in <path>/dlq_stream/dlq/batch_id=N
        dlq_sink = IdempotentSink(
            base_dir=os.path.join(sink.base_dir, "dlq_stream"),
            key_cols=(),
        )
    elif dlq_df is not None and sink_specs:
        # A stage chain feeding a terminal operator produced a DLQ tee,
        # and the pipeline WILL run (sinks configured) — but none is an
        # idempotent sink that could anchor the tee, so dead-letter rows
        # would be silently discarded, the exact loss the tee prevents.
        # (A spec with no sinks at all can't start and stays compilable
        # for ad-hoc .df inspection.)
        raise ValueError(
            "pipeline has transform stages + a terminal operator but no "
            "idempotent-parquet sink to commit dead-letter rows; add one "
            "(or drop the operator so ERROR rows reach the console sink)"
        )

    trigger = p.get("trigger", "available_now")
    if trigger == "available_now":
        trigger = {"available_now": True}
    elif not isinstance(trigger, dict) or set(trigger) - {"processing_time"}:
        # a typo such as "availablenow" must not turn a one-shot drain
        # into a query that never ends
        raise ValueError(
            f"unknown trigger {trigger!r}; use available_now, {{}} "
            "or {processing_time: <interval>}"
        )

    sink_fn = None
    if writers:
        sink_fn = writers[0] if len(writers) == 1 else FanoutSink(*writers)

    return CompiledPipeline(
        name=p.get("name", "quanta_pipeline"),
        df=df,
        sink=sink,
        checkpoint=p.get("checkpoint"),
        trigger=trigger,
        sink_fn=sink_fn,
        dlq_df=dlq_df,
        dlq_sink=dlq_sink,
        stages=chain,
    )
