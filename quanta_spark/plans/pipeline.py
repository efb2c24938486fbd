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
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession

from quanta_spark.operators import stages as stage_mod
from quanta_spark.operators.stateful import enforce_turn_order, join_user_replies
from quanta_spark.operators.windows import (
    sessionize,
    sliding_turn_stats,
    tumbling_turn_stats,
    with_watermark,
)
from quanta_spark.sinks.console import StdoutSink
from quanta_spark.sinks.fanout import FanoutSink
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sinks.kafka import kafka_batch_writer
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
    checkpoint: str
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
        handle = start_pipeline(
            self.df,
            self.sink_fn,
            self.checkpoint,
            query_name=self.name,
            trigger_available_now=self.trigger.get("available_now", False),
            processing_time=self.trigger.get("processing_time"),
        )
        if self.dlq_df is not None and self.dlq_sink is not None:
            handle.children.append(
                start_pipeline(
                    self.dlq_df,
                    self.dlq_sink,
                    os.path.join(self.checkpoint, "_dlq"),
                    query_name=f"{self.name}__dlq",
                    trigger_available_now=self.trigger.get("available_now", False),
                    processing_time=self.trigger.get("processing_time"),
                )
            )
        return handle


_ENV_RE = __import__("re").compile(r"\$\{(\w+)(?::-([^}]*))?\}")


def _expand_env(obj):
    """``${VAR}`` / ``${VAR:-default}`` interpolation in string values —
    the reference overrides source config from the environment the same
    way (source/kafka/config.go:46-71)."""
    import os

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


def _build_source(spark: SparkSession, src: dict) -> DataFrame:
    kind = src.get("kind", "parquet-stream")
    if kind == "parquet-stream":
        # optional DDL schema overrides the transcript default, so the
        # same source kind streams document/embedding-shaped tables
        schema = src.get("schema")
        if isinstance(schema, str):
            from pyspark.sql.types import StructType

            schema = StructType.fromDDL(schema)
        return readers.stream_transcripts_files(
            spark,
            src["path"],
            max_files_per_trigger=src.get("max_files_per_trigger", 1),
            schema=schema,
        )
    if kind == "json-stream":
        return readers.stream_transcripts_json(
            spark, src["path"], max_files_per_trigger=src.get("max_files_per_trigger", 1)
        )
    if kind == "csv-stream":
        return readers.stream_transcripts_csv(
            spark, src["path"], max_files_per_trigger=src.get("max_files_per_trigger", 1)
        )
    if kind == "parquet-batch":
        return readers.read_transcripts_batch(spark, src["path"])
    if kind == "rate":
        return readers.stream_rate_transcripts(
            spark,
            rows_per_second=src.get("rows_per_second", 1000),
            n_convs=src.get("n_convs", 100),
        )
    if kind == "kafka":
        return readers.stream_kafka(
            spark,
            bootstrap=src["bootstrap"],
            topics=src["topics"],
            start_from=src.get("start_from", "oldest"),
        )
    raise ValueError(f"unknown source kind {kind!r} (≙ compiler.go:32-34 source check)")


def _apply_operator(df: DataFrame, op: dict | None, watermark: str) -> DataFrame:
    kind = (op or {}).get("kind", "none")
    if kind == "none":
        return df
    if kind == "sessionize":
        return sessionize(df, gap=op.get("gap", "30 minutes"), watermark=watermark)
    if kind == "tumbling":
        return tumbling_turn_stats(df, window=op.get("window", "10 minutes"), watermark=watermark)
    if kind == "sliding":
        return sliding_turn_stats(
            df,
            window=op.get("window", "10 minutes"),
            slide=op.get("slide", "5 minutes"),
            watermark=watermark,
        )
    if kind == "turn_order":
        return enforce_turn_order(df, watermark=watermark)
    if kind == "user_replies":
        return join_user_replies(
            df, watermark=watermark, max_reply_delay=op.get("max_reply_delay", "30 minutes")
        )
    if kind == "user_replies_outer":
        from quanta_spark.operators.stateful import join_user_replies_outer

        return join_user_replies_outer(
            df, watermark=watermark, max_reply_delay=op.get("max_reply_delay", "30 minutes")
        )
    if kind == "user_replies_full":
        from quanta_spark.operators.stateful import join_user_replies_full

        return join_user_replies_full(
            df, watermark=watermark, max_reply_delay=op.get("max_reply_delay", "30 minutes")
        )
    if kind == "reply_sessions":
        from quanta_spark.operators.stateful import reply_session_stats

        return reply_session_stats(
            df,
            watermark=watermark,
            gap=op.get("gap", "30 minutes"),
            max_reply_delay=op.get("max_reply_delay", "30 minutes"),
        )
    if kind == "stream_dedup":
        from quanta_spark.operators.dedup import stream_dedup_exact

        return stream_dedup_exact(df, watermark=watermark)
    if kind == "cep":
        # declarative streaming pattern match:
        #   operator:
        #     kind: cep
        #     pattern_col: kind                  # column the steps test
        #     derive: "split(text, ' ')[0]"     # optional SQL expr for it
        #     steps: [view, click, purchase]    # equality per position
        from pyspark.sql import functions as F

        from quanta_spark.operators.stateful import match_sequence_stream

        pattern_col = op.get("pattern_col", "role")
        if "derive" in op:
            df = df.withColumn(pattern_col, F.expr(op["derive"]))
        values = op.get("steps")
        if not values:
            raise ValueError("cep operator needs a non-empty steps list")
        steps = [(lambda v, s=s: v == s) for s in values]
        return match_sequence_stream(
            df, steps, pattern_col=pattern_col, watermark=watermark
        )
    if kind == "neardup_gate":
        # declarative streaming ingestion dedup vs a maintained index:
        #   operator:
        #     kind: neardup_gate
        #     index_path: /path/to/historical.parquet   # (doc_id, text)
        #     threshold: 0.8
        #     id_col: doc_id         # stream-side id column
        #     text_col: text
        from quanta_spark.operators.dedup import neardup_index, stream_neardup_gate

        path = op.get("index_path")
        if not path:
            raise ValueError("neardup_gate operator needs index_path")
        hist = df.sparkSession.read.parquet(path)
        index = neardup_index(hist, text_col=op.get("text_col", "text"))
        return stream_neardup_gate(
            df,
            index,
            id_col=op.get("id_col", "doc_id"),
            text_col=op.get("text_col", "text"),
            threshold=float(op.get("threshold", 0.8)),
            watermark=watermark,
        )
    if kind == "dq_monitor":
        # declarative streaming data-quality monitoring:
        #   operator:
        #     kind: dq_monitor
        #     window: 1 day
        #     checks:                      # name -> VIOLATION predicate
        #       short_text: "length(text) < 15"
        #       bad_role: "role NOT IN ('user','assistant','tool')"
        from pyspark.sql import functions as F

        from quanta_spark.operators.validate import stream_quality_monitor

        checks_spec = op.get("checks")
        if not checks_spec:
            raise ValueError("dq_monitor operator needs a non-empty checks map")
        checks = {name: F.expr(pred) for name, pred in checks_spec.items()}
        return stream_quality_monitor(
            df,
            checks,
            window=op.get("window", "1 day"),
            watermark=watermark,
            ts_col=op.get("ts_col", "ts"),
        )
    if kind == "cusum":
        # declarative streaming change-point monitor:
        #   operator:
        #     kind: cusum
        #     key_col: conv_id
        #     value: "CAST(length(text) AS DOUBLE)"   # SQL expr
        #     target: 16.0
        #     slack: 8.0
        #     threshold: 200.0
        from pyspark.sql import functions as F

        from quanta_spark.operators.stateful import stream_cusum

        value = op.get("value")
        if not value:
            raise ValueError("cusum operator needs a value expression")
        key_col = op.get("key_col", "conv_id")
        ts_col = op.get("ts_col", "ts")
        src = df.select(
            F.col(key_col), F.col(ts_col), F.expr(value).alias("value")
        )
        return stream_cusum(
            src,
            key_col=key_col,
            ts_col=ts_col,
            value_col="value",
            target=float(op.get("target", 0.0)),
            slack=float(op.get("slack", 0.0)),
            threshold=float(op.get("threshold", 1.0)),
            watermark=watermark,
        )
    if kind == "temporal_join":
        # declarative temporal table join (FOR SYSTEM_TIME AS OF):
        #   operator:
        #     kind: temporal_join
        #     key_col: conv_id
        #     is_dim: "role = 'user'"           # SQL predicate
        #     attr: "split(text, ' ')[0]"       # SQL expr (dim rows)
        #     seq_col: turn_idx
        from pyspark.sql import functions as F

        from quanta_spark.operators.stateful import stream_temporal_join

        is_dim = op.get("is_dim")
        attr = op.get("attr")
        if not is_dim or not attr:
            raise ValueError("temporal_join operator needs is_dim and attr expressions")
        key_col = op.get("key_col", "conv_id")
        ts_col = op.get("ts_col", "ts")
        seq_col = op.get("seq_col", "turn_idx")
        src = df.select(
            F.col(key_col),
            F.col(ts_col),
            F.expr(is_dim).alias("is_dim"),
            F.when(F.expr(is_dim), F.expr(attr)).alias("attr"),
            F.col(seq_col).cast("long").alias("seq"),
        )
        return stream_temporal_join(
            src,
            key_col=key_col,
            ts_col=ts_col,
            is_dim_col="is_dim",
            attr_col="attr",
            seq_col="seq",
            watermark=watermark,
        )
    if kind == "m4":
        # declarative streaming M4 downsampling (live dashboard feed):
        #   operator:
        #     kind: m4
        #     key_col: role
        #     value: "CAST(length(text) AS DOUBLE)"
        #     bucket: 6 hours
        from pyspark.sql import functions as F

        from quanta_spark.operators.timeseries import m4_downsample

        value = op.get("value")
        if not value:
            raise ValueError("m4 operator needs a value expression")
        key_col = op.get("key_col", "role")
        ts_col = op.get("ts_col", "ts")
        src = df.select(F.col(key_col), F.col(ts_col), F.expr(value).alias("value"))
        return m4_downsample(
            src,
            key_col=key_col,
            ts_col=ts_col,
            value_col="value",
            bucket=op.get("bucket", "6 hours"),
            watermark=watermark,
        )
    raise ValueError(f"unknown operator kind {kind!r}")


def _resolve_stage(t) -> stage_mod.Stage:
    """A transformers entry is a bare stage name or a dict carrying
    per-stage policy overrides — the reference's spec shape
    (internal/spec/spec.go:22-27: timeout_ms / attempts / backoff_ms
    per transformer)."""
    import dataclasses

    if isinstance(t, str):
        return stage_mod.get_stage(t)
    stage = stage_mod.get_stage(t["name"])
    overrides = {
        k: t[k] for k in ("attempts", "backoff_ms", "timeout_ms") if k in t
    }
    if overrides:
        stage = dataclasses.replace(
            stage, retry=dataclasses.replace(stage.retry, **overrides)
        )
    return stage


def compile_pipeline(spark: SparkSession, spec: str | dict) -> CompiledPipeline:
    p = _load(spec)
    df = _build_source(spark, p.get("source", {}))
    chain = [_resolve_stage(t) for t in p.get("transformers", [])]
    if chain:
        df = stage_mod.apply_chain(df, chain)
    watermark = p.get("watermark", "1 hour")
    op = p.get("operator")
    dlq_df = None
    if op and op.get("kind") not in (None, "none"):
        # A terminal operator consumes clean OK rows only: dead-letter
        # rows are teed off FIRST (committed by a companion query, see
        # CompiledPipeline.start) — never silently aggregated.
        if chain:
            ok, dlq_df = stage_mod.split_ok_dlq(df)
            df = ok
        df = df.drop(stage_mod.STATUS_COL, stage_mod.ERROR_COL, stage_mod.ATTRS_COL)
        df = _apply_operator(df, op, watermark)
    elif df.isStreaming and p.get("watermark"):
        df = with_watermark(df, watermark)

    # sink registry (≙ sink adapter registry, sink/adapter.go:10-31;
    # multiple sinks fan out under ONE commit, runner.go:192-198 /
    # compiler.go:69-98). Spec: a single `sink:` block or a `sinks:`
    # list; the first idempotent-parquet sink is the primary (exposed
    # for reads and as the DLQ anchor).
    sink_specs = p.get("sinks") or ([p["sink"]] if p.get("sink") else [])
    sink = None
    dlq_sink = None
    writers = []
    for s in sink_specs:
        kind = s.get("kind", "idempotent-parquet")
        if kind == "idempotent-parquet":
            key_cols = tuple(s.get("key_cols", ("conv_id", "turn_idx")))
            w = IdempotentSink(base_dir=s["path"], key_cols=key_cols)
            if sink is None:
                sink = w
            writers.append(w)
        elif kind in ("console", "stdout"):
            writers.append(
                StdoutSink(
                    max_rows=s.get("max_rows", 20),
                    truncate=s.get("truncate", 60),
                    delay_ms=s.get("delay_ms", 0),
                )
            )
        elif kind == "kafka":
            writers.append(kafka_batch_writer(s["bootstrap"], s["topic"]))
        elif kind == "rollup":
            # continuous-aggregate sink (exactly-once generation fold):
            #   sinks:
            #     - kind: rollup
            #       path: /path/to/rollup
            #       keys: [role]
            #       value_col: value
            #       distinct_col: conv_id     # optional HLL
            #       hist: [0, 512, 128]       # optional percentiles
            from quanta_spark.sinks.rollup import RollupSink

            hist = s.get("hist")
            writers.append(
                RollupSink(
                    base_dir=s["path"],
                    keys=tuple(s.get("keys", ("role",))),
                    value_col=s.get("value_col", "value"),
                    distinct_col=s.get("distinct_col"),
                    hist=tuple(hist) if hist else None,
                )
            )
        else:
            raise ValueError(f"unknown sink kind {kind!r}")
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

    trigger_spec = p.get("trigger", "available_now")
    trigger: dict[str, Any]
    if trigger_spec == "available_now":
        trigger = {"available_now": True}
    elif isinstance(trigger_spec, dict) and set(trigger_spec) == {"processing_time"}:
        trigger = {"processing_time": trigger_spec["processing_time"]}
    elif trigger_spec == {}:
        trigger = {}
    else:
        # a typo such as "availablenow" must not turn a one-shot drain
        # into a query that never ends
        raise ValueError(
            f"unknown trigger {trigger_spec!r}; use available_now, {{}} "
            "or {processing_time: <interval>}"
        )

    sink_fn = None
    if writers:
        sink_fn = writers[0] if len(writers) == 1 else FanoutSink(*writers)

    return CompiledPipeline(
        name=p.get("name", "quanta_pipeline"),
        df=df,
        sink=sink,
        checkpoint=p.get("checkpoint", "/tmp/quanta_ckpt"),
        trigger=trigger,
        sink_fn=sink_fn,
        dlq_df=dlq_df,
        dlq_sink=dlq_sink,
        stages=chain,
    )
