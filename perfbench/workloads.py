"""The benchmark workloads and their output self-checks.

Each workload builds its pipeline from a spec with
``plans.pipeline.compile_pipeline``, starts it with
``streaming.engine.start_pipeline`` and drains it the way
``run_to_completion`` does. A pass is one run of the workload: a main
phase, then a few stop-and-resume cycles on the same checkpoint, each
fed files held back from the main phase.

- ingest_openloop: redact_pii map + pandas batch_fn stage into
  IdempotentSink on the default trigger; an open-loop generator writes
  one fixed-size file per 1/rate seconds.
- composite_drain: a backlog through reply_sessions (stream-stream join
  then session windows) into a digest sink; half the files, then the
  other half in parts, the last with a watermark heartbeat.
- turn_order_drain: a heavily disordered backlog through turn_order
  (applyInPandasWithState) into IdempotentSink in a few large batches;
  the last files arrive over the resumes. Not in BENCHMARK.json (see
  the README), but runnable by name.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql.streaming.listener import StreamingQueryListener

import inputs as inp
from common import RssSampler, Tracer, cores_between, cpu_jiffies, dir_bytes, median, percentile

#: how many times set-up compiles, starts and stops the pipeline;
#: setup_s counts the median round
SETUP_ROUNDS = 3

UPPER_STAGE = "perfbench_upper"


# ---------------------------------------------------------------------------
# sinks and the progress listener
# ---------------------------------------------------------------------------


class TimedSink:
    """foreachBatch wrapper: records when each call for a batch id
    started and returned (a replayed batch overwrites its entry) and,
    when tracing, a ``sink_call`` span."""

    def __init__(self, fn, tracer: Tracer) -> None:
        self.fn, self.tracer = fn, tracer
        self.calls: dict[int, tuple[float, float]] = {}
        self.failed = 0

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        try:
            self.fn(df, batch_id)
        except Exception:
            self.failed += 1
            raise
        t1 = time.time()
        self.calls[batch_id] = (t0, t1)
        self.tracer.add("sink_call", t0, t1, batch=batch_id)

    def first_return_after(self, t: float) -> float | None:
        ends = [e for s, e in self.calls.values() if s >= t]
        return min(ends) if ends else None


class DigestSink:
    """Keeps one 64-bit hash per output row, by batch id (a replayed
    batch replaces its entry), so the output can be compared with the
    batch result as a multiset without writing it anywhere."""

    def __init__(self) -> None:
        self.hashes: dict[int, list[int]] = {}

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        rows = df.select(F.xxhash64(*df.columns).alias("h")).collect()
        self.hashes[batch_id] = [r.h for r in rows]

    def all_hashes(self) -> list[int]:
        return [h for b in sorted(self.hashes) for h in self.hashes[b]]


class ProgressLog(StreamingQueryListener):
    """Keeps every query progress event it receives; ``for_runs``
    selects those of the given query runs."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        rec = json.loads(event.progress.json)
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_runs(self, run_ids: set[str]) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["runId"] in run_ids]


# ---------------------------------------------------------------------------
# self-checks (pure pandas, so a planted error can be tested without Spark)
# ---------------------------------------------------------------------------

KEYS = ["conv_id", "turn_idx"]


@dataclass
class CheckResult:
    missing: int = 0
    extra: int = 0
    wrong: int = 0
    dlq_rows: int = 0
    failed_batches: int = 0
    out_rows: int = 0

    @property
    def failed(self) -> int:
        return self.missing + self.extra + self.wrong + self.dlq_rows + self.failed_batches


def compare_keyed(expected: pd.DataFrame, output: pd.DataFrame, cols: list[str]) -> CheckResult:
    """Rows keyed on (conv_id, turn_idx): duplicates and unknown keys
    are extra, absent keys missing, and a key whose ``cols`` differ is
    wrong."""
    res = CheckResult()
    dup = output.duplicated(KEYS)
    res.extra += int(dup.sum())
    m = expected[KEYS + cols].merge(
        output.loc[~dup, KEYS + cols], on=KEYS, how="outer", indicator=True, suffixes=("_e", "_o")
    )
    res.missing += int((m["_merge"] == "left_only").sum())
    res.extra += int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    bad = pd.Series(False, index=both.index)
    for c in cols:
        bad |= both[f"{c}_e"].astype(str) != both[f"{c}_o"].astype(str)
    res.wrong += int(bad.sum())
    return res


def compare_multiset(expected: list[int], output: list[int]) -> CheckResult:
    """Order-independent row hashes; a row present on both sides with a
    different value shows as one missing plus one extra hash, which is
    counted once as wrong."""
    exp, out = Counter(expected), Counter(output)
    missing = sum((exp - out).values())
    extra = sum((out - exp).values())
    wrong = min(missing, extra)
    return CheckResult(missing=missing - wrong, extra=extra - wrong, wrong=wrong)


def order_violations(output: pd.DataFrame) -> int:
    """Rows emitted in an earlier batch than the turn before them in the
    same conversation: turn order across batches is the operator's
    contract."""
    o = output.sort_values(KEYS)
    prev = o.groupby("conv_id", sort=False)["batch_id"].shift()
    return int((o["batch_id"] < prev).sum())


def redact_upper(text: str) -> str:
    """The expected ingest transform: the PII patterns the redact_pii
    stage uses, then the uppercase batch stage."""
    from quanta_spark.operators.stages import PII_EMAIL_RE, PII_PHONE_RE

    return re.sub(PII_PHONE_RE, "[PHONE]", re.sub(PII_EMAIL_RE, "[EMAIL]", text)).upper()


def _read_inputs(inputs: inp.Inputs, names: list[str]) -> pd.DataFrame:
    return pq.read_table([os.path.join(inputs.dir, n) for n in names]).to_pandas()


# ---------------------------------------------------------------------------
# one pass
# ---------------------------------------------------------------------------


@dataclass
class PassResult:
    latencies_ms: list[float]
    wall_s: float
    turns: int
    peak_rss_mb: float
    busy_cores: float
    steal_cores: float
    check: CheckResult
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)  # diagnostics for the run record

    def end_to_end(self) -> dict[str, float]:
        return {
            "latency_p50_ms": percentile(self.latencies_ms, 50),
            "latency_p90_ms": percentile(self.latencies_ms, 90),
            "throughput_tps": self.turns / self.wall_s,
            "peak_rss_mb": self.peak_rss_mb,
        }


def _files_by_batch_from_source_log(ckpt: str) -> dict[str, int]:
    """File name -> batch id from the file source's own log in the
    checkpoint (``sources/0``; compacted files keep every entry)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


#: the order MicroBatchExecution runs its timed phases in
_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def _rebuild_batch_spans(tracer: Tracer, events: list[dict], parent: int | None) -> None:
    """Per-batch phase spans from query progress, laid end to end from
    the trigger's start in execution order; each ``sink_call`` span is
    re-parented under its batch's addBatch span."""
    add_batch_span: dict[int, int] = {}
    for e in events:
        d = e.get("durationMs") or {}
        start = _iso_epoch(e["timestamp"])
        total = d.get("triggerExecution", 0) / 1000.0
        bid = tracer.add("batch", start, start + total, parent, batch=e["batchId"])
        t = start
        for ph in _PHASES:
            if ph in d:
                sid = tracer.add(ph, t, t + d[ph] / 1000.0, bid, batch=e["batchId"])
                if ph == "addBatch":
                    add_batch_span[e["batchId"]] = sid
                t += d[ph] / 1000.0
    for s in tracer.spans:
        if s["name"] == "sink_call" and s.get("batch") in add_batch_span:
            s["parent"] = add_batch_span[s["batch"]]


def _engine_layers(events: list[dict]) -> dict[str, float]:
    d = [e.get("durationMs") or {} for e in events]
    ops = [e.get("stateOperators") or [] for e in events]

    def s_sum(key: str) -> float:
        return float(sum(o.get(key) or 0 for ev in ops for o in ev))

    def c_sum(key: str) -> float:
        return float(sum((o.get("customMetrics") or {}).get(key) or 0 for ev in ops for o in ev))

    return {
        "engine.batches": len(events),
        "engine.fixed_ms_p50": median([x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d]),
        "engine.planning_ms": median([x.get("queryPlanning", 0) for x in d]),
        "engine.wal_ms": median([x.get("walCommit", 0) for x in d]),
        "engine.commit_ms": median([x.get("commitOffsets", 0) for x in d]),
        "source.offset_ms": median([x.get("latestOffset", 0) for x in d]),
        "source.getbatch_ms": median([x.get("getBatch", 0) for x in d]),
        "source.rows_per_batch_p50": median([e.get("numInputRows", 0) for e in events]),
        "state.rows_end": float(sum(o.get("numRowsTotal") or 0 for o in ops[-1])) if ops else 0.0,
        "state.rows_updated": s_sum("numRowsUpdated"),
        "state.rows_removed": s_sum("numRowsRemoved"),
        "state.rows_late_dropped": s_sum("numRowsDroppedByWatermark"),
        "state.mem_bytes_max": float(max((sum(o.get("memoryUsedBytes") or 0 for o in ev) for ev in ops), default=0)),
        "state.commit_ms": s_sum("commitTimeMs"),
        "state.update_ms": s_sum("allUpdatesTimeMs"),
        "state.removal_ms": s_sum("allRemovalsTimeMs"),
        "state.put_count": c_sum("rocksdbPutCount"),
        "state.bytes_written": c_sum("rocksdbTotalBytesWritten"),
    }


def _backlog_max(visible: dict[str, float], batch_of: dict[str, int], commits: dict[int, tuple[float, float]]) -> int:
    """Largest number of files visible in the watched directory but not
    yet in a committed batch, over every delivery and commit instant."""
    events = [(t, 1) for t in visible.values()]
    for name, b in batch_of.items():
        if b in commits and name in visible:
            events.append((commits[b][1], -1))
    level = peak = 0
    for _, step in sorted(events, key=lambda x: (x[0], -x[1])):
        level += step
        peak = max(peak, level)
    return peak


class Workload:
    name = ""

    # subclass hooks -------------------------------------------------------
    def input_spec(self, seconds: int) -> inp.InputSpec:
        """The timed input, sized so the pass lasts about ``seconds``."""
        raise NotImplementedError

    def pipeline_spec(self, watch: str, sink_dir: str, ckpt: str) -> dict:
        raise NotImplementedError

    def phases(self, files: list[str]) -> list[list[str]]:
        """The main phase's files, then the files held back for each
        stop-and-resume; engine.restart_s is the median over the
        resumes."""
        raise NotImplementedError

    def before_last_resume(self, watch: str, data: inp.Inputs) -> None:
        """Called after the last held-back files land, before the last
        resume."""

    def check(self, spark, data: inp.Inputs, cp, target, plant_wrong_row: bool) -> CheckResult:
        """Compare the committed output with what the operators must
        give on the same input; ``plant_wrong_row`` corrupts one output
        row first, to show the check catches it."""
        raise NotImplementedError

    open_loop = False
    available_now = True
    #: stop-and-resume cycles per pass
    resumes = 3

    # shared ---------------------------------------------------------------
    def _spec(self, body: dict) -> dict:
        return {"schema_version": "v1", "pipeline": {"name": self.name, **body}}

    def register_stages(self, spark, counters=None) -> None:
        """Workloads with a Python batch stage register it here."""

    def setup_round(self, spark, run_dir: str, k: int) -> float:
        """One set-up round: compile the pipeline, start it on an empty
        directory of its own and stop it. Returns its compile time."""
        from quanta_spark.plans.pipeline import compile_pipeline
        from quanta_spark.streaming.engine import run_to_completion, start_pipeline

        base = os.path.join(run_dir, f"setup{k}")
        watch = os.path.join(base, "in")
        os.makedirs(watch)
        t0 = time.perf_counter()
        cp = compile_pipeline(spark, self.pipeline_spec(watch, os.path.join(base, "sink"), os.path.join(base, "ckpt")))
        compile_s = time.perf_counter() - t0
        sink = cp.sink_fn if cp.sink_fn is not None else DigestSink()
        h = start_pipeline(cp.df, sink, cp.checkpoint, query_name=f"{self.name}_setup{k}", trigger_available_now=self.available_now)
        run_to_completion(h)
        return compile_s


class IngestOpenLoop(Workload):
    name = "ingest_openloop"
    open_loop = True
    available_now = False
    # a one-file resume is short and varies more, so take more of them
    resumes = 5
    ROWS_PER_FILE = 250

    def __init__(self, rate: float) -> None:
        self.rate = rate

    def phases(self, files):
        return [files[: -self.resumes]] + [[f] for f in files[-self.resumes :]]

    def input_spec(self, seconds: int) -> inp.InputSpec:
        n_files = int(round(self.rate * seconds)) + self.resumes  # one file per resume
        rows = n_files * self.ROWS_PER_FILE
        return inp.InputSpec(
            n_convs=rows // 4, mean_turns=8, n_files=n_files, rows_per_file=self.ROWS_PER_FILE, pii_frac=0.1
        )

    def pipeline_spec(self, watch: str, sink_dir: str, ckpt: str) -> dict:
        return self._spec(
            {
                "source": {"kind": "parquet-stream", "path": watch, "max_files_per_trigger": None},
                "transformers": ["redact_pii", UPPER_STAGE],
                "sink": {"kind": "idempotent-parquet", "path": sink_dir},
                "checkpoint": ckpt,
                "trigger": {},
            }
        )

    def register_stages(self, spark, counters=None) -> None:
        from quanta_spark.operators import stages

        stages.register(stages.Stage(name=UPPER_STAGE, batch_fn=_upper_fn(counters)))

    def check(self, spark, data, cp, target, plant_wrong_row):
        return _check_keyed(spark, data, cp, plant_wrong_row, transform=redact_upper)


def _upper_fn(counters):
    """The reference's uppercase example as a pandas batch stage. With
    ``counters`` (three Spark accumulators) it also counts calls, rows
    and busy seconds inside the worker."""
    if counters is None:

        def upper(pdf):
            return pdf.assign(text=pdf["text"].str.upper())

        return upper
    calls, rows, busy = counters

    def upper_counted(pdf):
        t0 = time.perf_counter()
        out = pdf.assign(text=pdf["text"].str.upper())
        calls.add(1)
        rows.add(len(pdf))
        busy.add(time.perf_counter() - t0)
        return out

    return upper_counted


class CompositeDrain(Workload):
    name = "composite_drain"
    #: turns per second of --seconds the backlog is sized for
    TURNS_PER_S = 4_000
    N_FILES = 64
    FILES_PER_TRIGGER = 8

    def input_spec(self, seconds: int) -> inp.InputSpec:
        return inp.InputSpec(
            n_convs=max(50, self.TURNS_PER_S * seconds // 16), mean_turns=16, n_files=self.N_FILES, mega_frac=0.02
        )

    def phases(self, files):
        """Half the backlog, then the other half in ``resumes`` parts."""
        half = len(files) // 2
        rest = files[half:]
        step = -(-len(rest) // self.resumes)
        return [files[:half]] + [rest[i : i + step] for i in range(0, len(rest), step)]

    def before_last_resume(self, watch: str, data: inp.Inputs) -> None:
        """A far-future heartbeat moves the watermark past every real
        row, so the last sessions close and state is evicted."""
        import pyarrow.compute as pc

        from quanta_spark.datagen import write_heartbeat_file

        ts = pq.read_table([os.path.join(data.dir, n) for n in data.files], columns=["ts"]).column("ts")
        write_heartbeat_file(watch, pd.Timestamp(pc.max(ts).as_py()) + pd.Timedelta(days=30))

    def pipeline_spec(self, watch: str, sink_dir: str, ckpt: str) -> dict:
        return self._spec(
            {
                "source": {"kind": "parquet-stream", "path": watch, "max_files_per_trigger": self.FILES_PER_TRIGGER},
                "operator": {"kind": "reply_sessions"},
                "checkpoint": ckpt,
            }
        )

    def check(self, spark, data, cp, target, plant_wrong_row):
        """Multiset of row hashes against ``reply_session_stats`` on the
        batch DataFrame of the same files (the heartbeat's own session
        never closes, so it is never output)."""
        from pyspark.sql import functions as F

        from quanta_spark.operators.stateful import reply_session_stats
        from quanta_spark.sources.readers import read_transcripts_batch

        batch = reply_session_stats(read_transcripts_batch(spark, data.dir))
        expected = [r.h for r in batch.select(F.xxhash64(*batch.columns).alias("h")).collect()]
        out = target.all_hashes()
        if plant_wrong_row and out:
            out[0] ^= 1
        res = compare_multiset(expected, out)
        res.out_rows = len(out)
        return res


class TurnOrderDrain(Workload):
    name = "turn_order_drain"
    TURNS_PER_S = 8_000
    N_FILES = 64
    FILES_PER_TRIGGER = 16
    HELD_BACK = 9  # files that arrive after the stops, in ``resumes`` parts

    def input_spec(self, seconds: int) -> inp.InputSpec:
        return inp.InputSpec(
            n_convs=max(50, self.TURNS_PER_S * seconds // 16),
            mean_turns=16,
            n_files=self.N_FILES,
            mega_frac=0.02,
            shuffle_frac=0.5,
        )

    def phases(self, files):
        held = files[-self.HELD_BACK :]
        step = -(-len(held) // self.resumes)
        return [files[: -self.HELD_BACK]] + [held[i : i + step] for i in range(0, len(held), step)]

    def pipeline_spec(self, watch: str, sink_dir: str, ckpt: str) -> dict:
        return self._spec(
            {
                "source": {"kind": "parquet-stream", "path": watch, "max_files_per_trigger": self.FILES_PER_TRIGGER},
                "operator": {"kind": "turn_order"},
                "sink": {"kind": "idempotent-parquet", "path": sink_dir},
                "checkpoint": ckpt,
            }
        )

    def check(self, spark, data, cp, target, plant_wrong_row):
        return _check_keyed(spark, data, cp, plant_wrong_row, ordered=True)


# ---------------------------------------------------------------------------
# the timed pass
# ---------------------------------------------------------------------------


def run_pass(
    wl: Workload, spark, data: inp.Inputs, run_dir: str, tracer: Tracer, plant_wrong_row: bool = False, warm_up: bool = False
) -> PassResult | None:
    """Run one pass of ``wl`` in fresh directories under ``run_dir``
    and check its output. With an enabled tracer it also registers the
    progress listener, counts inside the batch stage and fills
    ``PassResult.layers``. A ``warm_up`` pass only runs: it brings the
    JVM's compiled code to the state a long-running job is in, and is
    neither checked nor reported."""
    from quanta_spark.plans.pipeline import compile_pipeline
    from quanta_spark.streaming.engine import start_pipeline

    traced = tracer.enabled
    watch, sink_dir, ckpt = (os.path.join(run_dir, d) for d in ("in", "sink", "ckpt"))
    os.makedirs(watch)
    counters = listener = None
    if traced:
        sc = spark.sparkContext
        counters = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))
        listener = ProgressLog()
        spark.streams.addListener(listener)
    wl.register_stages(spark, counters)

    pass_id = tracer.new_id() if traced else None
    t_pass = time.time()
    with tracer.span("compile", parent=pass_id):
        cp = compile_pipeline(spark, wl.pipeline_spec(watch, sink_dir, ckpt))
    target = cp.sink_fn if cp.sink_fn is not None else DigestSink()
    sink = TimedSink(target, tracer)

    def start(label: str):
        with tracer.span(label, parent=pass_id):
            return start_pipeline(cp.df, sink, ckpt, query_name=wl.name, trigger_available_now=wl.available_now)

    main, *resumes = wl.phases(data.files)
    run_ids: set[str] = set()
    restarts: list[float] = []
    gen = None
    j0 = cpu_jiffies()
    with RssSampler() as rss:
        if wl.open_loop:
            h = start("start")
            gen = inp.OpenLoopGenerator(data, main, watch, wl.rate, t0=time.time() + 0.2)
            t_main = gen.t0
            gen.start()
            gen.join()
            if gen.error is not None:
                raise gen.error
            due, visible = dict(gen.due), dict(gen.visible)
        else:
            inp.deliver_backlog(data, main, watch)
            t_main = time.time()
            h = start("start")
            due = {n: t_main for n in main}
            visible = dict(due)
        h.process_all_available()
        wall = time.time() - t_main
        run_ids.add(str(h.query.runId))
        h.stop()

        # stop and resume on the same checkpoint, once per held-back part
        for k, part in enumerate(resumes):
            inp.deliver_backlog(data, part, watch)
            if k == len(resumes) - 1:
                wl.before_last_resume(watch, data)
            t_restart = time.time()
            h = start("restart")
            h.process_all_available()
            t_end = time.time()
            run_ids.add(str(h.query.runId))
            h.stop()
            first = sink.first_return_after(t_restart)
            restarts.append((first if first is not None else t_end) - t_restart)
            if not wl.open_loop:
                # a drain times every part; the open loop times its schedule
                wall += t_end - t_restart
                due.update((n, t_restart) for n in part)
                visible.update((n, t_restart) for n in part)
    busy, steal = cores_between(j0, cpu_jiffies())
    tracer.add("pass", t_pass, time.time(), sid=pass_id)
    if warm_up:
        return None

    # latency: file -> the batch that read it -> that batch's sink return
    if wl.open_loop:
        lin = cp.sink.read_lineage(spark).select("batch_id", "src_partition").collect()
        batch_of = {os.path.basename(r.src_partition): int(r.batch_id) for r in lin}
    else:
        batch_of = _files_by_batch_from_source_log(ckpt)
    lat = [(sink.calls[batch_of[n]][1] - due[n]) * 1000.0 for n in due if batch_of.get(n) in sink.calls]
    if not lat:
        raise RuntimeError(f"{wl.name}: no input file reached a committed batch")
    check = wl.check(spark, data, cp, target, plant_wrong_row)
    check.failed_batches += sink.failed

    res = PassResult(
        latencies_ms=lat,
        wall_s=wall,
        turns=data.n_rows,
        peak_rss_mb=rss.peak_mb,
        busy_cores=busy,
        steal_cores=steal,
        check=check,
    )
    res.detail = {"jvm_peak_mb": rss.jvm_peak_kb / 1024.0, "max_procs": rss.max_procs, "restarts_s": restarts}
    if traced:
        res.layers = _collect_layers(
            listener, run_ids, tracer, pass_id, sink, ckpt, sink_dir, counters, gen, data, visible, batch_of, check, busy, steal, restarts
        )
        spark.streams.removeListener(listener)
    return res


def _collect_layers(listener, run_ids, tracer, pass_id, sink, ckpt, sink_dir, counters, gen, data, visible, batch_of, check, busy, steal, restarts) -> dict:
    # progress events reach the listener asynchronously: wait until one
    # has arrived for every batch the sink saw
    deadline = time.time() + 10
    while time.time() < deadline:
        seen = {e["batchId"] for e in listener.for_runs(run_ids)}
        if set(sink.calls) <= seen:
            break
        time.sleep(0.05)
    events = sorted(listener.for_runs(run_ids), key=lambda e: (e["timestamp"], e["batchId"]))
    _rebuild_batch_spans(tracer, events, pass_id)
    layers = _engine_layers(events)
    layers["source.backlog_files_max"] = float(_backlog_max(visible, batch_of, sink.calls))
    calls, rows, busy_s = counters if counters else (None, None, None)
    layers["stages.fn_calls"] = float(calls.value) if calls else 0.0
    layers["stages.fn_rows"] = float(rows.value) if rows else 0.0
    layers["stages.fn_busy_s"] = float(busy_s.value) if busy_s else 0.0
    layers["engine.restart_s"] = median(restarts)
    layers["state.ckpt_bytes_end"] = float(dir_bytes(os.path.join(ckpt, "state")))
    layers["sink.call_ms_p50"] = median([(e - s) * 1000.0 for s, e in sink.calls.values()])
    out_files = [os.path.join(r, f) for r, _, fs in os.walk(sink_dir) for f in fs if not f.startswith(".")]
    layers["sink.files"] = float(len(out_files))
    layers["sink.bytes"] = float(sum(os.path.getsize(f) for f in out_files))
    layers["sink.rows"] = float(check.out_rows)
    layers["sink.dlq_rows"] = float(check.dlq_rows)
    layers["proc.busy_cores"] = busy
    layers["proc.steal_cores"] = steal
    layers["gen.files"] = float(len(data.files))
    layers["gen.rows"] = float(data.n_rows)
    layers["gen.late_ms_max"] = gen.late_ms_max if gen is not None else 0.0
    return layers


def _check_keyed(spark, data: inp.Inputs, cp, plant_wrong_row: bool, transform=None, ordered: bool = False) -> CheckResult:
    """Exact rows of an IdempotentSink keyed on (conv_id, turn_idx)
    against the input (after ``transform`` of the text); with
    ``ordered``, also no turn committed before its predecessor."""
    cols = ["conv_id", "turn_idx", "role", "text", "batch_id"]
    out = cp.sink.read_data(spark).select(*cols).toPandas()
    if plant_wrong_row and len(out):
        out.loc[out.index[0], "text"] = out["text"].iloc[0] + " (planted)"
    expected = _read_inputs(data, data.files)
    if transform is not None:
        expected = expected.assign(text=[transform(t) for t in expected["text"]])
    res = compare_keyed(expected, out, ["role", "text"])
    if ordered:
        res.wrong += order_violations(out)
    res.dlq_rows = int(cp.sink.read_dlq(spark).count())
    res.out_rows = len(out)
    return res


WORKLOADS = ("ingest_openloop", "composite_drain", "turn_order_drain")


def make(name: str, rate: float) -> Workload:
    if name == "ingest_openloop":
        return IngestOpenLoop(rate)
    if name == "composite_drain":
        return CompositeDrain()
    if name == "turn_order_drain":
        return TurnOrderDrain()
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")
