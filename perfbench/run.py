#!/usr/bin/env python3
"""Streaming benchmark for quanta_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ingest_openloop,
composite_drain, turn_order_drain (see perfbench/README.md). The last
line of stdout is one JSON object:

    {"correct": bool, "attempted": <input turns>, "failed": <bad rows>,
     "metrics": {name: {"value": v, "unit": u}, ...}}

``--trace 0`` reports the end-to-end metrics of one untraced pass.
``--trace 1`` runs an untraced pass and then a traced one on the same
input, reports the per-layer metrics of the traced pass plus the
tracing overhead (traced minus untraced), and writes the spans to
``.bench_out/trace-<run id>.json``. Every run appends its full record,
host evidence included, to ``.bench_out/runs.jsonl``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import common  # noqa: E402

#: a run that has not finished by then is stopped, JVM included
WATCHDOG_S = 170

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_tps": "1/s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "engine.batches": "count",
    "engine.fixed_ms_p50": "ms",
    "engine.planning_ms": "ms",
    "engine.wal_ms": "ms",
    "engine.commit_ms": "ms",
    "engine.restart_s": "s",
    "source.offset_ms": "ms",
    "source.getbatch_ms": "ms",
    "source.rows_per_batch_p50": "count",
    "source.backlog_files_max": "count",
    "stages.fn_calls": "count",
    "stages.fn_rows": "count",
    "stages.fn_busy_s": "s",
    "state.rows_end": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.rows_late_dropped": "count",
    "state.mem_bytes_max": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.put_count": "count",
    "state.bytes_written": "bytes",
    "state.ckpt_bytes_end": "bytes",
    "sink.call_ms_p50": "ms",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.rows": "count",
    "sink.dlq_rows": "count",
    "pipeline.compile_s": "s",
    "session.start_s": "s",
    "proc.busy_cores": "cores",
    "proc.steal_cores": "cores",
    "gen.files": "count",
    "gen.rows": "count",
    "gen.late_ms_max": "ms",
    "trace.spans": "count",
    "trace.overhead_latency_p50_ms": "ms",
    "trace.overhead_wall_s": "s",
    "trace.self_pass_ms": "ms",
    "trace.self_batch_ms": "ms",
    "trace.self_addBatch_ms": "ms",
    "trace.self_sink_call_ms": "ms",
    "trace.self_start_ms": "ms",
    "trace.self_restart_ms": "ms",
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=24.0, help="ingest_openloop files per second")
    ap.add_argument("--plant-wrong-row", action="store_true", help="corrupt one output row before the check")
    return ap.parse_args(argv)


def _watchdog() -> None:
    def fire() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S}s, stopping", file=sys.stderr, flush=True)
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()


def _metric(value: float, unit: str) -> dict:
    if not math.isfinite(value):
        raise ValueError(f"non-finite metric value {value!r}")
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(common.ROOT, "quanta_spark")):
        print("perfbench: no quanta_spark package next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    import workloads as W
    import inputs as inp

    wl = W.make(args.workload, args.rate)
    _watchdog()
    run_id = f"{wl.name}-s{args.seed}-{os.getpid()}"
    data, gen_s = inp.build(wl.name, wl.input_spec(args.seconds), args.seed)
    run_dir = common.make_run_dir(run_id)
    t_pre = time.time()
    spark, session_s = common.start_spark(run_dir)
    try:
        rounds, compiles = [], []
        for k in range(W.SETUP_ROUNDS):
            wl.register_stages(spark)
            t0 = time.perf_counter()
            compiles.append(wl.setup_round(spark, run_dir, k))
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        # the warm-up pass runs the first half of the same input
        warm = inp.Inputs(data.dir, data.files[: len(data.files) // 2], 0)
        W.run_pass(wl, spark, warm, os.path.join(run_dir, "warm"), common.Tracer(run_id, False), warm_up=True)
        warm_s = time.perf_counter() - t0
        # process start to session start, minus input generation, then
        # the session, the median set-up round and the warm-up pass
        setup_s = (t_pre - T_PROCESS - gen_s) + session_s + common.median(rounds) + warm_s

        untraced = W.run_pass(wl, spark, data, os.path.join(run_dir, "pass0"), common.Tracer(run_id, False), args.plant_wrong_row)
        passes = [untraced]
        e2e = dict(untraced.end_to_end(), setup_s=setup_s)
        record = {
            "run": run_id,
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": common.NPROC,
            "gen_s": gen_s,
            "setup_rounds_s": rounds,
            "session_start_s": session_s,
            "warm_pass_s": warm_s,
            "untraced": e2e,
            "host": {"busy_cores": untraced.busy_cores, "steal_cores": untraced.steal_cores},
            "latency_samples": len(untraced.latencies_ms),
            "detail": untraced.detail,
        }
        if args.trace:
            tracer = common.Tracer(run_id, True)
            traced = W.run_pass(wl, spark, data, os.path.join(run_dir, "pass1"), tracer, args.plant_wrong_row)
            passes.append(traced)
            t_e2e = traced.end_to_end()
            layers = dict(traced.layers)
            layers["pipeline.compile_s"] = common.median(compiles)
            layers["session.start_s"] = session_s
            layers["trace.spans"] = float(len(tracer.spans))
            layers["trace.overhead_latency_p50_ms"] = t_e2e["latency_p50_ms"] - e2e["latency_p50_ms"]
            layers["trace.overhead_wall_s"] = traced.wall_s - untraced.wall_s
            self_t = tracer.self_times()
            for name in ("pass", "batch", "addBatch", "sink_call", "start", "restart"):
                layers[f"trace.self_{name}_ms"] = self_t.get(name, 0.0) * 1000.0
            record["traced"] = t_e2e
            record["layers"] = layers
            tracer.write(os.path.join(common.OUT_DIR, f"trace-{run_id}.json"))
            metrics = {k: _metric(float(layers[k]), u) for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: _metric(float(e2e[k]), u) for k, u in E2E_UNITS.items()}
        checks = [p.check for p in passes]
        failed = sum(c.failed for c in checks)
        result = {
            "correct": failed == 0,
            "attempted": sum(p.turns for p in passes),
            "failed": failed,
            "metrics": metrics,
        }
        record["checks"] = [c.__dict__ for c in checks]
    finally:
        common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(common.OUT_DIR, exist_ok=True)
    with open(os.path.join(common.OUT_DIR, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(
        f"perfbench {wl.name} seed={args.seed}: "
        + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items())
        + f"; busy={untraced.busy_cores:.2f} steal={untraced.steal_cores:.2f} cores; failed={failed}",
        file=sys.stderr,
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 — report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
