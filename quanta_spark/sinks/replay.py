"""Dead-letter replay: re-process DLQ rows through a (presumably
fixed) stage chain and commit the survivors back to the data sink.

The reference drops failed frames forever (drop+ack on retry
exhaustion, runner.go:147-156); this engine dead-letters them instead,
and replay is the recovery half of that contract.

Replay protocol (crash-safe, idempotent):

1. PLAN: atomically persist ``_replay_manifest.json`` = {rid,
   consumed: [dlq batch ids]} (tmp + rename) BEFORE any write. The
   replay batch id rid = -(max |id| + 1) over the dlq batch ids and
   every negative id already committed to data, compacted ones
   included (a replay that recovered everything leaves a data dir and
   no dlq dir) — negative, so it can never collide with the streaming
   query's ids nor overwrite an earlier replay's rows. Because the
   plan is pinned to a file, a crashed replay re-runs with the SAME
   rid and the SAME input set even though the sink write itself
   creates a new dlq/batch_id=<rid> dir (still-failing rows) — a live
   re-listing would have seen that dir and derived a different rid,
   duplicating the already-recovered rows.
2. WRITE: the sink commits recovered rows under data/batch_id=<rid>
   and still-failing rows under dlq/batch_id=<rid> (idempotent
   batch-dir overwrite).
3. FINALIZE: delete the consumed DLQ batch dirs, then remove the
   manifest. Crash recovery by manifest state:
   - manifest present, ALL consumed dirs present -> crashed before or
     just after step 2; re-running step 2 with the same rid + same
     input overwrites identically.
   - manifest present, SOME consumed dirs missing -> step 2 completed
     (deletes only start after the sink write succeeds); skip straight
     to finalize.
   - no manifest -> no replay in flight; plan fresh.

Accounting invariant preserved: every input row is in exactly one of
data/ or dlq/ after any number of replays or crashes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from quanta_spark.operators import stages as stage_mod
from quanta_spark.sinks.idempotent import IdempotentSink, read_marker, write_marker


def _dlq_batch_ids(sink: IdempotentSink) -> list[int]:
    return sink._dlq_ids()


def _manifest_path(sink: IdempotentSink) -> str:
    return os.path.join(sink.base_dir, "_replay_manifest.json")


def _read_manifest(sink: IdempotentSink) -> dict | None:
    return read_marker(_manifest_path(sink))


def _write_manifest(sink: IdempotentSink, rid: int, consumed: list[int]) -> None:
    write_marker(_manifest_path(sink), {"rid": rid, "consumed": consumed})  # atomic plan commit


def _finalize(sink: IdempotentSink, consumed: list[int]) -> None:
    sink._drop_dlq(consumed)
    try:
        os.remove(_manifest_path(sink))
    except FileNotFoundError:
        pass


def _summary(spark: SparkSession, sink: IdempotentSink, rid: int, attempted: int) -> dict:
    recovered = sink.read_data(spark).filter(F.col("batch_id") == rid).count()
    still = sink.read_dlq(spark).count()
    return {
        "replay_batch_id": rid,
        "attempted": attempted,
        "recovered": recovered,
        "still_failed": still,
    }


def replay_dlq(
    spark: SparkSession,
    sink: IdempotentSink,
    stages: list,
) -> dict:
    """Re-run the sink's dead-letter rows through ``stages`` and commit
    survivors to data. Returns {"replay_batch_id", "attempted",
    "recovered", "still_failed"}."""
    manifest = _read_manifest(sink)
    if manifest is not None:
        rid, consumed = manifest["rid"], manifest["consumed"]
        listed = set(_dlq_batch_ids(sink))
        present = [b for b in consumed if b in listed]
        if set(present) != set(consumed):
            # sink write already committed (deletes run only after it);
            # finish the interrupted finalize and report from the sink.
            _finalize(sink, present)
            out = _summary(spark, sink, rid, attempted=0)
            out["attempted"] = out["recovered"] + sink.read_dlq(spark).filter(
                F.col("batch_id") == rid
            ).count()
            return out
        batch_ids = consumed
    else:
        # Fresh plan: no replay in flight, so every dlq dir (including
        # prior FINALIZED replays' negative ids) is input.
        batch_ids = _dlq_batch_ids(sink)
        if not batch_ids:
            return {
                "replay_batch_id": None,
                "attempted": 0,
                "recovered": 0,
                "still_failed": 0,
            }
        used = batch_ids + [b for b in sink.snapshots() if b < 0]
        rid = -(max(abs(b) for b in used) + 1)

    dlq = sink._dlq(spark, batch_ids)
    attempted = dlq.count()
    if attempted == 0:
        # only empty dirs: clean them up and report a no-op
        _finalize(sink, batch_ids)
        return {
            "replay_batch_id": None,
            "attempted": 0,
            "recovered": 0,
            "still_failed": 0,
        }

    if manifest is None:
        _write_manifest(sink, rid, batch_ids)  # plan BEFORE any write
    src = (
        dlq.drop("_batch_id", "batch_id")
        .withColumn(stage_mod.STATUS_COL, F.lit(stage_mod.STATUS_OK))
        .withColumn(stage_mod.ERROR_COL, F.lit(None).cast("string"))
    )
    out = stage_mod.apply_chain(src, stages)
    sink(out, rid)  # idempotent: same rid on crash-rerun overwrites
    _finalize(sink, batch_ids)
    return _summary(spark, sink, rid, attempted)
