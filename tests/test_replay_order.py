"""Regression tests for streaming file-replay determinism.

Root cause pinned in round 5: Spark's FileStreamSource sorts candidate
files by modification time at MILLISECOND granularity and does NOT
break ties by path, so stream fixture files written or copied within
the same millisecond replay in arbitrary order. A late-timeline chunk
replayed first jumps the watermark days ahead and every earlier chunk
is silently dropped as late BEFORE the stateful operator (observed:
batches with numInputRows>0 and zero state rows updated; whole
conversations lost, unrecoverable by restart). The fixture layer's
contract — mirroring the reference's per-partition ordered delivery,
source/kafka/driver_sarama.go:114-214 — is therefore: every multi-file
write/copy into a stream directory stamps strictly increasing mtimes
in arrival order (datagen.stamp_arrival_order).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from quanta_spark.datagen import (
    GenSpec,
    stamp_arrival_order,
    write_heartbeat_file,
    write_transcripts,
)

from arrival_order import copy_arrival_ordered


def _mtimes(d, names):
    return [os.path.getmtime(os.path.join(d, n)) for n in names]


def test_write_transcripts_stamps_strictly_increasing_mtimes(tmp_workdir):
    d = os.path.join(tmp_workdir, "in")
    write_transcripts(d, GenSpec(n_convs=8, mean_turns=4, seed=1), n_files=16)
    names = sorted(os.listdir(d))
    ts = _mtimes(d, names)
    assert all(b - a >= 1.0 for a, b in zip(ts, ts[1:])), (
        "part files must carry strictly increasing mtimes in arrival "
        f"order (FileStreamSource has no path tiebreak): {ts}"
    )


def test_heartbeat_sorts_after_all_data_regardless_of_name(tmp_workdir):
    d = os.path.join(tmp_workdir, "in")
    write_transcripts(d, GenSpec(n_convs=4, mean_turns=4, seed=2), n_files=4)
    # 'aa-' sorts FIRST by path — the old 'zz-' name assumed a path
    # tiebreak Spark does not honor, so the name must not matter
    hb = write_heartbeat_file(d, pd.Timestamp("2030-01-01"), name="aa-heartbeat")
    data_max = max(
        os.path.getmtime(os.path.join(d, n))
        for n in os.listdir(d)
        if "heartbeat" not in n
    )
    assert os.path.getmtime(hb) > data_max


def test_stamp_arrival_order_repairs_colliding_mtimes(tmp_workdir):
    paths = []
    for k in range(8):
        p = os.path.join(tmp_workdir, f"f{k}.parquet")
        pq.write_table(pa.table({"v": [k]}), p)
        paths.append(p)
    # force the failure mode: every file carries the IDENTICAL mtime
    for p in paths:
        os.utime(p, (1_700_000_000, 1_700_000_000))
    # arrival order deliberately != path order
    arrival = [paths[i] for i in (3, 0, 7, 1, 6, 2, 5, 4)]
    stamp_arrival_order(arrival)
    ts = [os.path.getmtime(p) for p in arrival]
    assert all(b - a >= 1.0 for a, b in zip(ts, ts[1:]))


def test_copy_arrival_ordered_floors_above_existing_files(tmp_workdir):
    src = os.path.join(tmp_workdir, "src")
    dst = os.path.join(tmp_workdir, "dst")
    write_transcripts(src, GenSpec(n_convs=4, mean_turns=4, seed=3), n_files=6)
    names = sorted(os.listdir(src))
    copy_arrival_ordered(src, dst, names[:3])
    first_max = max(_mtimes(dst, names[:3]))
    copy_arrival_ordered(src, dst, names[3:])
    second = _mtimes(dst, names[3:])
    assert min(second) > first_max, (
        "a second copy wave must sort strictly after the first"
    )
    assert all(b - a >= 1.0 for a, b in zip(second, second[1:]))


def test_colliding_mtime_replay_is_arrival_faithful_after_stamp(spark, tmp_workdir):
    """End-to-end pin of the round-5 flake: 6 one-row files whose
    mtimes ALL collide are re-stamped in an arrival order that differs
    from path order; a maxFilesPerTrigger=1 file stream must then
    replay them in exactly that arrival order, one file per batch."""
    from quanta_spark.streaming.engine import start_pipeline

    d = os.path.join(tmp_workdir, "in")
    os.makedirs(d)
    paths = []
    for k in range(6):
        p = os.path.join(d, f"f{k}.parquet")
        pq.write_table(
            pa.table({"file_no": pa.array([k], type=pa.int64())}), p
        )
        paths.append(p)
    for p in paths:  # the collision Spark cannot break by path
        os.utime(p, (1_700_000_000, 1_700_000_000))
    arrival = [3, 0, 5, 1, 4, 2]
    stamp_arrival_order([paths[i] for i in arrival])

    src = (
        spark.readStream.schema("file_no long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    seen: list[int] = []
    h = start_pipeline(
        src,
        lambda b, i: seen.extend(r["file_no"] for r in b.collect()),
        os.path.join(tmp_workdir, "ckpt"),
    )
    h.process_all_available()
    h.stop()
    assert seen == arrival, f"replay order {seen} != arrival order {arrival}"
