"""Benchmark inputs: generated transcript files cached by spec and
seed, and the open-loop generator that delivers them on a schedule.

Every input is a pure function of (workload spec, seed): the cache
directory name carries a hash of both, so a cached copy is reused only
for identical inputs. Files are written with ``quanta_spark.datagen``
and reach a watched directory with mtimes stamped by
``datagen.stamp_arrival_order``: FileStreamSource orders candidate
files by millisecond mtime and breaks no ties, so arrival order has to
be forced.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import CACHE_DIR

#: 1 ms is the FileStreamSource ordering granularity; 2 ms keeps two
#: consecutive files apart even on a clock that rounds.
MTIME_STEP_S = 0.002

_EMAILS = np.array(["ana.lee@example.com", "ops+alerts@corp.example.org", "j_doe@mail.example.net"])
_PHONES = np.array(["+1 (555) 010-4477", "020 7946 0018", "+44 161 496 0000"])


@dataclass(frozen=True)
class InputSpec:
    """What the generator is asked for; hashed into the cache key."""

    n_convs: int
    mean_turns: int
    n_files: int
    mega_frac: float = 0.0
    shuffle_frac: float = 0.10
    rows_per_file: int = 0  # > 0: fixed-size files cut from the stream head
    pii_frac: float = 0.0  # rows given an email or phone number to redact


@dataclass
class Inputs:
    dir: str
    files: list[str]  # arrival order
    n_rows: int


def _with_pii(df, frac: float, seed: int):
    """Append an email or phone number to ``frac`` of the rows so the
    redaction stage has work to do (deterministic in ``seed``)."""
    if frac <= 0:
        return df
    rng = np.random.default_rng(seed + 7_919)
    pick = rng.random(len(df)) < frac
    kind = rng.random(len(df)) < 0.5
    which = rng.integers(0, 3, len(df))
    text = df["text"].to_numpy(dtype=object).copy()
    for i in np.flatnonzero(pick):
        extra = _EMAILS[which[i]] if kind[i] else _PHONES[which[i]]
        text[i] = f"{text[i]} reach me at {extra}"
    return df.assign(text=text)


def build(name: str, spec: InputSpec, seed: int) -> tuple[Inputs, float]:
    """Return the cached inputs for (spec, seed), generating them on a
    miss. Also returns the seconds this call took (small on a hit)."""
    from quanta_spark import datagen

    key = hashlib.sha256(json.dumps([name, asdict(spec), seed]).encode()).hexdigest()[:12]
    out = os.path.join(CACHE_DIR, f"{name}-s{seed}-{key}")
    marker = os.path.join(out, "_INPUTS.json")
    t0 = time.perf_counter()
    if not os.path.exists(marker):
        gspec = datagen.GenSpec(
            n_convs=spec.n_convs,
            mean_turns=spec.mean_turns,
            seed=seed,
            mega_frac=spec.mega_frac,
            shuffle_frac=spec.shuffle_frac,
            late_frac=0.0,  # nothing beyond the watermark: streaming == batch
        )
        df = datagen.generate(gspec)
        df = _with_pii(df, spec.pii_frac, seed)
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        if spec.rows_per_file:
            df = df.sort_values("arrival_ts", kind="mergesort").reset_index(drop=True)
            need = spec.rows_per_file * spec.n_files
            if len(df) < need:
                raise ValueError(f"{name}: generated {len(df)} rows, need {need}")
            os.makedirs(tmp)
            schema = datagen._ARROW_SCHEMA
            for k in range(spec.n_files):
                part = df.iloc[k * spec.rows_per_file : (k + 1) * spec.rows_per_file]
                pq.write_table(
                    pa.Table.from_pandas(part.drop(columns=["arrival_ts"]), schema=schema, preserve_index=False),
                    os.path.join(tmp, f"part-{k:05d}.parquet"),
                )
            n_rows = need
        else:
            datagen.write_transcripts(tmp, gspec, n_files=spec.n_files, df=df)
            n_rows = len(df)
        files = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        with open(os.path.join(tmp, "_INPUTS.json"), "w") as f:
            json.dump({"files": files, "n_rows": n_rows}, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    gen_s = time.perf_counter() - t0
    with open(marker) as f:
        meta = json.load(f)
    return Inputs(dir=out, files=meta["files"], n_rows=meta["n_rows"]), gen_s


def deliver(src: str, dst_dir: str) -> str:
    """Copy one input file into a watched directory so that a listing
    never sees it half-written or out of order: write under a hidden
    name (file sources skip names starting with '.'), stamp its mtime
    after every file already there, then rename it into view."""
    name = os.path.basename(src)
    tmp = os.path.join(dst_dir, "." + name)
    shutil.copyfile(src, tmp)
    from quanta_spark.datagen import stamp_arrival_order

    stamp_arrival_order([tmp], step=MTIME_STEP_S)
    final = os.path.join(dst_dir, name)
    os.rename(tmp, final)
    return final


def deliver_backlog(inputs: Inputs, names: list[str], dst_dir: str) -> None:
    """Copy a backlog into a directory no running query watches, in
    arrival order (one listing for the whole batch of files)."""
    from quanta_spark.datagen import stamp_arrival_order

    os.makedirs(dst_dir, exist_ok=True)
    paths = []
    for n in names:
        paths.append(os.path.join(dst_dir, n))
        shutil.copyfile(os.path.join(inputs.dir, n), paths[-1])
    stamp_arrival_order(paths, step=MTIME_STEP_S)


class OpenLoopGenerator(threading.Thread):
    """Writes file k at ``t0 + k / rate`` whatever the engine is doing:
    one thread, a fixed schedule, no feedback. Records when each file
    was due, when the write started, and when it became visible."""

    def __init__(self, inputs: Inputs, names: list[str], dst_dir: str, rate: float, t0: float) -> None:
        super().__init__(name="open-loop-generator", daemon=True)
        self.inputs, self.names, self.dst_dir = inputs, names, dst_dir
        self.rate, self.t0 = rate, t0
        self.due: dict[str, float] = {}
        self.started: dict[str, float] = {}
        self.visible: dict[str, float] = {}
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for k, name in enumerate(self.names):
                due = self.t0 + k / self.rate
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.due[name] = due
                self.started[name] = time.time()
                deliver(os.path.join(self.inputs.dir, name), self.dst_dir)
                self.visible[name] = time.time()
        except Exception as exc:  # noqa: BLE001 — surfaced by the caller
            self.error = exc

    @property
    def late_ms_max(self) -> float:
        return max((self.started[n] - self.due[n]) * 1000.0 for n in self.started) if self.started else 0.0
