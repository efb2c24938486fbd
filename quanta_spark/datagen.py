"""Deterministic synthetic transcript generator.

Produces the canonical input table of the target spec
(BASELINE.json input_hint): multi-turn conversation transcripts
``(conv_id, turn_idx, role, text, tool, ts)``. Everything is a pure
function of the seed — the same seed yields byte-identical parquet —
because the correctness contract is *exact per-turn text equality*
between the engine's output and a plain-pandas oracle over the same
input (reference semantics: examples/transformers/uppercase/main.go:61-97).

Generation is fully vectorized (numpy) and written with pyarrow; no
Spark needed, so tests can synthesize fixtures cheaply.

Knobs (FIXTURES.md §1):
- heavy-tail conversation sizes, incl. one mega-conversation holding
  ~``mega_frac`` of all turns (skew-handling tests);
- inter-turn gaps with a fraction exceeding the session gap so session
  windows split mid-conversation;
- arrival-order jitter: a fraction of rows delivered out of turn order
  within the watermark horizon, plus a small fraction arriving later
  than the watermark (deterministic late-drop tests);
- output pre-split into ``n_files`` parquet files, in *arrival* order,
  so file-stream tests replay a realistic out-of-order stream one file
  per trigger, and bench parallelism is not input-limited.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = np.array(
    [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
        "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
        "victor", "whiskey", "xray", "yankee", "zulu", "query", "result",
        "table", "join", "stream", "window", "state", "commit", "offset",
    ]
)
_TOOLS = np.array(["search", "code", "browser", "calculator"])
_EPOCH = np.datetime64("2025-01-01T00:00:00", "us")


@dataclass(frozen=True)
class GenSpec:
    n_convs: int = 1000
    mean_turns: int = 16
    seed: int = 42
    mega_frac: float = 0.0        # fraction of ALL turns in one mega-conversation
    session_gap_s: int = 1800     # gap that splits a session (30 min)
    gap_over_frac: float = 0.05   # fraction of inter-turn gaps > session gap
    shuffle_frac: float = 0.10    # rows arriving out of order (within watermark)
    late_frac: float = 0.01      # rows arriving beyond the watermark horizon
    watermark_s: int = 3600       # watermark horizon used by arrival jitter


def generate(spec: GenSpec = GenSpec()) -> pd.DataFrame:
    """Return the transcript table as pandas, in EVENT-TIME order, with
    an extra ``arrival_ts`` column giving the stream delivery order."""
    rng = np.random.default_rng(spec.seed)

    # --- conversation sizes: geometric-ish heavy tail + optional mega conv
    sizes = 1 + rng.geometric(1.0 / spec.mean_turns, size=spec.n_convs)
    sizes = np.minimum(sizes, spec.mean_turns * 12)
    if spec.mega_frac > 0:
        total = int(sizes.sum())
        mega = max(int(total * spec.mega_frac / (1 - spec.mega_frac)), 2)
        sizes[0] = mega
    n = int(sizes.sum())

    conv_ord = np.repeat(np.arange(spec.n_convs), sizes)
    ends = np.cumsum(sizes)
    starts = ends - sizes
    turn_idx = (np.arange(n) - np.repeat(starts, sizes)).astype(np.int32)

    conv_ids = np.char.add("conv-", np.char.zfill(conv_ord.astype("U8"), 8))

    # --- roles: user/assistant alternating; deterministic subset of
    # assistant slots become tool turns.
    role = np.where(turn_idx % 2 == 0, "user", "assistant")
    tool_mask = (turn_idx % 2 == 1) & (rng.random(n) < 0.15)
    role = np.where(tool_mask, "tool", role)
    tool = np.where(tool_mask, _TOOLS[rng.integers(0, len(_TOOLS), n)], None)

    # --- text: 3..24 seeded vocab tokens + a deterministic tag so each
    # row's text is unique and equality failures are diagnosable.
    # Assembled with python-object strings: np.char.* on fixed-width
    # U512 arrays materializes multiple UTF-32 copies (40 GB per pass
    # at 20M rows) — the object path is ~10x leaner and faster.
    n_tok = rng.integers(3, 25, size=n)
    tok_idx = rng.integers(0, len(_VOCAB), size=int(n_tok.sum()))
    toks = _VOCAB[tok_idx]
    bounds = np.cumsum(n_tok)[:-1]
    text = [
        f"{' '.join(body)} [{cid}#{idx}]"
        for body, cid, idx in zip(np.split(toks, bounds), conv_ids, turn_idx)
    ]

    # --- event time: each conversation starts at a seeded offset within
    # a 7-day range; inter-turn gaps 5s..120s, with gap_over_frac of them
    # pushed past the session gap so sessions split mid-conversation.
    conv_start = rng.integers(0, 7 * 86400, size=spec.n_convs).astype(np.int64)
    gaps = rng.integers(5, 120, size=n).astype(np.int64)
    big = rng.random(n) < spec.gap_over_frac
    gaps = np.where(big, spec.session_gap_s + rng.integers(60, 3600, size=n), gaps)
    gaps[np.repeat(starts, sizes) == np.arange(n)] = 0  # first turn: no gap
    # cumulative gap within each conversation
    csum = np.cumsum(gaps)
    base = np.concatenate([[0], csum[ends[:-1] - 1]])
    within = csum - np.repeat(base, sizes)
    ts_s = conv_start[conv_ord] + within
    ts = _EPOCH + (ts_s * 1_000_000).astype("timedelta64[us]")

    # --- arrival order: mostly event-time order; shuffle_frac delayed
    # up to watermark/2; late_frac delayed beyond the watermark.
    delay = np.zeros(n, dtype=np.int64)
    r = rng.random(n)
    shuf = r < spec.shuffle_frac
    delay[shuf] = rng.integers(1, spec.watermark_s // 2, size=int(shuf.sum()))
    late = r > (1 - spec.late_frac)
    delay[late] = spec.watermark_s + rng.integers(60, 3600, size=int(late.sum()))
    arrival = ts + (delay * 1_000_000).astype("timedelta64[us]")

    return pd.DataFrame(
        {
            "conv_id": pd.array(conv_ids, dtype="string"),
            "turn_idx": turn_idx,
            "role": pd.array(role, dtype="string"),
            "text": pd.array(text, dtype="string"),
            "tool": pd.array(tool, dtype="string"),
            "ts": ts,
            "arrival_ts": arrival,
        }
    )


_ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string(), nullable=True),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)


#: spacing between stamped modification times. Spark's FileStreamSource
#: sorts candidate files by mtime at MILLISECOND granularity and does
#: NOT break ties by path (FileStreamSource.fetchAllFiles), so any two
#: stream files written or copied within the same millisecond replay in
#: arbitrary order — a late-timeline chunk running first jumps the
#: watermark and silently late-drops every earlier chunk (root cause of
#: the round-5 test_turn_order_restart failure). 2 s is comfortably
#: above both ms granularity and coarse (1 s) filesystem timestamps.
MTIME_STEP_S = 2.0


def stamp_arrival_order(paths: Sequence[str], step: float = MTIME_STEP_S) -> None:
    """Force strictly increasing modification times on ``paths`` in the
    given (arrival) order, strictly AFTER every other file already
    present in the same directories.

    Every fixture that writes or copies more than one file into a
    streaming source directory — and every single-file append that must
    sort after existing data, e.g. the watermark heartbeat — must call
    this; see :data:`MTIME_STEP_S` for why. This is the file-source
    analog of the reference's per-partition ordered delivery
    (source/kafka/driver_sarama.go:114-214): arrival order is a
    CONTRACT, not a hope.
    """
    if not paths:
        return
    abs_paths = [os.path.abspath(p) for p in paths]
    targets = set(abs_paths)
    floor = 0.0
    for d in {os.path.dirname(p) for p in abs_paths}:
        for name in os.listdir(d):
            f = os.path.join(d, name)
            if f not in targets and os.path.isfile(f):
                floor = max(floor, os.path.getmtime(f))
    base = max(time.time(), floor + step)
    for k, p in enumerate(abs_paths):
        t = base + k * step
        os.utime(p, (t, t))


def copy_arrival_ordered(src_dir: str, dst_dir: str, names: Sequence[str]) -> list[str]:
    """Copy ``names`` from ``src_dir`` into ``dst_dir`` and stamp them
    with strictly increasing mtimes (after anything already in
    ``dst_dir``), preserving list order as arrival order. The restart
    tests use this instead of bare ``shutil.copy`` loops, which collide
    on ms-granularity mtimes (see :func:`stamp_arrival_order`)."""
    import shutil

    os.makedirs(dst_dir, exist_ok=True)
    out = []
    for name in names:
        dst = os.path.join(dst_dir, name)
        shutil.copy(os.path.join(src_dir, name), dst)
        out.append(dst)
    stamp_arrival_order(out)
    return out


def write_transcripts(
    out_dir: str,
    spec: GenSpec = GenSpec(),
    n_files: int = 32,
    keep_arrival_ts: bool = False,
    df: pd.DataFrame | None = None,
) -> str:
    """Write the transcript table as ``n_files`` parquet files in
    ARRIVAL order (file k = k-th slice of the stream), so a file
    source with maxFilesPerTrigger=1 replays the stream faithfully.
    Pass a pre-built ``df`` (from ``generate``) to avoid generating
    twice at large scale. Returns ``out_dir``.
    """
    if df is None:
        df = generate(spec)
    df = df.sort_values("arrival_ts", kind="mergesort").reset_index(drop=True)
    os.makedirs(out_dir, exist_ok=True)
    schema = _ARROW_SCHEMA
    if keep_arrival_ts:
        schema = schema.append(pa.field("arrival_ts", pa.timestamp("us"), nullable=False))
    else:
        df = df.drop(columns=["arrival_ts"])
    chunks = np.array_split(np.arange(len(df)), n_files)
    paths = []
    for k, idx in enumerate(chunks):
        table = pa.Table.from_pandas(
            df.iloc[idx], schema=schema, preserve_index=False
        )
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    stamp_arrival_order(paths)
    return out_dir


HEARTBEAT_CONV = "__heartbeat__"


def write_heartbeat_file(out_dir: str, ts: pd.Timestamp, name: str = "zz-heartbeat") -> str:
    """Append synthetic far-future rows to a stream directory to
    advance the event-time watermark past all real data so append-mode
    windows finalize and stateful timeouts fire at end-of-stream
    (tests/bench drain helper). Filter ``conv_id == HEARTBEAT_CONV``
    out of results.

    TWO rows — one 'user', one 'assistant' — because operators that
    split the stream by role and watermark EACH side (the user/reply
    joins) take the MIN of the per-side watermarks: a single
    'system'-role row reaches neither side and leaves the join
    watermark frozen, so outer-join NULL rows and final state eviction
    never fire (found via the outer join's end-of-stream flush)."""
    row = pd.DataFrame(
        {
            "conv_id": pd.array([HEARTBEAT_CONV] * 2, dtype="string"),
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": pd.array(["user", "assistant"], dtype="string"),
            "text": pd.array(["heartbeat"] * 2, dtype="string"),
            "tool": pd.array([None, None], dtype="string"),
            "ts": pd.to_datetime([ts, ts]).astype("datetime64[us]"),
        }
    )
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(
        pa.Table.from_pandas(row, schema=_ARROW_SCHEMA, preserve_index=False), path
    )
    # Must sort strictly AFTER every data file: FileStreamSource orders
    # by mtime with no path tiebreak, so the historical 'zz-' name
    # prefix guarantees nothing. stamp_arrival_order floors the new
    # mtime above the directory's current max.
    stamp_arrival_order([path])
    return path
