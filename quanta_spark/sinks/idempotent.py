"""Exactly-once idempotent sink with per-partition commit lineage.

The reference achieves (at best) at-least-once: sinks ack frames, a
contiguous-prefix tracker advances the committable Kafka offset, and
a rebalance redelivers anything unacked (source/kafka/checkpoint.go:
17-62, driver_sarama.go:100-112,178-211). Structured Streaming gives
the same replay model (offset log + commit log per micro-batch); we
upgrade it to exactly-once with an IDEMPOTENT writer: every micro-batch
writes to a location keyed by its ``batch_id`` and replaces whatever an
earlier attempt of that batch left there, so replaying a batch after a
crash produces the same output instead of duplicates. This is the
public Spark pattern for exactly-once ``foreachBatch`` (Iceberg/Delta
MERGE keyed by batch id is the cluster-grade variant;
parquet-by-batch-dir is the dependency-free one used here).

Per-partition lineage (the Spark analog of the reference's
CheckpointToken round-trip, frame.proto:9-32) is derived from the
committed rows, which keep the source slice they came from (file path,
or topic/partition offset): which slices each batch covered and how
many rows it committed. Tests assert the reference's contiguity
property at batch granularity: no input slice is missing or processed
twice across the whole run, including a forced mid-stream restart.

Scale note: nothing here collects to the driver; each batch is one
distributed write, and AQE inside foreachBatch handles small-batch
coalesce.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quanta_spark.operators.stages import (
    ERROR_COL,
    STATUS_COL,
    STATUS_ERROR,
    STATUS_OK,
    ensure_status_cols,
)
from quanta_spark.streaming.engine import PROGRESS_RING

_TIEBREAK = "_dedup_tiebreak"
# when a row's batch was committed: its file's mtime, kept as a column
# once compact() rewrites the row into a generation
_COMMITTED_AT = "_committed_at"


# -- commit-file primitives shared by the sink protocols ----------------
def list_ids(parent: str, prefix: str) -> list[int]:
    """Ascending ids of the ``<prefix>=<int>`` entries under ``parent``
    (the ``batch_id=`` and ``gen=`` directories); [] when ``parent``
    does not exist."""
    if not os.path.isdir(parent):
        return []
    out = []
    for name in os.listdir(parent):
        key, sep, val = name.partition("=")
        if sep and key == prefix:
            try:
                out.append(int(val))
            except ValueError:
                continue
    return sorted(out)


def read_marker(path: str) -> dict | None:
    """A committed JSON marker, or None when none was written yet."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write_marker(path: str, obj: dict) -> None:
    """Write the JSON marker atomically: ``<path>.tmp``, then
    ``os.replace`` — the commit point of each protocol."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


@dataclass
class IdempotentSink:
    """foreachBatch writer: ``data/`` (OK rows) and ``dlq/``
    (dead-letter rows), partitioned by ``batch_id`` and replaced per
    batch => replay-safe.

    Each batch is one write (with AQE, the key dedup's shuffle adds a
    map-stage job): the chained batch is written once, partitioned by
    ``_status``, into ``_staging/batch_id=N``, whose OK and ERROR dirs
    are renamed to ``data/batch_id=N`` and ``dlq/batch_id=N`` after any
    earlier attempt's copies of both are removed. So a ``dlq/`` dir
    exists only for a batch that had dead-letter rows, and a batch with
    no rows leaves no dir. The written files keep ``_src_file`` and
    ``_error``; ``read_data`` projects them away and ``read_lineage``
    groups on them.

    ``key_cols`` defines the logical primary key (the reference's
    per-frame identity becomes ``(conv_id, turn_idx)``,
    BASELINE.json north_star); within-batch duplicates on the key are
    dropped from the OK rows before writing. ``dropDuplicates`` keeps
    an arbitrary one of them (not the lowest-ts one), so where
    duplicates differ outside the key a replayed batch may keep a
    different row. Dead-letter rows are never dropped.
    """

    base_dir: str
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    #: the last PROGRESS_RING batch ids this sink was called with
    batches_seen: list[int] = field(default_factory=list)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.base_dir, "data")

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.base_dir, "dlq")

    # -- the writer ------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        del self.batches_seen[:-PROGRESS_RING]
        df = ensure_status_cols(batch_df).filter(F.col(STATUS_COL).isin(STATUS_OK, STATUS_ERROR))
        if self.key_cols and set(self.key_cols) <= set(df.columns):
            # OK rows share a null tiebreak, so one survives per key;
            # each ERROR row gets its own, so none is dropped
            tiebreak = F.when(F.col(STATUS_COL) == STATUS_ERROR, F.monotonically_increasing_id())
            df = (
                df.withColumn(_TIEBREAK, tiebreak)
                .dropDuplicates([*self.key_cols, _TIEBREAK])
                .drop(_TIEBREAK)
            )
        staging = os.path.join(self.base_dir, "_staging", f"batch_id={batch_id}")
        df.write.mode("overwrite").partitionBy(STATUS_COL).parquet(staging)
        # Publish. Removing both earlier copies first keeps a replayed
        # batch exact: a stale DLQ dir of an earlier attempt goes even
        # when this attempt has no dead-letter rows.
        for status, parent in ((STATUS_OK, self.data_dir), (STATUS_ERROR, self.dlq_dir)):
            dst = os.path.join(parent, f"batch_id={batch_id}")
            shutil.rmtree(dst, ignore_errors=True)
            src = os.path.join(staging, f"{STATUS_COL}={status}")
            if os.path.isdir(src):
                os.makedirs(parent, exist_ok=True)
                os.rename(src, dst)
        shutil.rmtree(staging)

    # -- compaction --------------------------------------------------------
    # Per-batch dirs are the exactly-once unit, but at streaming scale
    # they accumulate small files (10^12 turns => millions of dirs).
    # compact() rewrites all batch dirs <= a high-water batch into one
    # size-targeted generation dir. Commit protocol (crash-safe):
    #   1. write gen=<G> parquet (invisible to readers until step 2);
    #   2. atomically rename _manifest.json.tmp -> _manifest.json
    #      recording {gen, covered: [batch ids]} — THE commit point;
    #   3. delete the covered batch dirs (idempotent; a crash between
    #      2 and 3 leaves extra dirs that readers ignore via the
    #      manifest and the next compact() re-deletes).
    # Readers = compacted generation (if any) + batch dirs beyond it.

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, "_manifest.json")

    def _read_manifest(self) -> dict | None:
        return read_marker(self._manifest_path)

    def compact(self, spark: SparkSession, target_file_bytes: int = 128 << 20) -> dict:
        """Rewrite committed batch dirs into one compacted generation.
        Returns the new manifest. Safe to call repeatedly and safe to
        crash at any point (see commit protocol above).

        The manifest carries the EXPLICIT set of covered batch ids
        (not a high-water mark): DLQ replays commit under negative
        batch ids, so coverage is membership, not an ordering. The
        list grows by one id per compacted micro-batch — metadata-
        scale even at years of batches."""
        manifest = self._read_manifest()
        prev_gen = manifest["gen"] if manifest else -1
        prev_covered = set(manifest["covered"]) if manifest else set()
        # Re-run the post-commit cleanup FIRST (idempotent): a crash
        # between the manifest commit and the deletes leaves covered
        # batch dirs and a stale gen dir behind — readers ignore them
        # via the manifest, but they'd leak forever if compact()
        # early-returned below before re-deleting them.
        for b in prev_covered:
            shutil.rmtree(os.path.join(self.data_dir, f"batch_id={b}"), ignore_errors=True)
        for g in list_ids(self.base_dir, "gen"):
            if g < prev_gen:
                shutil.rmtree(os.path.join(self.base_dir, f"gen={g}"), ignore_errors=True)
        batch_ids = [b for b in list_ids(self.data_dir, "batch_id") if b not in prev_covered]
        if not batch_ids:
            return manifest or {"gen": prev_gen, "covered": []}
        gen = prev_gen + 1
        gen_dir = os.path.join(self.base_dir, f"gen={gen}")
        # exactly the listed batches: one the stream commits from here on
        # is not in the manifest below, so it must stay out of gen=<G>
        prev_dir = os.path.join(self.base_dir, f"gen={prev_gen}")
        prev = [prev_dir] if prev_gen >= 0 else []
        live = [os.path.join(self.data_dir, f"batch_id={b}") for b in batch_ids]
        src = _union([_scan(spark, prev_dir, prev, True), _scan(spark, self.data_dir, live, True)])
        total_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for d in prev + live
            for root, _, files in os.walk(d)
            for f in files
        )
        n_files = max(1, -(-total_bytes // target_file_bytes))
        src.repartition(n_files).write.mode("overwrite").parquet(gen_dir)
        new_manifest = {"gen": gen, "covered": sorted(prev_covered | set(batch_ids))}
        write_marker(self._manifest_path, new_manifest)  # atomic commit point
        # post-commit cleanup (idempotent)
        for b in batch_ids:
            shutil.rmtree(os.path.join(self.data_dir, f"batch_id={b}"), ignore_errors=True)
        if prev_gen >= 0:
            shutil.rmtree(os.path.join(self.base_dir, f"gen={prev_gen}"), ignore_errors=True)
        return new_manifest

    # -- readers (committed data only) ------------------------------------
    def _committed(self, spark: SparkSession, stamp: bool = False) -> DataFrame | None:
        """Every committed row with its internal columns: compacted
        generation + the batch dirs it does not cover; None when
        nothing is committed."""
        manifest = self._read_manifest()
        covered = set(manifest["covered"]) if manifest else set()
        parts = []
        if manifest is not None:
            gen = os.path.join(self.base_dir, f"gen={manifest['gen']}")
            parts.append(_scan(spark, gen, [gen], stamp))
        live = [b for b in list_ids(self.data_dir, "batch_id") if b not in covered]
        paths = [os.path.join(self.data_dir, f"batch_id={b}") for b in live]
        return _union([*parts, _scan(spark, self.data_dir, paths, stamp)])

    def read_data(self, spark: SparkSession) -> DataFrame:
        """Committed rows = compacted generation (if any) + batch dirs
        beyond it; ``batch_id`` is carried as a long column either way.
        Empty, with the DLQ files' columns, before any OK row lands."""
        df = self._committed(spark)
        if df is None:
            df = _empty_like(spark, self._dlq(spark))
        return df.drop("_src_file", ERROR_COL, _COMMITTED_AT)

    def snapshots(self) -> list[int]:
        """Committed batch ids, ascending — each is a consistent
        snapshot boundary for read_data_as_of (Iceberg's snapshot-log
        equivalent under this layout: the batch dirs ARE the snapshots
        and the compaction manifest records which are folded in)."""
        manifest = self._read_manifest()
        covered = set(manifest["covered"]) if manifest else set()
        return sorted(covered | set(list_ids(self.data_dir, "batch_id")))

    def read_data_as_of(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Iceberg-style TIME TRAVEL: committed rows as of (<=) a batch
        id. ``batch_id`` survives compaction as a plain column, so
        this is one filter — partition-pruned on live batch dirs and
        predicate-pushed into the compacted generation's parquet; the
        answer is identical before and after compact() (tested)."""
        return self.read_data(spark).filter(F.col("batch_id") <= F.lit(int(batch_id)))

    def _dlq_ids(self) -> list[int]:
        """Ascending ids of the batches with dead-letter rows."""
        return list_ids(self.dlq_dir, "batch_id")

    def _dlq(
        self, spark: SparkSession, ids: list[int] | None = None, stamp: bool = False
    ) -> DataFrame | None:
        """Dead-letter rows of batches ``ids`` (default: every batch
        with some); None for no batch."""
        ids = self._dlq_ids() if ids is None else ids
        paths = [os.path.join(self.dlq_dir, f"batch_id={b}") for b in ids]
        return _scan(spark, self.dlq_dir, paths, stamp)

    def _drop_dlq(self, ids: list[int]) -> None:
        """Remove the dead-letter rows of batches ``ids`` (idempotent)."""
        for b in ids:
            shutil.rmtree(os.path.join(self.dlq_dir, f"batch_id={b}"), ignore_errors=True)

    def read_dlq(self, spark: SparkSession) -> DataFrame:
        """Dead-letter rows: the data files' columns (``_error`` set)
        plus ``_batch_id``. Empty, with the same columns, when no batch
        had dead-letter rows."""
        df = self._dlq(spark)
        if df is None:
            df = _empty_like(spark, self._committed(spark))
        return df.drop(_COMMITTED_AT).withColumn("_batch_id", F.col("batch_id"))

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """Per-batch commit lineage over the committed rows (data,
        compacted generation included, and DLQ): one row per batch and
        source slice — the file (``_src_file``), the topic/partition
        with its offset range, or the whole batch when the rows carry
        neither — with the rows it committed (after the key dedup: a
        slice whose rows all duplicate another slice's keys is absent,
        an offset range spans the surviving rows only) and when."""
        rows = _union([self._committed(spark, stamp=True), self._dlq(spark, stamp=True)])
        rows = rows if rows is not None else _empty_like(spark, None)
        cols = set(rows.columns)
        count = F.count(F.lit(1))
        lo, hi = F.lit(0), count - 1
        if "_src_file" in cols:
            # file-source input (``_src_file`` from sources/readers.py):
            # the file IS the partition unit; exactly-once = every file
            # lands in exactly one committed batch
            src = F.coalesce(F.col("_src_file"), F.lit("batch"))
        elif {"partition", "offset"} <= cols:
            # frame-envelope input: real offset ranges per source partition
            # (≙ CheckpointToken{topic,partition,offset}, frame.proto:26-30)
            src = F.concat_ws("/", F.coalesce(F.col("topic"), F.lit("-")), F.col("partition"))
            lo, hi = F.min("offset"), F.max("offset")
        else:
            # no lineage columns: the whole batch is one unit
            src = F.lit("batch")
        return rows.groupBy("batch_id", src.alias("src_partition")).agg(
            lo.cast("long").alias("min_offset"),
            hi.cast("long").alias("max_offset"),
            count.alias("n_rows"),
            F.max(_COMMITTED_AT).alias("committed_at"),
        )


def _scan(spark: SparkSession, base: str, paths: list[str], stamp: bool) -> DataFrame | None:
    """Parquet ``paths`` under ``base`` (``batch_id`` as a long
    column); None for no paths. ``stamp`` sets ``_committed_at``:
    the column a compacted generation carries, else each file's
    mtime (only then, as the ``_metadata`` column costs every scan)."""
    if not paths:
        return None
    # mergeSchema: additive schema EVOLUTION across batches (a new
    # column appearing mid-stream) — older batches read the new
    # column as NULL, exactly Iceberg's add-column semantics
    df = spark.read.option("basePath", base).option("mergeSchema", "true").parquet(*paths)
    df = df.withColumn("batch_id", F.col("batch_id").cast("long"))
    if not stamp:
        return df
    mtime = F.col("_metadata.file_modification_time")
    if _COMMITTED_AT in df.columns:
        mtime = F.coalesce(F.col(_COMMITTED_AT), mtime)
    return df.withColumn(_COMMITTED_AT, mtime)


def _empty_like(spark: SparkSession, df: DataFrame | None) -> DataFrame:
    """No rows, with ``df``'s columns (else ``batch_id``, ``_committed_at``)."""
    if df is None:
        return spark.createDataFrame([], f"batch_id long, {_COMMITTED_AT} timestamp")
    return df.limit(0)


def _union(parts: list[DataFrame | None]) -> DataFrame | None:
    parts = [p for p in parts if p is not None]
    union = lambda a, b: a.unionByName(b, allowMissingColumns=True)  # noqa: E731
    return reduce(union, parts) if parts else None
