"""Exactly-once idempotent sink with per-partition commit lineage.

The reference achieves (at best) at-least-once: sinks ack frames, a
contiguous-prefix tracker advances the committable Kafka offset, and
a rebalance redelivers anything unacked (source/kafka/checkpoint.go:
17-62, driver_sarama.go:100-112,178-211). Structured Streaming gives
the same replay model (offset log + commit log per micro-batch); we
upgrade it to exactly-once with an IDEMPOTENT writer: every micro-batch
writes to a location keyed by its ``batch_id``, with mode=overwrite, so
replaying a batch after a crash produces byte-identical output instead
of duplicates. This is the public Spark pattern for exactly-once
``foreachBatch`` (Iceberg/Delta MERGE keyed by batch id is the
cluster-grade variant; parquet-by-batch-dir is the dependency-free one
used here).

Per-partition lineage (the Spark analog of the reference's
CheckpointToken round-trip, frame.proto:9-32) is recorded for every
batch: which source slice (file path, or topic/partition offset range)
the batch covered and how many rows it produced. Tests assert the
reference's contiguity property at batch granularity: no input slice
is missing or processed twice across the whole run, including a forced
mid-stream restart.

Scale note: nothing here collects to the driver except the per-batch
lineage summary (O(#source partitions) rows); data writes are fully
distributed, and AQE inside foreachBatch handles small-batch coalesce.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quanta_spark.operators.stages import ERROR_COL, STATUS_COL, split_ok_dlq


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
    """foreachBatch writer: ``data/`` (OK rows), ``dlq/`` (dead-letter),
    ``lineage/`` (per-partition commit lineage), all partitioned by
    ``batch_id`` and overwritten per batch => replay-safe.

    ``key_cols`` defines the logical primary key (the reference's
    per-frame identity becomes ``(conv_id, turn_idx)``,
    BASELINE.json north_star); within-batch duplicates on the key are
    dropped before writing. ``dropDuplicates`` keeps an arbitrary one
    of them (not the lowest-ts one), so where duplicates differ outside
    the key a replayed batch may keep a different row.

    A batch that arrives already cached (e.g. from ``FanoutSink``) is
    neither persisted nor unpersisted here: a sink releases only the
    cache it created, so the sinks after it in a fan-out still read
    the cached batch.
    """

    base_dir: str
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    batches_seen: list[int] = field(default_factory=list)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.base_dir, "data")

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.base_dir, "dlq")

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.base_dir, "lineage")

    # -- lineage ---------------------------------------------------------
    def _lineage(self, df: DataFrame, batch_id: int) -> DataFrame:
        cols = set(df.columns)
        if "_src_file" in cols:
            # file-source input with lineage column attached by the reader
            # (sources/readers.py): the file IS the partition unit;
            # exactly-once = every file lands in exactly one committed batch.
            grouped = df.groupBy(F.col("_src_file").alias("src_partition")).agg(
                F.lit(0).cast("long").alias("min_offset"),
                (F.count(F.lit(1)) - 1).cast("long").alias("max_offset"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        elif {"partition", "offset"} <= cols:
            # frame-envelope input: real offset ranges per source partition
            # (≙ CheckpointToken{topic,partition,offset}, frame.proto:26-30)
            src = F.concat_ws(
                "/", F.coalesce(F.col("topic"), F.lit("-")), F.col("partition")
            )
            grouped = df.groupBy(src.alias("src_partition")).agg(
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        else:
            # no lineage columns available: whole batch is one unit.
            grouped = df.groupBy(F.lit("batch").alias("src_partition")).agg(
                F.lit(0).cast("long").alias("min_offset"),
                (F.count(F.lit(1)) - 1).cast("long").alias("max_offset"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        return grouped.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "src_partition",
            "min_offset",
            "max_offset",
            "n_rows",
            F.current_timestamp().alias("committed_at"),
        )

    # -- the writer ------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        owns_cache = batch_df.storageLevel == StorageLevel.NONE
        if owns_cache:
            batch_df = batch_df.persist()
        try:
            lineage = self._lineage(batch_df, batch_id)
            ok, dlq = split_ok_dlq(batch_df)
            if self.key_cols and set(self.key_cols) <= set(ok.columns):
                ok = ok.dropDuplicates(list(self.key_cols))
            ok_out = ok.drop(STATUS_COL, ERROR_COL, "_src_file")

            # The three writes are independent actions over the cached
            # batch; run them from a small thread pool so the dlq and
            # lineage commits back-fill the ok write's task tail
            # (guide §2.6). Failure semantics are unchanged: any write
            # error propagates, the batch is NOT committed, and the
            # replay overwrites all three dirs (idempotent).
            def w_ok() -> None:
                # batch-id-keyed overwrite = idempotent on replay
                ok_out.write.mode("overwrite").parquet(
                    os.path.join(self.data_dir, f"batch_id={batch_id}")
                )

            def w_dlq() -> None:
                # coalesce(1): dead-letter rows are rare by design
                # (poison only), but the write's task+commit overhead
                # was paid per CACHED PARTITION (16 schema-only files
                # per clean batch)
                dlq_out = dlq.withColumn("_batch_id", F.lit(batch_id))
                dlq_out.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.dlq_dir, f"batch_id={batch_id}")
                )

            def w_lineage() -> None:
                lineage.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.lineage_dir, f"batch_id={batch_id}")
                )

            with ThreadPoolExecutor(max_workers=3) as pool:
                futures = [pool.submit(w) for w in (w_ok, w_dlq, w_lineage)]
                for f in futures:
                    f.result()
        finally:
            if owns_cache:
                batch_df.unpersist()

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

    def _committed_batch_ids(self) -> list[int]:
        return list_ids(self.data_dir, "batch_id")

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
            d = os.path.join(self.data_dir, f"batch_id={b}")
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
        for g in list_ids(self.base_dir, "gen"):
            if g < prev_gen:
                shutil.rmtree(os.path.join(self.base_dir, f"gen={g}"), ignore_errors=True)
        batch_ids = [b for b in self._committed_batch_ids() if b not in prev_covered]
        if not batch_ids:
            return manifest or {"gen": prev_gen, "covered": []}
        gen = prev_gen + 1
        gen_dir = os.path.join(self.base_dir, f"gen={gen}")
        src = self.read_data(spark)  # old generation + live batch dirs
        total_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for d in ([os.path.join(self.base_dir, f"gen={prev_gen}")] if prev_gen >= 0 else [])
            + [os.path.join(self.data_dir, f"batch_id={b}") for b in batch_ids]
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
    def read_data(self, spark: SparkSession) -> DataFrame:
        """Committed rows = compacted generation (if any) + batch dirs
        beyond its high-water mark; ``batch_id`` is carried as a long
        column either way."""
        manifest = self._read_manifest()
        covered = set(manifest["covered"]) if manifest else set()
        live = [
            os.path.join(self.data_dir, f"batch_id={b}")
            for b in self._committed_batch_ids()
            if b not in covered
        ]
        # mergeSchema: additive schema EVOLUTION across batches (a new
        # column appearing mid-stream) — older batches read the new
        # column as NULL, exactly Iceberg's add-column semantics
        parts = []
        if manifest is not None:
            parts.append(
                spark.read.option("mergeSchema", "true").parquet(
                    os.path.join(self.base_dir, f"gen={manifest['gen']}")
                )
            )
        if live:
            df = (
                spark.read.option("basePath", self.data_dir)
                .option("mergeSchema", "true")
                .parquet(*live)
            )
            parts.append(df.withColumn("batch_id", F.col("batch_id").cast("long")))
        if not parts:
            df = (
                spark.read.option("basePath", self.data_dir)
                .option("mergeSchema", "true")
                .parquet(os.path.join(self.data_dir, "batch_id=*"))
            )
            return df.withColumn("batch_id", F.col("batch_id").cast("long"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def snapshots(self) -> list[int]:
        """Committed batch ids, ascending — each is a consistent
        snapshot boundary for read_data_as_of (Iceberg's snapshot-log
        equivalent under this layout: the batch dirs ARE the snapshots
        and the compaction manifest records which are folded in)."""
        manifest = self._read_manifest()
        covered = set(manifest["covered"]) if manifest else set()
        return sorted(covered | set(self._committed_batch_ids()))

    def read_data_as_of(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Iceberg-style TIME TRAVEL: committed rows as of (<=) a batch
        id. ``batch_id`` survives compaction as a plain column, so
        this is one filter — partition-pruned on live batch dirs and
        predicate-pushed into the compacted generation's parquet; the
        answer is identical before and after compact() (tested)."""
        return self.read_data(spark).filter(F.col("batch_id") <= F.lit(int(batch_id)))

    def read_dlq(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.dlq_dir).parquet(
            os.path.join(self.dlq_dir, "batch_id=*")
        )

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.lineage_dir).parquet(
            os.path.join(self.lineage_dir, "batch_id=*")
        )
