"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[N]`` but every config choice is
made for a real multi-executor cluster at 10^12-turn scale:

- AQE on (runtime partition coalescing + skew-join splitting) so the
  physical plan adapts to the actual shuffle sizes.
- Arrow on: every Python-side transform is a vectorized pandas UDF —
  the reference's per-event gRPC hop (runner.go:142) becomes an
  Arrow batch crossing, never per-row Python.
- RocksDB state store for streaming state (session windows, stateful
  joins, turn-ordering state) so state >> heap is spillable.
- shuffle partitions sized to parallelism, overridable per run.
- UTC session timezone so results compare bit-exactly against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import SparkSession

# RocksDB provider ships with Spark 3.2+; keeps streaming state off-heap
# and spillable — required posture for 10^12-turn state.
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def get_spark(
    app_name: str = "quanta_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` means ``local[*]``. On a real cluster the master is
    taken from the environment (spark-submit) and ``cores`` is ignored.
    """
    env_cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and env_cores:
        cores = int(env_cores)
    master = f"local[{cores}]" if cores else "local[*]"
    n_par = shuffle_partitions or (cores if cores else os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_par))
        .config("spark.default.parallelism", str(n_par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # streaming: local FS checkpoints are fine in tests; on a cluster
        # this must point at durable storage (S3/HDFS) via the pipeline spec.
        .config("spark.sql.streaming.stateStore.compression.codec", "zstd")
        .config("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
        # Stream-stream join state format v3 (Spark 4, RocksDB-only):
        # one state store with virtual column families instead of FOUR
        # stores (keyToNumValues + keyWithIndexToValue per side) per
        # partition — quarters the per-batch store open/commit overhead.
        # Measured reply_join 8.9s -> 6.7s, composite 10.0s -> 8.2s on
        # the sf0.1 bench legs (A/B, same box). Existing checkpoints
        # pin their own version in the offset log, so restarts of old
        # queries are unaffected.
        .config("spark.sql.streaming.join.stateFormatVersion", "3")
        # RocksDB changelog checkpointing: per-batch commits upload the
        # changelog instead of a full snapshot — measured 39.8s -> 30.3s
        # (+31% tps) on the sf0.1 join->session composite, where the
        # ~3s/batch state-commit fixed cost was the main throughput tax.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # parquet scan tuning: at 100 TB the scan must split well.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # stages merge attribute maps; last write wins (reference merges
        # EventMetadata headers the same way, runner.go:104-117)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # InferFiltersFromGenerate turns explode(expensive_array_expr)
        # into a size(...)>0 filter that predicate pushdown then moves
        # BELOW our repartition barrier, re-evaluating the whole array
        # expression single-threaded in the scan stage (measured 18s vs
        # ~1s on the n-gram shingle explode). The inferred filter saves
        # nothing for per-document arrays that are almost never empty.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Only set master when not already running under spark-submit --master.
    if "SPARK_SUBMIT_MASTER" not in os.environ:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


class _PinnedZipImporter(zipimport.zipimporter):
    """A zipimporter whose directory is read once: the archives on a
    Python worker's sys.path do not change during the worker's life."""

    def invalidate_caches(self):
        pass


def pin_zip_directories() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading the
    central directory of every zip archive on ``sys.path``.

    pyspark's worker calls it at the start of every task; on Python
    3.10+ each plain ``zipimporter`` then re-reads its whole archive
    (pyspark.zip, the py4j zip, this package's zip and the 5k-entry
    spark-core jar: about 50 ms per task). Each cached zip finder keeps
    the directory it has already read, and so does each one made later
    (a sub-package dir inside a zip). Called once per worker process,
    from the package's ``__init__``."""
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = _PinnedZipImporter
    hooks = sys.path_hooks
    hooks[:] = [_PinnedZipImporter if h is zipimport.zipimporter else h for h in hooks]


def _ship_package(spark: SparkSession) -> None:
    """Make ``quanta_spark`` importable inside executor Python workers —
    the programmatic equivalent of ``spark-submit --py-files`` and, in
    local mode as on a cluster, the one way a package installed as a
    directory reaches them. Without it any pandas-UDF stage fails with
    ModuleNotFoundError when the driver runs outside the repo root."""
    sc = spark.sparkContext
    if getattr(sc, "_quanta_pkg_shipped", False):
        return
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(pkg_parent):
        # already imported from a zip — i.e. running under a REAL
        # ``spark-submit --py-files pkg.zip``, which distributes the
        # zip to executors itself; nothing to ship
        sc._quanta_pkg_shipped = True
        return
    tmp = tempfile.mkdtemp(prefix="quanta_pyfiles_")
    # not removed after addPyFile: Spark's file server serves this path
    # to every executor that fetches the zip later
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zip_path = shutil.make_archive(
        os.path.join(tmp, "quanta_spark_pkg"),
        "zip",
        root_dir=pkg_parent,
        base_dir="quanta_spark",
    )
    sc.addPyFile(zip_path)
    sc._quanta_pkg_shipped = True
