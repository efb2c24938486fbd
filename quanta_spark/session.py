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

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# RocksDB provider ships with Spark 3.2+; keeps streaming state off-heap
# and spillable — required posture for 10^12-turn state.
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def get_spark(
    app_name: str = "quanta_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    use_rocksdb: bool = True,
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

    # Local-mode package shipping via PYTHONPATH instead of addPyFile:
    # every Python worker TASK calls importlib.invalidate_caches()
    # (pyspark worker_util.setup_spark_files), which rescans the central
    # directory of every cached zipimporter — with the addPyFile'd
    # package zip that measured ~11% of worker wall time on the
    # turn-order leg (sampled stacks: zipimport._read_directory).
    # Exporting the real package dir on PYTHONPATH before the JVM forks
    # gives workers a plain directory import with nothing to rescan.
    # Only possible when THIS call launches the JVM (env is inherited at
    # launch) and the master is local (a remote executor does not share
    # this filesystem) — otherwise _ship_package falls back to the zip.
    from pyspark import SparkContext

    jvm_preexisting = SparkContext._active_spark_context is not None
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ship_via_env = (
        not jvm_preexisting
        and "SPARK_SUBMIT_MASTER" not in os.environ
        and master.startswith("local")
        and os.path.isdir(pkg_parent)
    )
    if ship_via_env:
        pp = os.environ.get("PYTHONPATH", "")
        if pkg_parent not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_parent + (os.pathsep + pp if pp else "")
            )

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
    if use_rocksdb:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", _ROCKSDB
        )
        # Stream-stream join state format v3 (Spark 4, RocksDB-only):
        # one state store with virtual column families instead of FOUR
        # stores (keyToNumValues + keyWithIndexToValue per side) per
        # partition — quarters the per-batch store open/commit overhead.
        # Measured reply_join 8.9s -> 6.7s, composite 10.0s -> 8.2s on
        # the sf0.1 bench legs (A/B, same box). Existing checkpoints
        # pin their own version in the offset log, so restarts of old
        # queries are unaffected.
        builder = builder.config(
            "spark.sql.streaming.join.stateFormatVersion", "3"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if ship_via_env:
        # workers import from pkg_parent via the inherited PYTHONPATH
        spark.sparkContext._quanta_pkg_shipped = True
    _ship_package(spark)
    if not jvm_preexisting:
        _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Fork the reusable Python worker pool and import its heavy deps
    (pandas/numpy) once at session build: with worker reuse on (the
    default) the pool then serves every later pandas-UDF/mapInPandas
    query, instead of the FIRST such query paying ~one fork + ~0.5 s of
    imports per core inside its own wall time. One tiny mapInPandas job
    with one row per core."""
    n = spark.sparkContext.defaultParallelism

    def _imp(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    try:
        (
            spark.range(0, n, 1, n)
            .mapInPandas(_imp, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:  # pragma: no cover - warmup must never fail a session
        pass


def _ship_package(spark: SparkSession) -> None:
    """Make ``quanta_spark`` importable inside executor Python workers —
    the programmatic equivalent of ``spark-submit --py-files``. Without
    this, any pandas-UDF stage fails with ModuleNotFoundError whenever
    the driver script runs outside the repo root (and on any real
    multi-node cluster)."""
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
    zip_path = shutil.make_archive(
        os.path.join(tmp, "quanta_spark_pkg"),
        "zip",
        root_dir=pkg_parent,
        base_dir="quanta_spark",
    )
    sc.addPyFile(zip_path)
    sc._quanta_pkg_shipped = True
