"""SparkSession bootstrap with scale-oriented defaults.

Local tests run on ``local[N]`` but every knob is chosen for the
100 TB / multi-executor case:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) so the same declarative plans survive 1000x data.
- Arrow on for every Python<->JVM columnar hop (pandas_udf,
  mapInPandas — the engine's replacement for the reference's JNI
  batch boundary, RapidsRowMatrix.scala:177-199).
- Shuffle partitions sized for the local run; at cluster scale AQE
  coalesces from a deliberately-high initial number instead.
- Python workers start from ``spark_rapids_ml_spark.worker_daemon``
  (``spark.python.daemon.module``), not ``pyspark.daemon``. Below
  CPython 3.13, ``pyspark.worker_util.setup_spark_files`` makes every
  task re-read the central directory of ``pyspark.zip`` (1,328 files,
  once per zipimporter over it): about 0.2 s per task, even on a reused
  worker. The daemon re-reads an archive only when its
  ``(st_mtime_ns, st_size)`` changed since its last read, then runs
  ``pyspark.daemon.manager()``; forked workers inherit the rule. It is
  active when a UDF sees ``zipimport.zipimporter.invalidate_caches``
  as ``spark_rapids_ml_spark.worker_daemon.invalidate_caches``
  (``tests/test_worker_daemon.py``). The package's parent directory is
  put on the workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``,
  merged with a caller's value), so the daemon starts whatever the
  driver's working directory.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


@contextlib.contextmanager
def clamped_shuffle(spark: SparkSession, n: int):
    """Temporarily clamp spark.sql.shuffle.partitions to ``n``.

    For driver-side iterative algorithms over *small* frames (label
    propagation, Lloyd's iterations): each iteration materializes its
    shuffles, so the session-wide width (sized for the big scans) is
    pure task-scheduling overhead here. AQE coalescing does not cover
    these: localCheckpoint/stateful stages pin the initial width.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)

# local[N] width: SPARK_GRAFT_CPUS, else every core of the host
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
# the directory holding the spark_rapids_ml_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "spark_rapids_ml_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: the 100 TB safety net ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow for all Python UDF traffic ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python workers fork from the stat-gated daemon (module docstring)
        .config("spark.python.daemon.module", "spark_rapids_ml_spark.worker_daemon")
        # broadcast anything under 32 MB (dimension tables)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # timestamps: keep parquet int96-free, stable TZ
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # events.parquet uses timestamp[ns]; Spark reads it as raw nanos
        # (bigint) and sources.catalog converts to timestamp[us]
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode hygiene
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(filter(None, [_PACKAGE_PARENT, conf.get(key)]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
