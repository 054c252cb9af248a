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

from pyspark import SparkContext
from pyspark.sql import SparkSession


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the enclosed block, then restore each
    previous value (unsetting a key that was unset before), also when
    the block raised. Deployment knobs a query scopes to itself (a
    narrow shuffle width for iterative loops over small frames, a state
    store provider, runtime-filter thresholds) must not leak into
    unrelated queries on the shared session."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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
    """Build (or reuse) a SparkSession with the engine's defaults.

    Reusing a running session raises ``RuntimeError`` when an
    ``extra_conf`` key is a static conf whose requested value differs
    from the running context's (an event log, say, cannot be switched
    on after the context started)."""
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
        # generated-code cache (static: read once, at the JVM's first
        # codegen). A warm headline pass needs about 310 whole-stage
        # classes; Spark's default of 100 evicted all of them, so every
        # pass recompiled them. 1000 holds the set (measured).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # local-mode hygiene
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(filter(None, [_PACKAGE_PARENT, conf.get(key)]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    reused = SparkContext._active_spark_context is not None
    spark = builder.getOrCreate()
    if reused:
        # a reused session keeps its context's static confs, whatever
        # spark.conf.get reports afterwards
        running = spark.sparkContext.getConf()
        dropped = sorted(
            k
            for k in extra_conf or {}
            if not spark.conf.isModifiable(k) and running.get(k) != conf[k]
        )
        if dropped:
            raise RuntimeError(
                "get_spark reused a running session; these static confs differ "
                f"from it and cannot take effect: {', '.join(dropped)}"
            )
    return spark
