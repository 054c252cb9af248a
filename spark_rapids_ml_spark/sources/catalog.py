"""Table catalog over the driver-generated testdata.

Loads the ten synthetic tables (TESTDATA.md) as DataFrames and/or
temp views. All reads are ``spark.read.schema(s).parquet`` so Catalyst
keeps predicate pushdown, column pruning, and partition pruning —
at 100 TB these tables would be directories of many files (possibly
partitioned by date); nothing here assumes single-file layout.

The schema ``s`` comes from one memo (``table_schema``): Spark infers
a parquet schema with a job of its own (108 ms median against 21 ms for
a read given its schema, at sf0.001), so each path's schema is inferred
once and reused while the key it was inferred under holds: the
``(mtime_ns, size)`` of every data file one recursive walk of the path
finds (``_data_files``, also the walk ``_source_bytes`` sums), and the
values of the confs the parquet schema converter reads
(``SCHEMA_CONFS``). The memo holds one entry per path; a changed key
replaces it. A first read and a repeat read build the same reader, so
their plans are identical.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always safe to broadcast (bounded size even
# at 100 TB scale-factor: region=5 rows, nation=25 rows).
ALWAYS_BROADCAST = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# WeakSet, not id()-keyed: a garbage-collected session's id can be
# reused by a NEW session object, which would then silently skip
# tuning; weak references track identity without pinning the session.
_TUNED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _tune_session(spark: SparkSession) -> None:
    """Runtime-settable execution defaults applied once per session.

    Declared queries run on *caller-provided* sessions (the oracle
    driver builds its own); these confs make the plans adaptive
    regardless of how that session was built: AQE coalesces the
    shuffle width to the data (a session default of 200 partitions is
    pure task overhead at sf0.01 and far too few at 100 TB), and Arrow
    serves every pandas/toPandas boundary.

    PUBLIC CONTRACT: these conf changes (AQE family, Arrow, and the
    UTC session timezone set in load()) are applied to the caller's
    session and deliberately NOT restored afterward — queries from
    this package assume them for the rest of the session. Callers who
    need their previous values back must snapshot and restore them.
    """
    if spark in _TUNED_SESSIONS:
        return
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked down — keep the caller's choice
            pass
    _TUNED_SESSIONS.add(spark)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The confs Spark's parquet schema converter reads: a schema inferred
# under one set of values is not the schema under another (nanosAsLong
# turns timestamp[ns] into bigint, caseSensitive changes which columns
# merge, ...).
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

# path -> (key it was inferred under, schema); one entry per path. Two
# threads racing on one path both infer it and the last store wins; a
# stored key older than the files is re-inferred at the next read.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``.`` names and ``_`` names (``_SUCCESS``,
    ``_delta_log``) are not data, except a ``_``-led ``key=value``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[tuple[str, os.stat_result]]:
    """``(path, stat)`` of every data file behind a table path: the file
    itself, or every file one recursive walk of a directory finds
    (``key=value`` partition directories included), in a stable order."""
    if not os.path.isdir(path):
        return [(path, os.stat(path))]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                p = os.path.join(root, f)
                out.append((p, os.stat(p)))
    return out


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    path and key (module docstring). A path that is not local is
    inferred on every call."""
    try:
        files = tuple((p, st.st_mtime_ns, st.st_size) for p, st in _data_files(path))
    except OSError:  # not a local path: Spark lists it
        return spark.read.parquet(path).schema
    key = (files, tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (key, schema)
    return schema


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` given its memoized schema."""
    return spark.read.schema(table_schema(spark, path)).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    _tune_session(spark)
    # declared queries define UTC semantics for every tz-dependent
    # expression (unix_timestamp, date_format over converted event
    # times); pin it so results don't depend on the caller's session TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # The generator has shipped ts as either timestamp[ns] (read as
        # raw longs under nanosAsLong) or timestamp[us] NTZ; normalize
        # both to TIMESTAMP so every declared query sees one type. Set
        # the conf at runtime so the nanos case works on any
        # caller-provided session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(read_table(spark, table_path(sf_dir, name)))
    return read_table(spark, table_path(sf_dir, name))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Surface events.ts as TIMESTAMP (UTC instant) regardless of how
    the parquet encodes it:

    - int64 raw nanos (timestamp[ns] under nanosAsLong): integer
      division, not ``/1000 → cast(long)`` — epoch-ns (~1.7e18) exceeds
      double's 2^53 exact range, so the double path rounds by up to
      ±128ns and truncation then lands 1µs low on ~1.6% of rows;
    - TIMESTAMP_NTZ (timestamp[us], isAdjustedToUTC=false): the wall
      time IS the UTC instant by the testdata's contract; converted
      via wall-clock micros-since-epoch arithmetic, which is
      session-timezone-independent (no conf read, no conf mutation);
    - TIMESTAMP: already normalized.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # A bare NTZ->TIMESTAMP cast reinterprets the wall time in the
        # session timezone, so it is only correct under UTC — and
        # setting the timezone here would mutate global session state
        # under callers that deliberately run non-UTC. Instead compute
        # the instant timezone-independently: wall-time micros since
        # the NTZ epoch ARE the UTC epoch micros by the testdata's
        # contract (the wall time IS the UTC instant), and
        # timestampdiff on NTZ operands is pure wall-clock arithmetic.
        return df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


# ------------------------------------------------ gated scan widening

# Hash-repartition keys for fact tables (unique or near-unique, so the
# spread is even at any scale); dimension tables broadcast instead.
WIDEN_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}

# Below this source size the exchange costs more than the single-task
# scan it parallelizes. Callers whose per-row work is expression-heavy
# (shingling, per-token hashing) pass a lower floor.
WIDEN_MIN_BYTES = 4 << 20


def _source_bytes(path: str) -> int:
    """Data bytes behind a table path: the file's size, or — for a
    directory layout — the sum of its data files' sizes, partition
    subdirectories included (``_data_files``, the schema memo's walk).
    ``os.path.getsize`` on a directory returns the inode size (~4 KiB),
    which would silently veto widening for exactly the multi-file
    layouts the module docstring promises to handle."""
    return sum(st.st_size for _, st in _data_files(path))


def load_wide(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_bytes: int = WIDEN_MIN_BYTES,
) -> DataFrame:
    """``load()`` + repartition to the session's core count when the
    scan is under-parallelized.

    The optimization-guide §2.5 "unsplittable input" fix: this
    testdata ships each table as ONE parquet file with ONE row group,
    so every scan stage is a single task and all map-side work (joins
    against broadcast dims, partial aggregation, shingling/hashing)
    runs on one core regardless of the session's size — measured 1.5s
    single-task stages at sf0.1 on local[32]. One hash exchange on the
    table's key spreads that work across the session.

    Scale-adaptive by construction, not tuned for local mode: when the
    source already provides at least half the session's parallelism
    (many files / row groups — the 100 TB layout), or is too small for
    the exchange to pay for itself, this is exactly ``load()``.
    """
    df = load(spark, sf_dir, name)
    key = WIDEN_KEYS.get(name)
    if key is None:
        return df
    return widen_frame(df, key, table_path(sf_dir, name), min_bytes=min_bytes)


def widen_frame(
    df: DataFrame,
    key_col: str,
    source_path: str,
    min_bytes: int = WIDEN_MIN_BYTES,
) -> DataFrame:
    """The load_wide gate for DERIVED frames (projections/unions of a
    loaded table): hash-repartition on ``key_col`` to the session's
    parallelism when the frame is under-parallelized AND the
    underlying source at ``source_path`` is big enough for the
    exchange to pay for itself. Same scale-adaptive contract as
    load_wide — a no-op at many-file layouts and below the floor."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = df.rdd.getNumPartitions()
        size = _source_bytes(source_path)
    except Exception:  # path/planner oddity — widening is optional
        return df
    if n_parts * 2 >= target or size < min_bytes:
        return df
    return df.repartition(target, df[key_col])


def warehouse_dir(spark: SparkSession) -> str:
    """The session's managed-table warehouse directory as a local path."""
    return spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").replace(
        "file:", ""
    )


def reset_managed_table(spark: SparkSession, table: str) -> None:
    """Drop the managed table ``db.name`` and delete its warehouse
    directory before a rebuild. The in-memory catalog is per-session,
    so a directory left by a previous session would make saveAsTable
    fail; the DROP comes first so a still-registered catalog entry
    never outlives its data files (a dangling entry would fail on read
    instead of a clean table-not-found)."""
    import shutil

    db, name = table.split(".")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(
        os.path.join(warehouse_dir(spark), f"{db}.db", name), ignore_errors=True
    )
