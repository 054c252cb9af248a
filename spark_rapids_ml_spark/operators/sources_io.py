"""Source/sink surface beyond parquet scans: CSV and JSON read/write
round-trips, parquet sink re-read, in-memory createDataFrame.

Each declared query writes a derived dataset to the repo-local .tmp
sink area, reads it back through the matching source, and returns a
result the DuckDB oracle reproduces from the *original* table — so
the check covers serialization fidelity (types, timestamps, quoting),
not just the transform.

Scale notes: writes go through df.write (distributed, one file per
partition); .repartition(1) appears only to keep the tiny test sinks
tidy — a real 100 TB sink would keep the natural partitioning and/or
partitionBy() on a date column.
"""

from __future__ import annotations

import os

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.plans.profiling import span
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.sources.catalog import load

# <repo>/.tmp/sinks, beside the staging root of streaming/stream_queries.py
SINK_ROOT = os.path.abspath(os.path.join(__file__, "../../../.tmp/sinks"))


def _sink(name: str, sf_dir: str) -> str:
    """The sink dir ``name`` of one dataset: <SINK_ROOT>/<tag>/<name>.
    SINK_ROOT is looked up at call time, so redirecting it moves every
    sink."""
    return os.path.join(SINK_ROOT, sf_dir.strip("/").replace("/", "_"), name)


@register(
    "source_parquet_roundtrip",
    tags=("source", "sink"),
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > 7000
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def source_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink → source round-trip: filter, write, re-read, agg."""
    path = _sink("customer_hot_parquet", sf_dir)
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 7000)
    c.write.mode("overwrite").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "source_csv_roundtrip",
    tags=("source", "sink"),
    oracle="""
SELECT n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
ORDER BY n_name
""",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → schema-explicit CSV read (header, explicit types —
    never inferSchema in production paths)."""
    path = _sink("nation_csv", sf_dir)
    n = load(spark, sf_dir, "nation")
    n.select("n_nationkey", "n_name", "n_regionkey").repartition(1).write.mode(
        "overwrite"
    ).option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(path)
    )
    return back.select("n_name", F.col("n_regionkey").cast("bigint")).orderBy("n_name")


@register(
    "source_json_roundtrip",
    tags=("source", "sink"),
    oracle="""
SELECT r_name, CAST(r_regionkey AS BIGINT) AS r_regionkey
FROM region
ORDER BY r_regionkey
""",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → schema-explicit JSON read."""
    path = _sink("region_json", sf_dir)
    r = load(spark, sf_dir, "region")
    r.repartition(1).write.mode("overwrite").json(path)
    back = spark.read.schema("r_regionkey INT, r_name STRING").json(path)
    return back.select("r_name", F.col("r_regionkey").cast("bigint")).orderBy("r_regionkey")


@register(
    "source_inmemory_createdataframe",
    tags=("source",),
    oracle="""
SELECT b.band, COUNT(*) AS n
FROM customer c
JOIN (VALUES ('low', 0.0, 3000.0), ('mid', 3000.0, 7000.0), ('high', 7000.0, 100000.0))
     b(band, lo, hi)
  ON c.c_acctbal >= b.lo AND c.c_acctbal < b.hi
GROUP BY b.band
ORDER BY b.band
""",
)
def source_inmemory_createdataframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side literal table (createDataFrame) joined to a scan —
    the broadcast-a-config-table pattern (banding, mappings)."""
    bands = spark.createDataFrame(
        [("low", 0.0, 3000.0), ("mid", 3000.0, 7000.0), ("high", 7000.0, 100000.0)],
        ["band", "lo", "hi"],
    )
    c = load(spark, sf_dir, "customer")
    return (
        c.join(
            F.broadcast(bands),
            (c.c_acctbal >= bands.lo) & (c.c_acctbal < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("band")
    )


@register(
    "sink_dynamic_partition_overwrite",
    tags=("sink", "scale"),
    oracle="""
SELECT lang, COUNT(*) AS n,
       CAST(SUM(CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END)
            AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idempotent-upsert ETL primitive: INSERT OVERWRITE of ONLY
    the partitions present in the incoming batch (dynamic partition
    overwrite). A full partitioned write is followed by a corrected
    'en' batch (n_chars + 1000); with partitionOverwriteMode=dynamic
    the rewrite touches just the en directory — every other partition's
    files are untouched, which is what makes per-partition backfills
    retry-safe at 100 TB (a retry replaces exactly its own output).
    The re-read must show the corrected en rows and pristine others.
    """
    import os

    from pyspark.sql import functions as F

    path = _sink("documents_dpo", sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    update = d.where(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        update.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---- Python Data Source API (Spark 4): a custom connector ----------

_SYNTH_N = 20000
_SYNTH_PARTS = 4
_SYNTH_MULT = 2654435761  # Knuth multiplicative-hash constant
_SYNTH_MOD = 1000003


def _make_synthetic_datasource():
    """Build the DataSource class lazily (the pyspark.sql.datasource
    import is only needed when this query runs)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RangeSlice(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _SyntheticRangeReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", _SYNTH_N))
            self.parts = int(options.get("partitions", _SYNTH_PARTS))

        def partitions(self):
            step = -(-self.n // self.parts)  # ceil-div
            return [
                _RangeSlice(lo, min(lo + step, self.n))
                for lo in range(0, self.n, step)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i, i % 16, (i * _SYNTH_MULT) % _SYNTH_MOD)

    class SyntheticRangeDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_range"

        def schema(self):
            return "id bigint, bucket bigint, score bigint"

        def reader(self, schema):
            return _SyntheticRangeReader(self.options)

    return SyntheticRangeDataSource


@register(
    "source_python_datasource",
    tags=("source", "scale"),
    oracle=f"""
SELECT id % 16 AS bucket,
       COUNT(*) AS n,
       CAST(SUM((id * {_SYNTH_MULT}) % {_SYNTH_MOD}) AS BIGINT) AS score_sum
FROM (SELECT unnest(generate_series(0, {_SYNTH_N - 1})) AS id)
GROUP BY bucket
ORDER BY bucket
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4): a
    deterministic synthetic generator that reports its own input
    partitions, so the scan parallelizes like any file source — the
    template for wrapping an internal feed/API no built-in source
    covers. tests/test_plans.py asserts the 4-way split is real.

    Scale: ``partitions()`` is the contract that matters — a custom
    source that returns one partition serializes the whole ingest
    through a single task no matter the cluster size; this one slices
    the keyspace evenly, and each slice generates independently (no
    driver materialization). All-integer rows keep the DuckDB oracle
    exact.
    """
    spark.dataSource.register(_make_synthetic_datasource())
    df = (
        spark.read.format("synthetic_range")
        .option("n", str(_SYNTH_N))
        .option("partitions", str(_SYNTH_PARTS))
        .load()
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("score").cast("bigint").alias("score_sum"),
        )
        .orderBy("bucket")
    )


@register(
    "source_orc_roundtrip",
    tags=("source", "sink"),
    oracle="""
SELECT s_nationkey,
       COUNT(*) AS n_supp,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
WHERE s_acctbal >= 0
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source round-trip: the second columnar format a
    lakehouse ingests besides parquet (Hive-era feeds). Write the
    filtered supplier table as ORC, re-read it, aggregate; the oracle
    reproduces the aggregate from the original parquet, so the check
    covers ORC type fidelity (decimals-as-doubles, strings, ints),
    not just the transform.

    Scale: same distributed write path as the parquet sink — one file
    per partition, predicate pushdown and column pruning work through
    the ORC reader exactly as for parquet.
    """
    path = _sink("supplier_orc", sf_dir)
    s = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") >= 0)
    s.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy(F.col("s_nationkey").cast("bigint").alias("s_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


def _make_jsonl_sink_datasource():
    """Writer-side Python Data Source: JSON-lines sink with a real
    two-phase commit — tasks write to a staging directory and return
    the file path as their commit message; the driver's commit() moves
    only the acknowledged files into the final directory (abort()
    discards staging), so a failed/speculative task can never leak a
    partial file into the sink."""
    import json as _json
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _FileMessage(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, options):
            self.target = options["path"]
            self.staging = os.path.join(self.target, "_staging")

        def write(self, iterator):
            os.makedirs(self.staging, exist_ok=True)
            path = os.path.join(self.staging, f"part-{_uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict()) + "\n")
            return _FileMessage(path)

        def commit(self, messages):
            for m in messages:
                shutil.move(
                    m.path, os.path.join(self.target, os.path.basename(m.path))
                )
            shutil.rmtree(self.staging, ignore_errors=True)

        def abort(self, messages):
            shutil.rmtree(self.staging, ignore_errors=True)

    class JsonlSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options)

    return JsonlSinkDataSource


@register(
    "sink_python_datasource_writer",
    tags=("sink", "scale"),
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_mktsegment = 'BUILDING'
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def sink_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python Data Source writer API (Spark 4) —
    the other half of source_python_datasource's connector story: each
    task streams its partition into a staged JSON-lines file, the
    driver commits acknowledged files only (two-phase commit, so task
    retries/speculation cannot leak partial output), and the check
    re-reads the committed sink and matches the oracle aggregate over
    the original table — write-path fidelity, not just the transform.

    Scale: write() is per-task streaming (no driver materialization,
    one file per partition); the commit protocol is the same
    contract-shape file-committers use at 100 TB (staging + atomic
    publish), expressed through the Python API for feeds no built-in
    sink covers.
    """
    import shutil

    path = _sink("customer_jsonl_pyds", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    spark.dataSource.register(_make_jsonl_sink_datasource())
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    (
        c.select("c_custkey", "c_nationkey", F.col("c_acctbal").cast("double"))
        .write.format("jsonl_sink")
        .mode("append")
        .option("path", path)
        .save()
    )
    back = spark.read.schema("c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE").json(
        path
    )
    return (
        back.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


DV_DELETE_MOD = 9  # orders with o_orderkey % 9 == 0 get deletion-vector entries


@register(
    "sink_merge_on_read_deletes",
    tags=("sink", "scale"),
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_live,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS live_value
FROM orders
WHERE o_orderkey % {DV_DELETE_MOD} <> 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sink_merge_on_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes via a deletion-vector sidecar — the
    lakehouse delete shape (Delta deletion vectors / Iceberg
    positional+equality deletes) expressed on plain parquet: instead of
    rewriting data files to drop rows (copy-on-write, the
    sink_merge_upsert shape), a DELETE writes only the deleted KEYS to
    a small sidecar table, and every read applies the sidecar as an
    anti-join. The base table is written once and never touched by the
    delete; the read reconstructs the live view.

    Scale: a delete of k rows costs O(k) sidecar writes instead of
    rewriting every file containing a match — the difference between a
    GDPR erasure batch finishing in seconds vs rewriting terabytes.
    The read-side anti-join is an equi-join on the table key (AQE
    broadcasts the sidecar while it is small); compaction
    (layout_compaction_rewrite) is the background process that
    eventually folds large sidecars back into data files — the two
    operators together are the full MOR lifecycle.
    """
    import os

    root = _sink("mor_orders", sf_dir)
    base_path, dv_path = os.path.join(root, "base"), os.path.join(root, "deletes")
    o = load(spark, sf_dir, "orders")
    # base write: the immutable data files
    o.write.mode("overwrite").parquet(base_path)
    # DELETE: only the keys travel to the sidecar
    (
        o.where(F.col("o_orderkey") % DV_DELETE_MOD == 0)
        .select("o_orderkey")
        .write.mode("overwrite")
        .parquet(dv_path)
    )
    base = spark.read.parquet(base_path)
    dv = spark.read.parquet(dv_path)
    live = base.join(dv, "o_orderkey", "left_anti")
    return (
        live.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("live_value"),
        )
        .orderBy("o_orderpriority")
    )


SNAP_PRICE_BUMP = 1.10  # v2 restates top-band order prices by +10%


@register(
    "sink_snapshot_time_travel",
    tags=("sink", "scale"),
    oracle=f"""
WITH v1 AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
  FROM orders GROUP BY o_orderpriority
),
v2src AS (
  SELECT o_orderpriority,
         -- restated prices are money: the bump rounds to cents in the
         -- restatement itself (exact decimal, half-away in both engines)
         CASE WHEN o_totalprice > 300000
              THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST({SNAP_PRICE_BUMP} AS DECIMAL(4,2)), 2) AS DOUBLE)
              ELSE o_totalprice END AS price
  FROM orders
),
v2 AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
  FROM v2src GROUP BY o_orderpriority
)
SELECT 1 AS version, o_orderpriority, n, total FROM v1
UNION ALL
SELECT 2 AS version, o_orderpriority, n, total FROM v2
ORDER BY version, o_orderpriority
""",
)
def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel — the lakehouse versioned-read shape
    (Delta VERSION AS OF / Iceberg snapshot-id reads) on plain
    parquet: each commit writes its snapshot under an immutable
    version directory plus a tiny manifest row (version, dir, row
    count), and a reader resolves ANY historical version through the
    manifest — no mutation ever touches a committed snapshot. Version
    2 restates top-band order prices (+10%, exact decimal arithmetic);
    the query reads BOTH versions through the manifest and returns
    their per-priority aggregates side by side, so the hash check pins
    that committing v2 left v1 byte-stable (the time-travel
    guarantee).

    Scale: manifests are O(versions) driver-readable metadata; data
    dirs are immutable so concurrent readers need no locks and a
    version is reproducible forever (the audit/backfill contract).
    Real formats add file-level pruning inside a snapshot — that
    composes with the partitioned/Z-ordered layouts
    (partitioned_write_pruned_read, layout_zorder_buckets) unchanged.
    """
    import os

    root = _sink("snap_orders", sf_dir)
    o = load(spark, sf_dir, "orders")
    v2 = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_totalprice") > 300000,
            F.round(
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit(SNAP_PRICE_BUMP).cast("decimal(4,2)"),
                2,
            ).cast("double"),
        ).otherwise(F.col("o_totalprice")),
    )
    manifest = []
    for version, snap in ((1, o), (2, v2)):
        vdir = os.path.join(root, f"v{version}")
        snap.write.mode("overwrite").parquet(vdir)
        manifest.append((version, vdir))
    (
        local_df(spark, manifest, "version INT, dir STRING")
        .write.mode("overwrite")
        .json(os.path.join(root, "_manifest"))
    )
    # time-travel read: resolve each version through the manifest
    mrows = (
        spark.read.schema("version INT, dir STRING")
        .json(os.path.join(root, "_manifest"))
        .collect()
    )
    out = None
    for r in sorted(mrows, key=lambda r: r["version"]):
        agg = (
            spark.read.parquet(r["dir"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .select(
                F.lit(r["version"]).cast("int").alias("version"),
                "o_orderpriority",
                "n",
                "total",
            )
        )
        out = agg if out is None else out.unionAll(agg)
    return out.orderBy("version", "o_orderpriority")


@register(
    "source_csv_permissive_corrupt",
    tags=("source", "dq"),
    oracle="""
WITH lines AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN doc_id % 7 = 0
              THEN 'bad,' || substr(text, 1, 10)
              ELSE CAST(doc_id AS VARCHAR) || ',' || CAST(n_chars AS VARCHAR) || ',42'
         END AS line
  FROM documents WHERE doc_id <= 400
)
SELECT lang,
       COUNT(*) FILTER (doc_id % 7 != 0) AS n_good,
       COUNT(*) FILTER (doc_id % 7 = 0) AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 7 != 0 THEN n_chars END) AS BIGINT) AS sum_b
FROM lines
GROUP BY lang
ORDER BY lang
""",
)
def source_csv_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingestion under PERMISSIVE mode — the
    dirty-data contract: CSV lines are parsed with from_csv against a
    typed schema with a _corrupt_record column; rows that fail the
    schema (a non-numeric first field here, every 7th doc) land in
    the corrupt column with all data fields NULL instead of failing
    the job, and the query audits good/corrupt counts per group. The
    oracle derives corruptness from the generating rule, so the hash
    pins that PERMISSIVE classifies EXACTLY the malformed rows —
    no false drops, no silent coercions.

    Scale: this is how a 100 TB raw-text ingest survives the 0.001%
    of garbage rows every real feed contains: parse errors become
    data (quarantine-able, countable, alertable) rather than task
    failures; from_csv is JVM codegen, per-row, no Python.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 400)
    line = F.when(
        F.pmod("doc_id", F.lit(7)) == 0,
        F.concat(F.lit("bad,"), F.substring("text", 1, 10)),
    ).otherwise(
        F.concat_ws(",", F.col("doc_id"), F.col("n_chars"), F.lit("42"))
    )
    parsed = d.select(
        "lang",
        F.from_csv(
            line,
            F.lit("a BIGINT, b BIGINT, c BIGINT, _corrupt_record STRING"),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.when(F.col("r._corrupt_record").isNull(), 1)).alias("n_good"),
            F.count(F.when(F.col("r._corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
            F.sum("r.b").cast("bigint").alias("sum_b"),
        )
        .orderBy("lang")
    )


@register(
    "source_text_lines_roundtrip",
    tags=("source", "sink"),
    oracle="""
WITH lines AS (
  SELECT CAST(doc_id AS VARCHAR) || '|' || lang || '|' || CAST(n_chars AS VARCHAR) AS value
  FROM documents
)
SELECT split_part(value, '|', 2) AS lang,
       COUNT(*) AS n,
       CAST(SUM(CAST(split_part(value, '|', 3) AS BIGINT)) AS BIGINT) AS total_chars,
       CAST(MAX(LENGTH(value)) AS BIGINT) AS max_line_len
FROM lines
GROUP BY 1
ORDER BY lang
""",
)
def source_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source/sink roundtrip — the raw-log ingest
    format: structured rows serialized to delimited lines, written
    with the `text` format (one string column = one line), read back
    as lines, and re-parsed with split(). The aggregate over the
    parsed lines must match computing directly from the table — the
    serialize→write→read→parse cycle is lossless for
    delimiter-free fields.

    Scale: text is the format logs actually arrive in at 100 TB;
    the parse is JVM split() (codegen), the lines are splittable by
    newline so the read parallelizes like any file source. (Avro was
    probed for the same roundtrip: pyspark's pip distribution ships
    without the external spark-avro module and the environment
    forbids installs — CSV/JSON/ORC/parquet/text is the available
    matrix.)
    """
    path = _sink("documents_lines", sf_dir)
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        F.concat_ws("|", F.col("doc_id"), F.col("lang"), F.col("n_chars")).alias("value")
    )
    lines.write.mode("overwrite").format("text").save(path)
    back = spark.read.format("text").load(path)
    parts = F.split("value", "\\|")
    return (
        back.select(
            F.element_at(parts, 2).alias("lang"),
            F.element_at(parts, 3).cast("bigint").alias("nc"),
            F.length("value").alias("ll"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nc").cast("bigint").alias("total_chars"),
            F.max("ll").cast("bigint").alias("max_line_len"),
        )
        .orderBy("lang")
    )


@register(
    "source_xml_roundtrip",
    tags=("source", "sink"),
    oracle="""
SELECT s_nationkey,
       COUNT(*) AS n_supp,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML FILE FORMAT roundtrip (Spark 4 built-in, the
    spark-xml lineage): supplier rows written as <row> elements under
    a root tag, read back with rowTag streaming-parse, aggregated —
    the enterprise-feed ingest format, distinct from the
    to_xml/from_xml STRING codec scalar_xml_roundtrip covers. The
    aggregate over the re-read rows must match the source table:
    write→parse is lossless for typed scalar fields.

    Scale: Spark's XML reader splits by row tag, so a directory of
    XML feeds parallelizes like any file source; schema is supplied
    (no inference pass).
    """
    path = _sink("supplier_xml", sf_dir)
    s = load(spark, sf_dir, "supplier")
    (
        s.write.mode("overwrite")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .format("xml")
        .save(path)
    )
    back = (
        spark.read.schema(s.schema)
        .option("rowTag", "supplier")
        .format("xml")
        .load(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


CDF_DELETE_MOD = 13   # v2 drops keys divisible by 13
CDF_UPDATE_MOD = 11   # v2 restates prices on keys divisible by 11
CDF_INSERT_MOD = 7    # v1 lacks keys divisible by 7 (v2 inserts them)
CDF_PRICE_BUMP = 1.05


@register(
    "sink_change_data_feed",
    tags=("sink", "scale", "cdc"),
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey % {CDF_INSERT_MOD} <> 0
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {CDF_UPDATE_MOD} = 0
              THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST({CDF_PRICE_BUMP} AS DECIMAL(4,2)), 2) AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE o_orderkey % {CDF_DELETE_MOD} <> 0
),
d AS (
  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
         v1.o_totalprice AS old_price, v2.o_totalprice AS new_price,
         v1.o_orderkey IS NULL AS ins, v2.o_orderkey IS NULL AS del
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT o_orderkey, change_type, price FROM (
  SELECT o_orderkey, 'insert' AS change_type, new_price AS price FROM d WHERE ins
  UNION ALL
  SELECT o_orderkey, 'delete', old_price FROM d WHERE del
  UNION ALL
  SELECT o_orderkey, 'update_preimage', old_price FROM d
  WHERE NOT ins AND NOT del AND old_price <> new_price
  UNION ALL
  SELECT o_orderkey, 'update_postimage', new_price FROM d
  WHERE NOT ins AND NOT del AND old_price <> new_price
)
ORDER BY o_orderkey, change_type
""",
)
def sink_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two committed snapshots — the lakehouse
    CDC shape (Delta CDF / Iceberg changelog scan): given table
    versions v1 and v2 written as immutable parquet snapshots
    (sink_snapshot_time_travel's layout), emit the row-level change
    stream that transforms v1 into v2 — ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage`` rows keyed on the table
    key, exactly the feed a downstream incremental consumer (a
    materialized view, a search index, a replica) applies. v2 inserts
    the keys v1 lacked (mod-{CDF_INSERT_MOD} band), deletes the
    mod-{CDF_DELETE_MOD} band and restates prices on the
    mod-{CDF_UPDATE_MOD} band (exact-decimal cent rounding), so all
    four change types are populated and hash-pinned.

    Scale: the diff is ONE equi-join on the snapshot key (AQE handles
    skew); unchanged rows are dropped before the UNION fan-out so the
    feed is O(|changes|), not O(|table|). Production formats avoid
    even this join by logging change files at write time — this
    operator is the snapshot-diff fallback every lakehouse also ships
    (Delta's "CDF backfill" path), and partition pruning on the
    snapshot layout restricts the join to partitions whose files
    differ in the manifest (scale_manifest_file_pruning).
    """
    root = _sink("cdf_orders", sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.where(F.col("o_orderkey") % CDF_INSERT_MOD != 0)
    v2 = o.where(F.col("o_orderkey") % CDF_DELETE_MOD != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % CDF_UPDATE_MOD == 0,
            F.round(
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit(CDF_PRICE_BUMP).cast("decimal(4,2)"),
                2,
            ).cast("double"),
        ).otherwise(F.col("o_totalprice")),
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "v2"))
    s1 = spark.read.parquet(os.path.join(root, "v1"))
    s2 = spark.read.parquet(os.path.join(root, "v2"))
    d = (
        s1.withColumnRenamed("o_totalprice", "old_price")
        .join(
            s2.withColumnRenamed("o_totalprice", "new_price"),
            "o_orderkey",
            "full_outer",
        )
        .where(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )
    ins = d.where(F.col("old_price").isNull()).select(
        "o_orderkey", F.lit("insert").alias("change_type"), F.col("new_price").alias("price")
    )
    dele = d.where(F.col("new_price").isNull()).select(
        "o_orderkey", F.lit("delete").alias("change_type"), F.col("old_price").alias("price")
    )
    upd = d.where(F.col("old_price").isNotNull() & F.col("new_price").isNotNull())
    pre = upd.select(
        "o_orderkey", F.lit("update_preimage").alias("change_type"), F.col("old_price").alias("price")
    )
    post = upd.select(
        "o_orderkey", F.lit("update_postimage").alias("change_type"), F.col("new_price").alias("price")
    )
    return ins.unionAll(dele).unionAll(pre).unionAll(post).orderBy("o_orderkey", "change_type")


# composed lakehouse lifecycle: write v1 -> MERGE -> MOR delete ->
# compact -> CDF. Bands are chosen disjoint from the single-stage
# operators' so the stages populate every change type.
LC_UPD_MOD = 7          # MERGE restates prices on keys divisible by 7
LC_INS_MOD = 97         # MERGE inserts a shifted copy of keys divisible by 97
LC_DEL_MOD = 6          # MOR delete drops live keys divisible by 6
LC_KEY_OFFSET = 1_000_000_000  # inserted keys land in a disjoint range
LC_PRICE_BUMP = 1.10


@register(
    "sink_lakehouse_lifecycle",
    bench=True,
    tags=("sink", "scale", "cdc", "composed"),
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
  FROM orders
),
merged AS (
  SELECT k, prio,
         CASE WHEN k % {LC_UPD_MOD} = 0
              THEN CAST(ROUND(CAST(price AS DECIMAL(18,2)) * CAST({LC_PRICE_BUMP} AS DECIMAL(4,2)), 2) AS DOUBLE)
              ELSE price END AS price
  FROM v1
  UNION ALL
  SELECT k + {LC_KEY_OFFSET}, prio, price FROM v1 WHERE k % {LC_INS_MOD} = 0
),
live AS (SELECT * FROM merged WHERE k % {LC_DEL_MOD} <> 0),
d AS (
  SELECT COALESCE(a.k, b.k) AS k, a.k IS NULL AS ins, b.k IS NULL AS del,
         a.price AS old_price, b.price AS new_price
  FROM v1 a FULL OUTER JOIN live b ON a.k = b.k
),
feed AS (
  SELECT k, 'insert' AS change_type, new_price AS price FROM d WHERE ins
  UNION ALL
  SELECT k, 'delete', old_price FROM d WHERE del
  UNION ALL
  SELECT k, 'update_preimage', old_price FROM d
  WHERE NOT ins AND NOT del AND old_price <> new_price
  UNION ALL
  SELECT k, 'update_postimage', new_price FROM d
  WHERE NOT ins AND NOT del AND old_price <> new_price
)
SELECT section, key, n, value_sum, key_sum FROM (
  SELECT 'state' AS section, prio AS key, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS value_sum,
         CAST(SUM(k) AS BIGINT) AS key_sum
  FROM live GROUP BY prio
  UNION ALL
  SELECT 'feed', change_type, COUNT(*),
         CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE),
         CAST(SUM(k) AS BIGINT)
  FROM feed GROUP BY change_type
)
ORDER BY section, key
""",
)
def sink_lakehouse_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full lakehouse table lifecycle COMPOSED end-to-end — every
    stage is an already-green single-stage operator, run here in
    sequence against one table so the hash pins that the stages
    compose (the way pipe_end_to_end_curation does for the curation
    DAG): (1) commit snapshot v1; (2) MERGE (copy-on-write upsert:
    restate the mod-{LC_UPD_MOD} price band +{LC_PRICE_BUMP}x
    cent-rounded, insert a key-shifted copy of the mod-{LC_INS_MOD}
    band) -> snapshot v2; (3) DELETE merge-on-read: the mod-
    {LC_DEL_MOD} band goes to a deletion-vector sidecar, v2's data
    files untouched; (4) COMPACT: fold the sidecar into rewritten
    data files -> snapshot v3, after which the sidecar is retired;
    (5) CDF: diff v1 -> v3 into an insert/delete/update_pre/postimage
    feed, written to a feed sink. The result reads ONLY committed
    artifacts — per-priority aggregates of the compacted v3 files
    (proving compaction preserved the MOR live view) plus per-change-
    type aggregates of the feed files (count, exact-decimal price sum,
    key checksum) — so a single hash locks final state AND feed.
    tests/test_lakehouse_lifecycle.py::test_feed_replay_reproduces_compacted_state
    additionally replays the feed against v1 and checks it reproduces
    v3 row-for-row (v1 + feed = v2 invariant, the contract a downstream
    incremental consumer relies on).

    Scale: each stage is the single-stage operator's plan — MERGE one
    equi-join + rewrite, MOR delete O(k) sidecar writes, compaction
    one anti-join rewrite (run when sidecar ratio passes a threshold),
    CDF one full-outer equi-join dropping unchanged rows before the
    fan-out. Nothing in the composition adds a shuffle the stages
    didn't already have; at 100 TB the stages run as separate jobs
    against the same manifest, which is exactly how this harness
    stages them (immutable v1/v2/v3 dirs + sidecar + feed dir). Each
    stage frame derives from its predecessor's in-memory lineage (a
    parquet round-trip of bigint/double columns is value-exact, so the
    committed files are unchanged), which makes the five commits
    independent jobs — submitted concurrently (guide §2.6) so one
    commit's tail backfills the next instead of serializing five
    write+read-back latencies.
    """
    root = _sink("lakehouse_lifecycle", sf_dir)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )

    # Every stage's FRAME is derived from the in-memory lineage of its
    # predecessor instead of a read-back of the predecessor's files —
    # a parquet round-trip of bigint keys / double prices is
    # value-exact, so the committed artifacts are unchanged (the
    # replay/compaction invariants in tests/test_lakehouse_lifecycle.py
    # run against the files). That turns the five commits from a
    # sequential write->read->write chain into five INDEPENDENT write
    # jobs, submitted from a small thread pool so each commit's
    # single-task tail backfills the others (guide §2.6) — wall clock
    # becomes ~max(stage) instead of sum(stages). The declared result
    # still reads ONLY the committed v3 + feed files below.

    # (1) snapshot v1 = the source frame itself
    # (2) MERGE (copy-on-write upsert) -> v2
    updated = o.withColumn(
        "price",
        F.when(
            F.col("k") % LC_UPD_MOD == 0,
            F.round(
                F.col("price").cast("decimal(18,2)")
                * F.lit(LC_PRICE_BUMP).cast("decimal(4,2)"),
                2,
            ).cast("double"),
        ).otherwise(F.col("price")),
    )
    inserts = o.where(F.col("k") % LC_INS_MOD == 0).select(
        (F.col("k") + LC_KEY_OFFSET).alias("k"),
        "prio",
        F.col("price"),
    )
    v2f = updated.unionByName(inserts)
    # (3) DELETE, merge-on-read: keys-only sidecar, v2 files untouched
    dvf = v2f.where(F.col("k") % LC_DEL_MOD == 0).select("k")
    # (4) COMPACT: fold the deletion vectors into data files -> v3
    livef = v2f.join(F.broadcast(dvf), "k", "left_anti")
    # (5) CDF: diff v1 -> v3 into the change feed
    d = (
        o.select("k", F.col("price").alias("old_price"))
        .join(livef.select("k", F.col("price").alias("new_price")), "k", "full_outer")
        .where(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )
    ins = d.where(F.col("old_price").isNull()).select(
        "k", F.lit("insert").alias("change_type"), F.col("new_price").alias("price")
    )
    dele = d.where(F.col("new_price").isNull()).select(
        "k", F.lit("delete").alias("change_type"), F.col("old_price").alias("price")
    )
    upd = d.where(F.col("old_price").isNotNull() & F.col("new_price").isNotNull())
    pre = upd.select(
        "k", F.lit("update_preimage").alias("change_type"), F.col("old_price").alias("price")
    )
    post = upd.select(
        "k", F.lit("update_postimage").alias("change_type"), F.col("new_price").alias("price")
    )
    feedf = ins.unionAll(dele).unionAll(pre).unionAll(post)

    from concurrent.futures import ThreadPoolExecutor

    def _commit(df: DataFrame, name: str) -> None:
        with span(spark, f"lifecycle commit {name}"):
            df.write.mode("overwrite").parquet(os.path.join(root, name))

    # each commit thread inherits the caller's job group (its own copy
    # of the local properties, so the span labels do not cross threads)
    stages = [(o, "v1"), (v2f, "v2"), (dvf, "deletes"), (livef, "v3"), (feedf, "feed")]
    with ThreadPoolExecutor(max_workers=5) as pool:
        commits = [pool.submit(inheritable_thread_target(spark)(_commit), *s) for s in stages]
        for c in commits:
            c.result()

    # read back with the committed frames' schemas: no inference job
    v3 = spark.read.schema(livef.schema).parquet(os.path.join(root, "v3"))
    feed = spark.read.schema(feedf.schema).parquet(os.path.join(root, "feed"))

    state_agg = v3.groupBy(F.col("prio").alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        F.sum("k").cast("bigint").alias("key_sum"),
    ).select(F.lit("state").alias("section"), "key", "n", "value_sum", "key_sum")
    feed_agg = feed.groupBy(F.col("change_type").alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        F.sum("k").cast("bigint").alias("key_sum"),
    ).select(F.lit("feed").alias("section"), "key", "n", "value_sum", "key_sum")
    return state_agg.unionByName(feed_agg).orderBy("section", "key")


EXPIRE_RETAIN = 2  # snapshot retention: keep the newest 2 versions
EXPIRE_FILES_PER_SNAP = 2  # fixed repartition -> deterministic file count
EXPIRE_URGENT_BUMP = 1.05  # v3 restates urgent-priority prices by +5%


@register(
    "sink_snapshot_expire_vacuum",
    tags=("sink", "scale"),
    oracle=f"""
WITH v2src AS (
  SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderpriority <> '5-LOW'
),
v3src AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST({EXPIRE_URGENT_BUMP} AS DECIMAL(4,2)), 2) AS DOUBLE)
              ELSE o_totalprice END AS price
  FROM v2src
),
v2 AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
  FROM v2src GROUP BY o_orderpriority
),
v3 AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
  FROM v3src GROUP BY o_orderpriority
),
live AS (
  SELECT 2 AS version, * FROM v2
  UNION ALL
  SELECT 3 AS version, * FROM v3
)
SELECT version, o_orderpriority, n, total,
       CAST(1 AS BIGINT) AS n_expired,
       CAST({EXPIRE_FILES_PER_SNAP} AS BIGINT) AS files_vacuumed,
       CAST(1 AS BIGINT) AS expired_read_fails
FROM live
ORDER BY version, o_orderpriority
""",
)
def sink_snapshot_expire_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPIRY + VACUUM — the retention stage the lakehouse
    lifecycle was missing (Delta VACUUM / Iceberg expire_snapshots):
    three committed snapshot versions (v1 = base, v2 = row-level
    delete of the 5-LOW priority band, v3 = urgent-price restatement),
    then retention keep-newest-{EXPIRE_RETAIN} expires v1 — its data
    files are PHYSICALLY deleted and the manifest rewritten. The
    output pins, in one hash: the live versions' aggregates read
    AFTER the vacuum (proving deletion touched no live bytes — the
    oracle recomputes them from source), the expired-version count,
    the exact number of data files vacuumed (snapshot writes use a
    fixed {EXPIRE_FILES_PER_SNAP}-file layout so the count is
    deterministic), and that a time-travel read of the expired
    version now FAILS (= 1) — retention must break old reads loudly,
    never serve partial data.

    Scale: expiry is pure manifest metadata plus file deletes —
    O(files of expired snapshots), no data read; the live-read proof
    is the normal manifest-resolved scan. Real formats diff REACHABLE
    files against retained snapshots before deleting (orphan-file
    protection); with whole-snapshot dirs the reachable set IS the
    directory, which is why each version writes to an immutable dir.
    """
    import os
    import shutil

    root = _sink("snap_expire_orders", sf_dir)
    shutil.rmtree(root, ignore_errors=True)  # idempotent re-run
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    v2 = o.where(F.col("o_orderpriority") != "5-LOW")
    v3 = v2.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.round(
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit(EXPIRE_URGENT_BUMP).cast("decimal(4,2)"),
                2,
            ).cast("double"),
        ).otherwise(F.col("o_totalprice")),
    )
    manifest = []
    for version, snap in ((1, o), (2, v2), (3, v3)):
        vdir = os.path.join(root, f"v{version}")
        snap.repartition(EXPIRE_FILES_PER_SNAP).write.mode("overwrite").parquet(vdir)
        manifest.append((version, vdir))
    # retention: expire everything older than the newest EXPIRE_RETAIN
    cutoff = max(v for v, _ in manifest) - EXPIRE_RETAIN
    expired = [(v, d) for v, d in manifest if v <= cutoff]
    live = [(v, d) for v, d in manifest if v > cutoff]
    files_vacuumed = 0
    for _v, d in expired:
        files_vacuumed += sum(
            1 for f in os.listdir(d) if f.startswith("part-")
        )
        shutil.rmtree(d)
    (
        local_df(spark, live, "version INT, dir STRING")
        .write.mode("overwrite")
        .json(os.path.join(root, "_manifest"))
    )
    # a time-travel read of the expired version must now fail loudly
    expired_read_fails = 0
    for _v, d in expired:
        try:
            spark.read.parquet(d).count()
        except Exception:  # noqa: BLE001 — the failure IS the assertion
            expired_read_fails += 1
    mrows = (
        spark.read.schema("version INT, dir STRING")
        .json(os.path.join(root, "_manifest"))
        .collect()
    )
    out = None
    for r in sorted(mrows, key=lambda r: r["version"]):
        agg = (
            spark.read.parquet(r["dir"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .select(
                F.lit(r["version"]).cast("int").alias("version"),
                "o_orderpriority",
                "n",
                "total",
            )
        )
        out = agg if out is None else out.unionAll(agg)
    return out.select(
        "*",
        F.lit(len(expired)).cast("bigint").alias("n_expired"),
        F.lit(files_vacuumed).cast("bigint").alias("files_vacuumed"),
        F.lit(expired_read_fails).cast("bigint").alias("expired_read_fails"),
    ).orderBy("version", "o_orderpriority")


# --------------------------------------------- write-audit-publish

# The WAP pattern (Netflix's Iceberg workflow): incoming data lands in
# a STAGING snapshot invisible to readers, a declarative audit suite
# runs against the staged files, and only the passing subset is
# published by an atomic manifest pointer flip — failing rows go to a
# quarantine table for triage instead of poisoning the serving table.
WAP_DELTA_MOD = 3   # orders keys % 3 == 0 form the incoming batch
WAP_NEG_MOD = 30    # injected range violation: negated price
WAP_NULL_MOD = 45   # injected completeness violation: NULL priority
WAP_DUP_MOD = 60    # injected uniqueness violation: doubled instance


@register(
    "scale_write_audit_publish",
    tags=("sink", "lakehouse", "dq"),
    oracle=f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
  FROM orders WHERE o_orderkey % {WAP_DELTA_MOD} <> 0
),
delta0 AS MATERIALIZED (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % {WAP_NULL_MOD} = 0 THEN NULL ELSE o_orderpriority END AS prio,
         CASE WHEN o_orderkey % {WAP_NEG_MOD} = 0 THEN -o_totalprice ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % {WAP_DELTA_MOD} = 0
),
staged AS MATERIALIZED (
  SELECT * FROM delta0
  UNION ALL
  SELECT * FROM delta0 WHERE k % {WAP_DUP_MOD} = 0
),
keyc AS (SELECT k, COUNT(*) AS kc FROM staged GROUP BY k),
audited AS MATERIALIZED (
  SELECT s.*, (s.price < 0) AS v_range, (s.prio IS NULL) AS v_null, (c.kc > 1) AS v_dup
  FROM staged s JOIN keyc c USING (k)
),
quarantined AS (SELECT * FROM audited WHERE v_range OR v_null OR v_dup),
pass AS (SELECT k, prio, price FROM audited WHERE NOT (v_range OR v_null OR v_dup)),
v2 AS (SELECT * FROM base UNION ALL SELECT * FROM pass)
SELECT metric, value FROM (
  SELECT 'audit_range_violations' AS metric,
         CAST((SELECT COUNT(*) FROM audited WHERE v_range) AS DOUBLE) AS value
  UNION ALL SELECT 'audit_null_violations', CAST((SELECT COUNT(*) FROM audited WHERE v_null) AS DOUBLE)
  UNION ALL SELECT 'audit_dup_instances', CAST((SELECT COUNT(*) FROM audited WHERE v_dup) AS DOUBLE)
  UNION ALL SELECT 'quarantined_rows', CAST((SELECT COUNT(*) FROM quarantined) AS DOUBLE)
  UNION ALL SELECT 'published_delta_rows', CAST((SELECT COUNT(*) FROM pass) AS DOUBLE)
  UNION ALL SELECT 'v2_rows', CAST((SELECT COUNT(*) FROM v2) AS DOUBLE)
  UNION ALL SELECT 'v2_price_sum',
         (SELECT CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) FROM v2)
) ORDER BY metric
""",
)
def scale_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish against committed artifacts: (1) the
    incoming orders batch (with three classes of injected corruption)
    is STAGED to its own snapshot dir; (2) the audit suite — range
    (price ≥ 0), completeness (priority NOT NULL), uniqueness (key
    count = 1 within the batch; BOTH instances of a duplicate are
    quarantined, the safe triage rule) — runs over the staged files
    in one pass plus one key-count self-join; (3) failing instances
    are written to a quarantine table, passing rows appended as
    published v2, and the _manifest pointer flips v1 → v2 atomically
    (readers resolve the manifest, so they see v1 until the flip and
    v2 after — never the staging dir). The result reads ONLY committed
    artifacts: quarantine + published files re-read from disk.

    Scale: the audit is a single-pass conditional aggregate plus an
    equi-join on the batch's own key histogram (batch-sized, not
    table-sized); publish appends files and rewrites O(1) manifest
    metadata — no table rewrite. This composes dq_constraint_checks
    (the audit) with sink_snapshot_time_travel (the manifest) into the
    gate real pipelines run before every commit.
    """
    root = _sink("write_audit_publish", sf_dir)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )

    # v1: the serving table (committed)
    base = o.where(F.col("k") % WAP_DELTA_MOD != 0)
    base.write.mode("overwrite").parquet(os.path.join(root, "v1"))

    # stage the incoming batch, corruption injected
    delta0 = o.where(F.col("k") % WAP_DELTA_MOD == 0).select(
        "k",
        F.when(F.col("k") % WAP_NULL_MOD == 0, F.lit(None)).otherwise(F.col("prio")).alias("prio"),
        F.when(F.col("k") % WAP_NEG_MOD == 0, -F.col("price")).otherwise(F.col("price")).alias("price"),
    )
    staged_df = delta0.unionAll(delta0.where(F.col("k") % WAP_DUP_MOD == 0))
    staged_df.write.mode("overwrite").parquet(os.path.join(root, "staging"))
    staged = spark.read.parquet(os.path.join(root, "staging"))

    # audit the STAGED FILES (not the in-memory lineage)
    keyc = staged.groupBy("k").agg(F.count(F.lit(1)).alias("kc"))
    audited = staged.join(keyc, "k").select(
        "k",
        "prio",
        "price",
        (F.col("price") < 0).alias("v_range"),
        F.col("prio").isNull().alias("v_null"),
        (F.col("kc") > 1).alias("v_dup"),
    )
    bad = F.col("v_range") | F.col("v_null") | F.col("v_dup")
    audited.where(bad).write.mode("overwrite").parquet(os.path.join(root, "quarantine"))
    audited.where(~bad).select("k", "prio", "price").write.mode("overwrite").parquet(
        os.path.join(root, "delta_published")
    )

    # atomic publish: flip the manifest pointer v1 -> v1+delta
    spark.createDataFrame(
        [(2, "v1"), (2, "delta_published")], "version INT, dir STRING"
    ).coalesce(1).write.mode("overwrite").json(os.path.join(root, "_manifest"))

    # serving read: resolve the manifest, then aggregate committed files
    mrows = (
        spark.read.schema("version INT, dir STRING")
        .json(os.path.join(root, "_manifest"))
        .where(F.col("version") == 2)
        .collect()
    )
    v2 = None
    for r in mrows:
        part = spark.read.parquet(os.path.join(root, r.dir))
        v2 = part if v2 is None else v2.unionByName(part)
    quar = spark.read.parquet(os.path.join(root, "quarantine"))

    def one(metric: str, df_val) -> DataFrame:
        return df_val.select(F.lit(metric).alias("metric"), F.col("v").cast("double").alias("value"))

    pub_cnt = spark.read.parquet(os.path.join(root, "delta_published")).agg(
        F.count(F.lit(1)).alias("v")
    )
    parts = [
        one("audit_range_violations", quar.agg(F.sum(F.col("v_range").cast("int")).alias("v"))),
        one("audit_null_violations", quar.agg(F.sum(F.col("v_null").cast("int")).alias("v"))),
        one("audit_dup_instances", quar.agg(F.sum(F.col("v_dup").cast("int")).alias("v"))),
        one("quarantined_rows", quar.agg(F.count(F.lit(1)).alias("v"))),
        one("published_delta_rows", pub_cnt),
        one("v2_rows", v2.agg(F.count(F.lit(1)).alias("v"))),
        one(
            "v2_price_sum",
            v2.agg(F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("v")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("metric")


BINFILE_MAX_DOC = 40  # docs written as standalone binary files


@register(
    "source_binaryfile_format",
    tags=("source",),
    oracle=f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {BINFILE_MAX_DOC}
ORDER BY doc_id
""",
)
def source_binaryfile_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source — the ingestion path for opaque
    media blobs (images/audio/model shards) where each FILE is one
    row: write each document's UTF-8 bytes as a standalone ``.bin``
    file from the executors (foreachPartition — the write side of a
    blob-lake layout), then read the directory back with
    ``format("binaryFile")`` + pathGlobFilter and verify content
    integrity by byte length and md5 digest against the source table.

    Scale: binaryFile lists files in parallel and maps one file per
    row with column pruning (reading only path/length skips content
    I/O entirely); the md5 here forces the content column — the
    integrity-scan pattern. Per-file rows keep memory bounded by the
    largest single blob, the layout object stores actually have.
    """
    import os as _os

    path = _sink("docs_binaryfile", sf_dir)
    _os.makedirs(path, exist_ok=True)
    for f in _os.listdir(path):
        if f.endswith(".bin"):
            _os.remove(_os.path.join(path, f))
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < BINFILE_MAX_DOC)

    def _write_files(rows):
        for r in rows:
            with open(_os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as fh:
                fh.write(r["text"].encode("utf-8"))

    d.select("doc_id", "text").foreachPartition(_write_files)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return (
        back.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )
