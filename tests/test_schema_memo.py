"""The catalog's schema memo (``sources.catalog.table_schema``): a
table's parquet schema is inferred once per path and reused while the
``(mtime_ns, size)`` of its data files and the schema-converter confs
stay the same.

- A repeat ``load`` runs no job and gives an equal schema.
- A rewrite, a flipped converter conf or a file added to a partition
  subdirectory is inferred anew.
- The memo keeps one entry per path, however often it was rewritten.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.sources import catalog
from spark_rapids_ml_spark.sources.catalog import load, table_path, table_schema
from tests.conftest import SF_SMALL as SF



def _jobs(spark, fn) -> tuple[object, int]:
    with query_run(spark, "schema-memo") as run:
        out = fn()
    return out, len(run.job_ids)


def test_repeat_load_runs_no_job(spark, tmp_path):
    shutil.copy(table_path(SF, "nation"), tmp_path / "nation.parquet")
    first, cold = _jobs(spark, lambda: load(spark, str(tmp_path), "nation"))
    again, warm = _jobs(spark, lambda: load(spark, str(tmp_path), "nation"))
    assert cold >= 1  # inference is a job of its own
    assert warm == 0
    assert again.schema == first.schema
    assert again.collect() == first.collect()


def test_rewrite_with_added_column_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(0, "A"), (1, "B")]


def test_converter_confs_are_part_of_the_key(spark, tmp_path):
    # the generator's other events layout: ts as timestamp[ns]
    ns = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))}), ns)
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, {nanos: "true"}):
        assert table_schema(spark, ns)["ts"].dataType == T.LongType()
    with scoped_conf(spark, {nanos: "false"}):
        # not the memoized bigint: Spark's own verdict on nanos
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            table_schema(spark, ns)
    with scoped_conf(spark, {nanos: "true"}):
        assert table_schema(spark, ns)["ts"].dataType == T.LongType()
    # the testdata's own events.ts (timestamp[us], not UTC-adjusted)
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = table_path(SF, "events")
    with scoped_conf(spark, {ntz: "true"}):
        assert table_schema(spark, path)["ts"].dataType == T.TimestampNTZType()
    with scoped_conf(spark, {ntz: "false"}):
        assert table_schema(spark, path)["ts"].dataType == T.TimestampType()


def test_file_added_to_partition_subdirectory_is_reinferred(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    os.makedirs(table / "k=1")
    pq.write_table(pa.table({"o_orderkey": [1]}), table / "k=1" / "part-0.parquet")
    with scoped_conf(spark, {"spark.sql.parquet.mergeSchema": "true"}):
        before, _ = _jobs(spark, lambda: load(spark, str(tmp_path), "orders").columns)
        _, warm = _jobs(spark, lambda: load(spark, str(tmp_path), "orders"))
        pq.write_table(
            pa.table({"o_orderkey": [2], "o_comment": ["x"]}), table / "k=1" / "part-1.parquet"
        )
        after, cold = _jobs(spark, lambda: load(spark, str(tmp_path), "orders").columns)
    assert before == ["o_orderkey", "k"]
    assert warm == 0
    assert cold >= 1
    assert after == ["o_orderkey", "o_comment", "k"]


def test_rewrites_keep_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    n0 = len(catalog._SCHEMAS)
    for i in range(1, 6):
        pq.write_table(pa.table({f"c{j}": [j] for j in range(i)}), path)
        assert len(load(spark, str(tmp_path), "nation").columns) == i
    assert len(catalog._SCHEMAS) == n0 + 1
