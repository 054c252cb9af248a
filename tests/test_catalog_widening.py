"""load_wide gate semantics: the byte floor must see DIRECTORY layouts.

``os.path.getsize`` on a directory returns the inode size (~4 KiB), so
before _source_bytes a multi-file table always short-circuited to the
plain load — the widening helper was blind at exactly the layout its
docstring promises to handle (ADVICE r13). These tests pin the gate's
decision on a 2-file directory layout above and below the floor, and
the NaN/None fidelity of local_df's object-dtype column construction.
"""

from __future__ import annotations

import math
import os
import shutil

import pytest

from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.sources.catalog import _source_bytes, load_wide


def _write_dir_table(spark, path: str, n_rows: int) -> None:
    """documents-shaped table as a 2-file parquet DIRECTORY."""
    shutil.rmtree(path, ignore_errors=True)
    spark.range(n_rows).selectExpr(
        "id AS doc_id",
        "repeat('x', 64) AS text",
        "CAST(64 AS BIGINT) AS n_chars",
    ).repartition(2).write.mode("overwrite").parquet(path)


def test_source_bytes_sums_directory_files(spark, tmp_path):
    root = str(tmp_path / "sfdir")
    table = os.path.join(root, "documents.parquet")
    _write_dir_table(spark, table, 2_000)
    expected = sum(
        e.stat().st_size
        for e in os.scandir(table)
        if e.is_file() and not e.name.startswith(("_", "."))
    )
    assert expected > 0
    assert _source_bytes(table) == expected
    # the old gate read the directory inode (~4 KiB), far below any data
    assert _source_bytes(table) > os.path.getsize(table)


def test_source_bytes_walks_partition_directories(tmp_path):
    # Spark-free: a key=value layout two levels deep, beside the names
    # Spark's file index skips (markers, checksums, a _temporary dir)
    table = tmp_path / "events.parquet"
    files = {
        "k=1/part-0.parquet": 100,
        "k=2/part-0.parquet": 250,
        "k=2/d=x/part-1.parquet": 7,
        "_SUCCESS": 0,
        "k=1/.part-0.parquet.crc": 12,
        "_temporary/0/part-9.parquet": 999,
    }
    for rel, size in files.items():
        os.makedirs(os.path.dirname(table / rel), exist_ok=True)
        (table / rel).write_bytes(b"\0" * size)
    assert _source_bytes(str(table)) == 357


def test_load_wide_fires_on_underparallelized_directory(spark, tmp_path):
    root = str(tmp_path / "sfdir_big")
    table = os.path.join(root, "documents.parquet")
    _write_dir_table(spark, table, 2_000)
    size = _source_bytes(table)
    target = spark.sparkContext.defaultParallelism
    # 2 files << target/2 partitions, and min_bytes set below the real
    # data size: the gate must now fire (pre-fix it never could, because
    # getsize(dir) ~ 4 KiB < any sensible floor)
    widened = load_wide(spark, root, "documents", min_bytes=size)
    assert widened.rdd.getNumPartitions() == target
    assert "documents.parquet" in widened.inputFiles()[0]


def test_load_wide_holds_below_byte_floor(spark, tmp_path):
    root = str(tmp_path / "sfdir_small")
    table = os.path.join(root, "documents.parquet")
    _write_dir_table(spark, table, 2_000)
    size = _source_bytes(table)
    plain = load_wide(spark, root, "documents", min_bytes=size + 1)
    # below the floor: exactly load() — no repartition exchange
    assert "Exchange" not in plain._jdf.queryExecution().executedPlan().toString()


def test_local_df_preserves_nan_and_null(spark):
    # NaN payloads cannot survive the Arrow hop (from_pandas nullifies
    # them), so the helper must take the plain path and keep NaN != NULL
    rows = [(0, None), (1, float("nan")), (2, 1.5)]
    df = local_df(spark, rows, "id bigint, v double")
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got[0] is None          # None stays SQL NULL
    assert math.isnan(got[1])      # NaN stays NaN (not NULL)
    assert got[2] == 1.5


def test_local_df_nan_in_array_falls_back(spark):
    rows = [(0, [1.0, float("nan")]), (1, [2.0, 3.0])]
    df = local_df(spark, rows, "id bigint, v array<double>")
    got = {r["id"]: r["v"] for r in df.collect()}
    assert math.isnan(got[0][1]) and got[1] == [2.0, 3.0]


@pytest.mark.parametrize(
    "ddl, cell, nan_of",
    [
        ("array<array<double>>", [[1.0, float("nan")]], lambda v: v[0][1]),
        ("array<struct<a:double,b:double>>", [(1.0, float("nan"))], lambda v: v[0]["b"]),
        ("map<string,double>", {"x": float("nan")}, lambda v: v["x"]),
    ],
)
def test_local_df_nested_nan_falls_back(spark, ddl, cell, nan_of):
    # a NaN at any depth must take the plain path: the Arrow hop turns
    # it into NULL at every nesting level
    got = local_df(spark, [(1, cell)], f"id bigint, v {ddl}").collect()[0]["v"]
    assert math.isnan(nan_of(got))


def test_local_df_plans_local_table_scan(spark):
    df = local_df(spark, [(0, "a"), (1, None)], "id bigint, s string")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert {r["id"]: r["s"] for r in df.collect()} == {0: "a", 1: None}


def test_local_df_nullable_int_stays_int(spark):
    rows = [(0, 7), (1, None)]
    df = local_df(spark, rows, "id bigint, n bigint")
    got = {r["id"]: r["n"] for r in df.collect()}
    assert got[0] == 7 and got[1] is None
