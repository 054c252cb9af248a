"""Remaining declared-surface rows: map columns, null-ordered sorts,
limit/offset pagination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.sources.catalog import load, table_path


@register(
    "map_funcs",
    tags=("map",),
    oracle="""
WITH m AS (
  SELECT doc_id,
         map(['lang', 'src'], [lang, source]) AS meta,
         map(['chars'], [n_chars]) AS stats
  FROM documents WHERE doc_id <= 100
)
SELECT doc_id,
       meta['lang'][1] AS lang_val,
       meta['src'][1] AS src_val,
       CAST(stats['chars'][1] AS BIGINT) AS chars_val,
       array_to_string(list_sort(map_keys(meta)), ',') AS meta_keys,
       CAST(len(map_values(meta)) AS BIGINT) AS n_vals
FROM m
ORDER BY doc_id
""",
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType columns: build, element access, map_keys/map_values."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 100)
    m = d.select(
        "doc_id",
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("src"), F.col("source")
        ).alias("meta"),
        F.create_map(F.lit("chars"), F.col("n_chars")).alias("stats"),
    )
    return m.select(
        "doc_id",
        F.col("meta")["lang"].alias("lang_val"),
        F.col("meta")["src"].alias("src_val"),
        F.col("stats")["chars"].cast("bigint").alias("chars_val"),
        F.array_join(F.array_sort(F.map_keys("meta")), ",").alias("meta_keys"),
        F.size(F.map_values("meta")).cast("bigint").alias("n_vals"),
    ).orderBy("doc_id")


@register(
    "sort_nulls_ordering",
    tags=("sort",),
    oracle="""
SELECT c_custkey,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
       CAST(c_acctbal AS DOUBLE) AS bal
FROM customer
WHERE c_custkey <= 200
ORDER BY seg_or_null ASC NULLS FIRST, bal DESC, c_custkey
""",
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null placement (NULLS FIRST) and a
    unique tiebreak key — total order, so even the row *order* is the
    same cross-engine (the harness also re-sorts, but plans relying on
    sorted output get the real contract)."""
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_or_null"),
        F.col("c_acctbal").cast("double").alias("bal"),
    ).orderBy(
        F.col("seg_or_null").asc_nulls_first(),
        F.col("bal").desc(),
        F.col("c_custkey"),
    )


@register(
    "null_safe_equality",
    tags=("filter", "null"),
    oracle="""
WITH c2 AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_a,
         NULLIF(c_mktsegment, 'MACHINERY') AS seg_b
  FROM customer WHERE c_custkey <= 300
)
SELECT c_custkey,
       CAST(CASE WHEN seg_a IS NOT DISTINCT FROM seg_b THEN 1 ELSE 0 END AS BIGINT) AS ns_eq,
       CAST(CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END AS BIGINT) AS plain_eq
FROM c2
ORDER BY c_custkey
""",
)
def null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM) vs plain = over
    constructed nulls — NULL <=> NULL is true, NULL = NULL is null."""
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    c2 = c.select(
        "c_custkey",
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_a"),
        F.nullif("c_mktsegment", F.lit("MACHINERY")).alias("seg_b"),
    )
    return c2.select(
        "c_custkey",
        F.when(F.col("seg_a").eqNullSafe(F.col("seg_b")), 1).otherwise(0).cast("bigint").alias("ns_eq"),
        F.when(F.col("seg_a") == F.col("seg_b"), 1).otherwise(0).cast("bigint").alias("plain_eq"),
    ).orderBy("c_custkey")


@register(
    "limit_offset_page",
    tags=("sort", "limit"),
    oracle="""
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""",
)
def limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: total ORDER BY + OFFSET/LIMIT (page 3 of 20).

    Scale: Spark executes sort+limit as TakeOrderedAndProject for
    small limits — no global sort materialization.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.col("o_totalprice").cast("double").alias("price"))
        .orderBy(F.col("price").desc(), F.col("o_orderkey"))
        .offset(40)
        .limit(20)
    )


@register(
    "ps_pandas_api_groupby",
    tags=("api", "agg"),
    oracle="""
SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
       COUNT(*) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
WHERE s_acctbal > 0
GROUP BY s_nationkey
ORDER BY nationkey
""",
)
def ps_pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark surface (pyspark.pandas): the same
    filter→groupby→agg written as pandas idioms, lowered by the ps
    layer onto the identical Catalyst plan — the migration path for
    pandas codebases onto 100 TB without a rewrite. The result is
    converted back with to_spark() and must hash-match the
    declarative formulation.

    Scale: ps operations compile to DataFrame plans (no driver
    materialization here); the caveats are the default index
    (avoided: distributed default, no index dependence in the
    output) and ops with no distributed lowering (e.g. .values) —
    this query stays on the lowered-plan subset.
    """
    import pyspark.pandas as pps

    prev = pps.get_option("compute.default_index_type")
    pps.set_option("compute.default_index_type", "distributed")
    try:
        psdf = pps.read_parquet(table_path(sf_dir, "supplier"))
        out = (
            psdf[psdf["s_acctbal"] > 0]
            .groupby("s_nationkey")
            .agg(n=("s_suppkey", "count"), total_bal=("s_acctbal", "sum"))
            .reset_index()
        )
        sdf = out.to_spark()
    finally:
        pps.set_option("compute.default_index_type", prev)
    return sdf.select(
        F.col("s_nationkey").cast("bigint").alias("nationkey"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("total_bal"), 2).cast("double").alias("total_bal"),
    ).orderBy("nationkey")


@register(
    "sql_session_variables",
    tags=("sql",),
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
FROM customer
WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 1000.0
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables (DECLARE / SET VARIABLE): the
    query is parameterized by session state instead of string
    interpolation — the safe way to template a production query. The
    oracle runs the constant-folded equivalent (DuckDB has no session
    variables), which is exactly what Catalyst folds the variable
    references into at plan time, so the variables cost nothing at
    execution.

    Scale: plan-identical to the literal query — predicate pushdown
    and partial aggregation are unaffected by the variable
    indirection (the variables fold before optimization).
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    spark.sql("DECLARE OR REPLACE VARIABLE seg_var STRING DEFAULT 'BUILDING'")
    spark.sql("SET VARIABLE seg_var = 'AUTOMOBILE'")
    spark.sql("DECLARE OR REPLACE VARIABLE bal_floor DOUBLE DEFAULT 1000.0")
    return spark.sql(
        """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer
        WHERE c_mktsegment = seg_var AND c_acctbal > bal_floor
        GROUP BY c_nationkey
        ORDER BY nationkey
        """
    )


@register(
    "sql_create_sql_udf",
    tags=("sql", "udf"),
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey <= 20000
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sql_create_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN
    expr): a named, reusable expression that Catalyst INLINES into the
    plan — unlike a Python UDF there is no serialization boundary, the
    function body participates in whole-stage codegen and predicate
    pushdown exactly as if written in place (the oracle runs the
    inlined form). The discounted-price double rounds exactly to its
    4-dp decimal (2dp x 2dp product), making the sum exact and
    engine-portable.

    Scale: zero overhead vs the inlined expression — this is the
    UDF tier to reach for BEFORE pandas_udf when the logic is
    expressible in SQL.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(ep DOUBLE, d DOUBLE)"
        " RETURNS DOUBLE RETURN ep * (1.0 - d)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(disc_price(l_extendedprice, l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_orderkey <= 20000
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


_PS_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@register(
    "ps_pandas_api_pivot_table",
    tags=("api", "agg", "pivot"),
    oracle=f"""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       {", ".join(f"CAST(SUM(CASE WHEN c_mktsegment = '{s}' THEN CAST(round(c_acctbal * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS {s.lower()}_cents" for s in _PS_SEGMENTS)}
FROM customer
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def ps_pandas_api_pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-API-on-Spark pivot_table: account balance (exact integer
    cents) summed per nation × market segment, written as the pandas
    `pivot_table(index, columns, values, aggfunc)` idiom and lowered
    by the ps layer onto Catalyst's groupBy+pivot plan — the second
    entry point pandas codebases migrate through (the first,
    filter→groupby→agg, is ps_pandas_api_groupby). Cents are computed
    BEFORE the pivot so every cell is an exact bigint sum — no
    float-accumulation order dependence for the hash check to trip on.

    Scale: pivot_table lowers to one hash aggregation whose output is
    |nations| × |segments| cells (bounded dimensions, not corpus);
    fill_value=0 makes empty cells exact zeros in both engines.
    """
    import pyspark.pandas as pps

    prev = pps.get_option("compute.default_index_type")
    pps.set_option("compute.default_index_type", "distributed")
    try:
        psdf = pps.read_parquet(table_path(sf_dir, "customer"))
        psdf["cents"] = (psdf["c_acctbal"] * 100).round(0).astype("int64")
        out = psdf.pivot_table(
            index=["c_nationkey"], columns="c_mktsegment", values="cents",
            aggfunc="sum", fill_value=0,
        ).reset_index()
        sdf = out.to_spark()
    finally:
        pps.set_option("compute.default_index_type", prev)
    # pivot only emits columns for segment values PRESENT in the data;
    # backfill absent segments as zero columns so a filtered slice
    # degrades like the oracle's SUM(CASE ... ELSE 0) instead of
    # raising UNRESOLVED_COLUMN
    for s in _PS_SEGMENTS:
        if s not in sdf.columns:
            sdf = sdf.withColumn(s, F.lit(0))
    return sdf.select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        *[
            F.coalesce(F.col(f"`{s}`"), F.lit(0)).cast("bigint").alias(f"{s.lower()}_cents")
            for s in _PS_SEGMENTS
        ],
    ).orderBy("nationkey")


@register(
    "sql_identifier_clause",
    tags=("sql", "spark4"),
    oracle="""
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r_name ORDER BY r_name
""",
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL IDENTIFIER() clause (Spark 3.4+/4): table and column
    names supplied as PARAMETERS instead of string-concatenated SQL —
    the injection-safe form of dynamic SQL a metadata-driven pipeline
    (one query template, N tables) should use. The template below
    resolves both a table name and a join column through
    IDENTIFIER(:param) binders.

    Scale: purely a binding-time feature — the resolved plan is
    byte-identical to the literal query (same broadcast join), so
    there is nothing runtime to pay.
    """
    load(spark, sf_dir, "region").createOrReplaceTempView("v_region")
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM IDENTIFIER(:dim) r
        JOIN IDENTIFIER(:fact) n
          ON IDENTIFIER('n.' || :joincol) = r.r_regionkey
        GROUP BY r_name ORDER BY r_name
        """,
        args={"dim": "v_region", "fact": "v_nation", "joincol": "n_regionkey"},
    )
