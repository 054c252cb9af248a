"""Data-curation and table-maintenance operators: blocked fuzzy
matching (entity resolution), one-pass table profiling, exact
mergeable audience overlap, and incremental materialized-aggregate
maintenance.

These four are the operations a 100 TB curation pipeline runs around
the analytics proper: resolve near-identical entities without an
O(N^2) comparison, profile a new table in one scan before trusting
it, measure audience overlap between segments with mergeable state,
and keep a derived aggregate fresh without rescanning history.
Spark-first formulations throughout — blocking joins, single-pass
multi-aggregates, Spark 4 bitmap aggregates, partitioned partial-agg
tables — each hash-locked to a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.operators.sources_io import _sink
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.sources.catalog import load


@register(
    "join_fuzzy_blocked_levenshtein",
    tags=("join", "dedup", "text", "scale"),
    oracle="""
WITH names AS (
    SELECT p_name,
           split_part(p_name, ' ', 2) AS noun,
           COUNT(*) AS cnt
    FROM part
    GROUP BY p_name
)
SELECT a.noun AS noun,
       a.p_name AS name_a,
       b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_d,
       CAST(a.cnt * b.cnt AS BIGINT) AS pair_count
FROM names a
JOIN names b
  ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY name_a, name_b
""",
)
def join_fuzzy_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (record linkage): find near-identical part
    names via Levenshtein distance <= 2, comparing only within a
    cheap blocking key (the trailing noun token) instead of all
    pairs. The testdata pins real matches: 'cold X' ~ 'old X'
    (distance 1) and 'new X' ~ 'red X' (distance 2) per noun block.

    Scale: entity resolution at 100 TB is never all-pairs — the
    equi-join on the block key turns O(N^2) edit-distance calls into
    per-block comparisons, and the names are pre-aggregated to
    (name, count) so the expensive predicate runs once per DISTINCT
    name pair, not per row pair. Levenshtein itself stays JVM-side
    (built-in, codegen) — no Python in the loop. Skewed blocks would
    get the posting-list cap from dedup.lsh_candidate_pairs; the noun
    vocabulary here is bounded so the plain equi-join is the right
    plan.
    """
    names = (
        load(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("noun", F.element_at(F.split(F.col("p_name"), " "), 2))
    )
    a = names.select(
        F.col("noun"),
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
    )
    b = names.select(
        F.col("noun").alias("noun_b"),
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
    )
    return (
        a.join(b, (a.noun == b.noun_b) & (a.name_a < b.name_b))
        .withColumn("lev_d", F.levenshtein("name_a", "name_b").cast("bigint"))
        .where(F.col("lev_d") <= 2)
        .select(
            "noun",
            "name_a",
            "name_b",
            "lev_d",
            (F.col("cnt_a") * F.col("cnt_b")).cast("bigint").alias("pair_count"),
        )
        .orderBy("name_a", "name_b")
    )


_PROFILE_COLS = (
    "l_linenumber",
    "l_linestatus",
    "l_orderkey",
    "l_partkey",
    "l_returnflag",
    "l_suppkey",
)


@register(
    "profile_table_summary",
    tags=("dq", "agg", "scale"),
    oracle="""
SELECT * FROM (
""" + "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name,
           COUNT({c}) AS n_nonnull,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM lineitem"""
        for c in _PROFILE_COLS
    ) + """
)
ORDER BY col_name
""",
)
def profile_table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling: per-column non-null count, null
    count, exact distinct count, and min/max (as strings) for six
    lineitem columns, emitted long-format — the first query any
    pipeline runs against a new 100 TB delivery before trusting it.

    Scale: ALL per-column metrics come from a SINGLE aggregate over
    one scan (Spark plans the multi-count-distinct via one Expand —
    one pass over the data, fan-out in the aggregation layer, never
    six scans), then the 1-row wide result is reshaped long with
    stack() on the driver-side-free 1xN frame. The oracle is the
    honest per-column UNION ALL formulation. Timestamp columns are
    deliberately excluded: min/max-as-string would hash cross-engine
    timestamp formatting, not profiling logic.
    """
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.countDistinct(c).alias(f"{c}_nd"),
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nn, _rows - {c}_nn, {c}_nd, {c}_min, {c}_max" for c in _PROFILE_COLS
    )
    return (
        wide.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_nonnull, n_null, n_distinct, min_val, max_val)"
        )
        .select(
            "col_name",
            F.col("n_nonnull").cast("bigint").alias("n_nonnull"),
            F.col("n_null").cast("bigint").alias("n_null"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            "min_val",
            "max_val",
        )
        .orderBy("col_name")
    )


@register(
    "agg_distinct_overlap_bitmap",
    tags=("agg", "scale", "approx"),
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
SELECT (SELECT COUNT(*) FROM a) AS n_a,
       (SELECT COUNT(*) FROM b) AS n_b,
       (SELECT COUNT(*) FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)) AS n_union,
       (SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) AS n_intersect,
       ROUND((SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) * 1.0 /
             (SELECT COUNT(*) FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)), 6) AS jaccard
""",
)
def agg_distinct_overlap_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience overlap between two order-priority segments —
    |A|, |B|, |A u B|, |A n B|, Jaccard — computed entirely from
    mergeable per-bucket bitmaps (Spark 4 bitmap aggregates), with
    the intersection by inclusion-exclusion: |A n B| = |A| + |B| -
    |A u B|. The oracle is the naive DISTINCT/JOIN formulation.

    Scale: the naive form needs three distinct-shuffles over raw
    custkeys; the bitmap form folds each segment into bounded
    per-(segment, 32768-key bucket) bitmaps at the leaves — map-side
    combine on fixed-size state — and the union is one more
    bitmap_or_agg over the SAME partials, no re-scan. The partials
    are storable: overlap against next week's segment needs only next
    week's scan. This is the exact-count sibling of
    agg_hll_sketch_merge's approximate overlap story.
    """
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    per_bucket = (
        o.select(
            F.col("o_orderpriority").alias("seg"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("seg", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    sizes = (
        per_bucket.groupBy("seg")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n"))
        .groupBy()
        .pivot("seg", ["1-URGENT", "2-HIGH"])
        .sum("n")
        .select(F.col("1-URGENT").alias("n_a"), F.col("2-HIGH").alias("n_b"))
    )
    union_size = (
        per_bucket.groupBy("bkt")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("u"))
        .agg(F.sum("u").alias("n_union"))
    )
    return (
        sizes.crossJoin(union_size)  # two 1-row frames
        .withColumn("n_intersect", F.col("n_a") + F.col("n_b") - F.col("n_union"))
        .select(
            "n_a",
            "n_b",
            "n_union",
            "n_intersect",
            F.round(F.col("n_intersect") / F.col("n_union"), 6).alias("jaccard"),
        )
    )


@register(
    "sink_incremental_agg_maintenance",
    tags=("sink", "agg", "scale"),
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sink_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: a partial-agg
    table partitioned by order month holds (count, exact decimal sum)
    per (month, priority). History months are materialized once; when
    the newest month arrives, ONLY its rows are aggregated and
    appended as a new partition — the merge then reads the compact
    partial table, never the raw history. The final rollup must equal
    the full recompute (the oracle), because count/decimal-sum are
    mergeable: merging partials is exact.

    Scale: this is the 100 TB ETL contract — a daily feed updates a
    derived aggregate by scanning one day, not the whole table.
    Partial state is bounded (months x 5 priorities), dynamic
    partition overwrite makes the delta append idempotent on retry,
    and the merge job's input is KB-sized regardless of raw volume.
    """
    partials = _sink("orders_agg_partials", sf_dir)
    o = load(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    last_month = o.agg(F.max("month")).first()[0]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("psum"),
        )

    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        # Initial materialization: everything before the newest month.
        partial(o.where(F.col("month") < last_month)).write.mode(
            "overwrite"
        ).partitionBy("month").parquet(partials)
        # Delta arrives: aggregate ONLY the new month and append it as
        # one partition (dynamic overwrite = idempotent on retry).
        partial(o.where(F.col("month") == last_month)).write.mode(
            "overwrite"
        ).partitionBy("month").parquet(partials)

    return (
        spark.read.parquet(partials)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("pn").cast("bigint").alias("n"),
            F.sum("psum").cast("double").alias("total"),
        )
        .orderBy("o_orderpriority")
    )
