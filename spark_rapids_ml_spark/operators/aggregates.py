"""Aggregation surface: group-by stats, distinct, moments, rollup/cube/
grouping sets, having, pivot, approx-distinct.

Scale notes (100 TB): every query here relies on Spark's automatic
partial (map-side) aggregation — the shuffle carries one row per
(partition, group), so low-cardinality group-bys cost ~nothing beyond
the scan. Moment-based stats (stddev/var/corr) are formulated as exact
decimal power sums, which are commutative-associative and therefore
shuffle-safe AND bit-identical to the DuckDB oracle. COUNT(DISTINCT)
expands to a two-phase agg planned by Catalyst; approx_count_distinct
is the HLL-sketch alternative for the 100 TB path (rows-only check +
bounded-error pytest, since sketches are not cross-engine stable).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.functions.portable import davg, dsum, hash60, sql_hash60
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.query_run import cache
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.sources.catalog import load


@register(
    "agg_group_stats",
    tags=("agg",),
    oracle="""
SELECT
  c_mktsegment,
  COUNT(*) AS n_cust,
  COUNT(DISTINCT c_nationkey) AS n_nations,
  CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
  CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def agg_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/count-distinct/min/max/sum/avg per segment in one pass."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.min(F.col("c_acctbal").cast("double")).alias("min_bal"),
            F.max(F.col("c_acctbal").cast("double")).alias("max_bal"),
            dsum("c_acctbal", "sum_bal"),
            davg("c_acctbal", "avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_moments_exact",
    tags=("agg", "stats"),
    oracle="""
WITH m AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       -- s2's scaled integer exceeds 2^53 at sf>=0.01, so the
       -- decimal->double cast can differ by 1 ulp between engines
       -- (~1e-5 absolute on var). Report variance in millions and
       -- round: drift becomes ~1e-11 against a 1e-6 grid.
       ROUND((s2 - s1*s1/n) / (n - 1) / 1000000, 6) AS var_samp_price_m,
       ROUND(SQRT((s2 - s1*s1/n) / (n - 1)), 4) AS stddev_samp_price
FROM m
ORDER BY o_orderpriority
""",
)
def agg_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """var_samp/stddev_samp via exact decimal power sums.

    Formulated as sum/sum-of-squares so the distributed aggregation is
    exact (decimal) and the only FP ops are the final few — identical
    in both engines. (Spark's builtin var_samp uses a streaming merge
    whose FP drift vs DuckDB can exceed round-6; this formulation is
    the shuffle-safe, hash-stable equivalent.)
    """
    o = load(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    m = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("double").alias("s1"),
        F.sum(d * d).cast("double").alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    return m.select(
        "o_orderpriority",
        "n",
        F.round(var / 1_000_000, 6).alias("var_samp_price_m"),
        F.round(F.sqrt(var), 4).alias("stddev_samp_price"),
    ).orderBy("o_orderpriority")


@register(
    "agg_corr",
    tags=("agg", "stats"),
    oracle="""
SELECT l_returnflag,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(CORR(l_discount, l_tax), 6) AS corr_disc_tax
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builtin corr — O(1) magnitude output so round(6) absorbs the
    cross-engine FP merge drift."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_disc_tax"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_rollup",
    tags=("agg",),
    oracle="""
SELECT COALESCE(l_returnflag, '<all>') AS rf,
       COALESCE(l_linestatus, '<all>') AS ls,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY rf, ls
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, status) with <all> markers."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
            "n",
            "sum_qty",
        )
        .orderBy("rf", "ls")
    )


@register(
    "agg_cube",
    tags=("agg",),
    oracle="""
SELECT COALESCE(o_orderstatus, '<all>') AS st,
       COALESCE(o_orderpriority, '<all>') AS pri,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY st, pri
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all grouping-set combinations of (status, priority)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("st"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("pri"),
            "n",
            "sum_price",
        )
        .orderBy("st", "pri")
    )


@register(
    "agg_grouping_sets",
    tags=("agg", "sql"),
    oracle="""
SELECT COALESCE(l_returnflag, '<all>') AS rf,
       COALESCE(l_linestatus, '<all>') AS ls,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY rf, ls
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with per-set null markers."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '<all>') AS rf,
               COALESCE(l_linestatus, '<all>') AS ls,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls
        """
    )


@register(
    "agg_having",
    tags=("agg",),
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 20 AND SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
ORDER BY o_custkey
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter on grouped orders."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_sum_dec"),
        )
        .where((F.col("n_orders") >= 20) & (F.col("_sum_dec") > 1000000))
        .select("o_custkey", "n_orders", F.col("_sum_dec").cast("double").alias("total_spent"))
        .orderBy("o_custkey")
    )


@register(
    "agg_pivot",
    tags=("agg",),
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_A,
       CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_N,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_R
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on a known-value set. Scale: pinning the pivot values
    avoids the extra distinct-values job Spark otherwise runs."""
    li = load(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
    )
    return p.select(
        "l_linestatus",
        F.col("A").cast("double").alias("qty_A"),
        F.col("N").cast("double").alias("qty_N"),
        F.col("R").cast("double").alias("qty_R"),
    ).orderBy("l_linestatus")


@register(
    "agg_percentiles_exact",
    tags=("agg", "percentile"),
    oracle="""
SELECT o_orderpriority,
       ROUND(median(o_totalprice), 6) AS med_price,
       ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25_price,
       ROUND(quantile_cont(o_totalprice, 0.90), 6) AS p90_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles. Both engines use linear
    interpolation between adjacent order statistics of 2-decimal money
    values, so the true result has ≤4 decimals — round(6) absorbs the
    ulp-level association difference in the interpolation formula.

    Scale: exact percentile needs a per-group sort — fine for bounded
    groups; the unbounded-cardinality path is agg_approx_percentile.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("med_price"),
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25_price"),
            F.round(F.expr("percentile(o_totalprice, 0.90)"), 6).alias("p90_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_approx_percentile",
    tags=("agg", "approx"),
    oracle="""
SELECT o_orderpriority,
       ROUND(median(o_totalprice), 6) AS exact_med,
       CAST(1 AS BIGINT) AS within_tolerance
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch percentile — the unbounded-scale path (sketches merge
    across partitions without a sort).

    Sketch internals aren't cross-engine stable, so the query checks
    itself: it computes approx AND exact in one aggregation and emits
    a within_tolerance flag (|approx−exact| ≤ 5% of exact). The DuckDB
    oracle recomputes the exact median and expects the flag true — a
    bounded-error contract in hash-checkable form (the absTol testing
    discipline of the reference, PCASuite.scala:71).
    tests/test_quality.py additionally bounds the raw error.
    """
    o = load(spark, sf_dir, "orders")
    exact = F.expr("percentile(o_totalprice, 0.5)")
    approx = F.expr("approx_percentile(o_totalprice, 0.5, 1000)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(exact, 6).alias("exact_med"),
            (F.abs(approx - exact) <= 0.05 * F.abs(exact))
            .cast("bigint")
            .alias("within_tolerance"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_collect_list_sorted",
    tags=("agg", "collect"),
    oracle="""
SELECT c_nationkey,
       array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), ',') AS segments,
       COUNT(*) AS n_cust
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def agg_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + array_sort: list aggregation made deterministic
    (raw collect_list order is partition-dependent — never expose it)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
            F.count(F.lit(1)).alias("n_cust"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "agg_approx_count_distinct",
    tags=("agg", "approx"),
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       CAST(1 AS BIGINT) AS within_tolerance
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct-count — the 100 TB path for distincts.

    Sketch values aren't cross-engine stable, so the query checks
    itself: approx AND exact in one aggregation plus a
    within_tolerance flag (|approx−exact| ≤ 10% of exact — the sketch
    is configured at 2% rsd). The DuckDB oracle recomputes the exact
    count and expects the flag true (bounded-error contract in
    hash-checkable form); tests/test_quality.py bounds the raw error.
    """
    li = load(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", 0.02)
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_parts"),
            (
                F.abs(approx.cast("double") - exact.cast("double"))
                <= 0.1 * exact.cast("double")
            )
            .cast("bigint")
            .alias("within_tolerance"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_count_distinct_multi",
    tags=("agg",),
    oracle="""
SELECT COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_orderkey <= 5000
""",
)
def agg_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) columns in one aggregation (Expand-based)."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 5000)
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_hll_sketch_merge",
    tags=("agg", "approx", "scale"),
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       CAST(1 AS BIGINT) AS within_tolerance
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches — the REUSABLE form of the 100 TB
    distinct count (vs agg_approx_count_distinct's one-shot): build
    one Datasketches HLL sketch per (returnflag, linestatus) leaf,
    then UNION the leaf sketches per returnflag and estimate. This is
    the precompute-then-rollup pattern: daily/partition sketches are
    materialized once and any coarser rollup (monthly, global) merges
    them in O(sketch bytes) without rescanning the fact table.

    Same self-verifying contract as the other approx aggregates:
    exact + |approx-exact| <= 10% flag in one result, oracle expects
    the flag true (sketch bytes themselves are engine-specific).
    """
    li = load(spark, sf_dir, "lineitem")
    leaves = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey", 14).alias("sk"),
        F.countDistinct("l_partkey").alias("leaf_exact"),
    )
    merged = leaves.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    exact = li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("exact_parts"))
    return (
        exact.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx").cast("double") - F.col("exact_parts").cast("double"))
                <= 0.1 * F.col("exact_parts").cast("double")
            )
            .cast("bigint")
            .alias("within_tolerance"),
        )
        .orderBy("l_returnflag")
    )


# Frequent-items sketch knobs: FREQ_CAP counters per leaf summary
# (Misra-Gries capacity), FREQ_LEAVES leaf summaries (stand-ins for
# per-partition/per-day summaries), top FREQ_TOPK terms reported.
FREQ_CAP = 32
FREQ_LEAVES = 8
FREQ_TOPK = 10


@register(
    "agg_freq_items_merge",
    tags=("agg", "approx", "scale", "text"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id % {FREQ_LEAVES} AS leaf, unnest(string_split(text, ' ')) AS term
  FROM documents
),
cnt AS (SELECT leaf, term, COUNT(*) AS n FROM tok GROUP BY leaf, term),
rk AS (
  SELECT leaf, term, n,
         ROW_NUMBER() OVER (PARTITION BY leaf ORDER BY n DESC, term) AS rk
  FROM cnt
),
kept AS (SELECT leaf, term, n FROM rk WHERE rk <= {FREQ_CAP}),
resid AS (
  SELECT l.leaf, COALESCE(r.n, 0) AS resid
  FROM (SELECT DISTINCT leaf FROM cnt) l
  LEFT JOIN (SELECT leaf, n FROM rk WHERE rk = {FREQ_CAP + 1}) r ON l.leaf = r.leaf
),
tot AS (SELECT CAST(SUM(resid) AS BIGINT) AS total_resid FROM resid),
bounds AS (
  SELECT k.term,
         CAST(SUM(k.n) AS BIGINT) AS lower_n,
         CAST(SUM(r.resid) AS BIGINT) AS covered
  FROM kept k JOIN resid r ON k.leaf = r.leaf
  GROUP BY k.term
),
exact AS (SELECT term, COUNT(*) AS exact_n FROM tok GROUP BY term),
topk AS (SELECT term, exact_n FROM exact ORDER BY exact_n DESC, term LIMIT {FREQ_TOPK})
SELECT t.term,
       CAST(t.exact_n AS BIGINT) AS exact_n,
       CAST(COALESCE(b.lower_n, 0) AS BIGINT) AS lower_n,
       CAST(COALESCE(b.lower_n, 0) + tot.total_resid - COALESCE(b.covered, 0) AS BIGINT)
         AS upper_n,
       CAST(CASE WHEN COALESCE(b.lower_n, 0) <= t.exact_n
                  AND t.exact_n <= COALESCE(b.lower_n, 0) + tot.total_resid
                                   - COALESCE(b.covered, 0)
             THEN 1 ELSE 0 END AS BIGINT) AS within_bound
FROM topk t LEFT JOIN bounds b ON t.term = b.term CROSS JOIN tot
ORDER BY exact_n DESC, t.term
""",
)
def agg_freq_items_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items (heavy-hitters) summaries — the
    corpus-level top-k terms WITHOUT a full-vocabulary rollup: each
    leaf (stand-in for a partition/day summary) keeps only its top
    FREQ_CAP term counts plus one residual bound (the count at rank
    FREQ_CAP+1 — the Misra-Gries decrement bound: any term NOT kept in
    a leaf occurs at most resid times there). Merging leaf summaries
    gives, for every term, lower = sum of kept counts and
    upper = lower + Σ resid over leaves where the term was dropped —
    the classic mergeable-summaries guarantee (Agarwal et al., 2012),
    so lower ≤ true ≤ upper ALWAYS holds. The query is self-verifying
    like agg_hll_sketch_merge (aggregates.py): it emits the exact
    count next to the sketch bounds and a within_bound flag the oracle
    expects true; the oracle replicates the full summary computation,
    so the hash check covers the sketch math, not just the flag.

    Scale: leaf summaries are O(FREQ_CAP) rows each — at 100 TB they
    are materialized per ingest partition and any coarser rollup
    (daily -> monthly -> global) merges summaries in O(cap × leaves)
    without rescanning the corpus; the exact side exists only as the
    in-query oracle. Error tightens as caps grow: property-tested in
    tests/test_quality.py (bound holds for EVERY term, not just the
    reported top-k).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        F.pmod("doc_id", F.lit(FREQ_LEAVES)).alias("leaf"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    cnt = tok.groupBy("leaf", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("leaf").orderBy(F.col("n").desc(), "term")
    rk = cnt.withColumn("rk", F.row_number().over(w))
    kept = rk.where(F.col("rk") <= FREQ_CAP).select("leaf", "term", "n")
    resid = (
        cnt.select("leaf")
        .distinct()
        .join(
            rk.where(F.col("rk") == FREQ_CAP + 1).select("leaf", F.col("n").alias("r")),
            "leaf",
            "left",
        )
        .select("leaf", F.coalesce("r", F.lit(0)).alias("resid"))
    )
    total = resid.agg(F.sum("resid").cast("bigint").alias("total_resid"))
    bounds = (
        kept.join(resid, "leaf")
        .groupBy("term")
        .agg(
            F.sum("n").cast("bigint").alias("lower_n"),
            F.sum("resid").cast("bigint").alias("covered"),
        )
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    topk = exact.orderBy(F.col("exact_n").desc(), "term").limit(FREQ_TOPK)
    lower = F.coalesce("lower_n", F.lit(0))
    upper = lower + F.col("total_resid") - F.coalesce("covered", F.lit(0))
    return (
        topk.join(bounds, "term", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            lower.cast("bigint").alias("lower_n"),
            upper.cast("bigint").alias("upper_n"),
            ((lower <= F.col("exact_n")) & (F.col("exact_n") <= upper))
            .cast("bigint")
            .alias("within_bound"),
        )
        .orderBy(F.col("exact_n").desc(), "term")
    )


# Quantile-sketch knobs: QSK_SIZE selected order statistics per leaf
# summary, QSK_LEAVES leaf summaries.
QSK_SIZE = 32
QSK_LEAVES = 8


@register(
    "agg_quantile_sketch_merge",
    tags=("agg", "approx", "scale"),
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS g, o_orderkey % {QSK_LEAVES} AS leaf,
         CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
),
rk AS (
  SELECT g, leaf, v,
         ROW_NUMBER() OVER (PARTITION BY g, leaf ORDER BY v) AS r,
         COUNT(*) OVER (PARTITION BY g, leaf) AS n
  FROM base
),
sel AS (SELECT g, leaf, v, r FROM rk WHERE (r * {QSK_SIZE}) // n > ((r - 1) * {QSK_SIZE}) // n),
wgt AS (
  SELECT g, leaf, v, r,
         r - COALESCE(LAG(r) OVER (PARTITION BY g, leaf ORDER BY r), 0) AS w
  FROM sel
),
tot AS (SELECT g, COUNT(*) AS n_rows FROM base GROUP BY g),
cum AS (
  SELECT g, v,
         SUM(w) OVER (PARTITION BY g ORDER BY v, leaf, r ROWS UNBOUNDED PRECEDING) AS cw
  FROM wgt
),
est AS (
  SELECT c.g, MIN(c.v) AS est_med
  FROM cum c JOIN tot t ON c.g = t.g
  WHERE c.cw >= (t.n_rows + 1) // 2
  GROUP BY c.g
),
chk AS (
  SELECT b.g, COUNT(*) FILTER (WHERE b.v <= e.est_med) AS est_rank
  FROM base b JOIN est e ON b.g = e.g
  GROUP BY b.g
)
SELECT t.g AS o_orderpriority,
       CAST(t.n_rows AS BIGINT) AS n_rows,
       ROUND(m.exact_med, 6) AS exact_med,
       ROUND(e.est_med, 6) AS est_med,
       CAST(CASE WHEN ABS(c.est_rank - (t.n_rows + 1) // 2)
                      <= CAST(t.n_rows AS DOUBLE) / {QSK_SIZE} + 2 * {QSK_LEAVES} + 2
             THEN 1 ELSE 0 END AS BIGINT) AS within_bound
FROM tot t
JOIN est e ON t.g = e.g
JOIN chk c ON t.g = c.g
JOIN (SELECT g, median(v) AS exact_med FROM base GROUP BY g) m ON t.g = m.g
ORDER BY o_orderpriority
""",
)
def agg_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summaries — the third mergeable sketch next
    to agg_hll_sketch_merge (distinct) and agg_freq_items_merge (heavy
    hitters): each leaf keeps a SYSTEMATIC RANK SAMPLE of QSK_SIZE
    order statistics, every sampled value carrying an exact integer
    weight = the run of leaf ranks it covers (so a leaf summary is
    O(QSK_SIZE) rows and the weights sum to the leaf count exactly).
    Merging = union the weighted samples and walk the value-sorted
    cumulative weight to the target rank: for any merged value v the
    cumulative weight undercounts the true rank by at most the leaf's
    max sample gap ceil(n_leaf/QSK_SIZE), so the median estimate's
    rank error is bounded by N/QSK_SIZE + O(#leaves) — the classic
    mergeable epsilon-approximate-quantile guarantee. Every decision
    (rank selection via integer division, weights, cumulative sums,
    threshold crossing) is INTEGER arithmetic on identical inputs, so
    the estimate is bit-identical cross-engine and the oracle
    replicates the whole sketch, not just a flag.

    Scale: leaf summaries are the materialize-once form — per-ingest-
    partition samples roll up to any coarser quantile (daily -> global)
    in O(size x leaves) without re-sorting the fact table; exact
    percentile (agg_percentiles_exact) needs the full per-group sort.
    The within_bound flag carries the guarantee into the hash check;
    tests/test_quality.py property-tests the rank-error bound.
    """
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.pmod("o_orderkey", F.lit(QSK_LEAVES)).alias("leaf"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    wl = Window.partitionBy("g", "leaf")
    rk = base.select(
        "g",
        "leaf",
        "v",
        F.row_number().over(wl.orderBy("v")).alias("r"),
        F.count(F.lit(1)).over(wl).alias("n"),
    )
    sel = rk.where(
        F.expr(f"(r * {QSK_SIZE}) div n") > F.expr(f"((r - 1) * {QSK_SIZE}) div n")
    )
    wgt = sel.select(
        "g",
        "leaf",
        "v",
        "r",
        (
            F.col("r")
            - F.coalesce(
                F.lag("r").over(Window.partitionBy("g", "leaf").orderBy("r")), F.lit(0)
            )
        ).alias("w"),
    )
    tot = base.groupBy("g").agg(F.count(F.lit(1)).alias("n_rows"))
    cum = wgt.select(
        "g",
        "v",
        F.sum("w")
        .over(
            Window.partitionBy("g")
            .orderBy("v", "leaf", "r")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cw"),
    )
    est = (
        cum.join(tot, "g")
        .where(F.col("cw") >= F.expr("(n_rows + 1) div 2"))
        .groupBy("g")
        .agg(F.min("v").alias("est_med"))
    )
    chk = (
        base.join(F.broadcast(est), "g")
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est_med"), 1).otherwise(0)).alias(
                "est_rank"
            )
        )
    )
    exact = base.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("exact_med"))
    tol = F.col("n_rows").cast("double") / QSK_SIZE + 2 * QSK_LEAVES + 2
    return (
        tot.join(est, "g")
        .join(chk, "g")
        .join(exact, "g")
        .select(
            F.col("g").alias("o_orderpriority"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.round("exact_med", 6).alias("exact_med"),
            F.round("est_med", 6).alias("est_med"),
            (
                F.abs(F.col("est_rank") - F.expr("(n_rows + 1) div 2")).cast("double")
                <= tol
            )
            .cast("bigint")
            .alias("within_bound"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_unpivot_measures",
    tags=("agg", "reshape"),
    oracle="""
WITH u AS (
  SELECT l_returnflag, 'extendedprice' AS measure,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS val
  FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'quantity', CAST(l_quantity AS DECIMAL(18,2)) FROM lineitem
)
SELECT l_returnflag, measure,
       COUNT(*) AS n,
       CAST(SUM(val) AS DOUBLE) AS total
FROM u
GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
""",
)
def agg_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long reshape): melt four lineitem measure
    columns into (measure, value) rows, then aggregate per
    (returnflag, measure) — the inverse of agg_pivot, via the native
    DataFrame ``unpivot`` operator (Catalyst Expand node).

    Scale: Expand emits 4 rows per input row map-side — no shuffle is
    added beyond the final partial-aggregated group-by; the long form
    is what metric stores and per-measure statistics jobs consume.
    """
    li = load(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("extendedprice"),
        F.col("l_discount").cast("decimal(18,2)").alias("discount"),
        F.col("l_tax").cast("decimal(18,2)").alias("tax"),
        F.col("l_quantity").cast("decimal(18,2)").alias("quantity"),
    ).unpivot(
        ids=["l_returnflag"],
        values=["extendedprice", "discount", "tax", "quantity"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("double").alias("total"),
        )
        .orderBy("l_returnflag", "measure")
    )


@register(
    "agg_bitmap_distinct_rollup",
    tags=("agg", "scale"),
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       CAST(1 AS BIGINT) AS bitmap_matches
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via Spark 4 bitmap aggregates —
    the deterministic sibling of agg_hll_sketch_merge: integer keys
    are folded into per-(leaf, bucket) roaring-style bitmaps
    (bitmap_bucket_number partitions the key space into 32768-bit
    buckets, so OR-merging is only ever done within a bucket), leaf
    bitmaps OR-merge into rollups without rescanning, and
    bitmap_count sums per group give the exact distinct count. The
    query emits the exact COUNT(DISTINCT) beside the bitmap-derived
    count with an equality flag the oracle pins to 1 — unlike HLL's
    tolerance band, bitmaps are exact, so the flag is equality.

    Scale: bitmap bytes per bucket are bounded (4 KB), leaves merge in
    O(buckets touched); for dense integer key spaces this beats HLL on
    both accuracy (exact) and merge cost — the precompute-then-rollup
    distinct pattern when keys are ints.
    """
    li = load(spark, sf_dir, "lineitem")
    leaf = (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias("b"))
    )
    merged = leaf.groupBy("l_returnflag", "bkt").agg(
        F.expr("bitmap_or_agg(b)").alias("bm")
    )
    bitmap_counts = merged.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("bitmap_parts")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return (
        exact.join(bitmap_counts, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (F.col("bitmap_parts") == F.col("exact_parts")).cast("bigint").alias("bitmap_matches"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_pivot_dynamic",
    tags=("agg", "scale"),
    oracle="""
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1_urgent,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2_high,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3_medium,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5_low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic pivot — the two-phase pattern for when the pivot
    column's value set is NOT known ahead of time: phase 1 collects
    the distinct values (bounded driver state — a pivot is only
    meaningful for low-cardinality columns, and the collect makes
    that bound explicit); phase 2 pivots on the discovered list,
    which lets Spark skip its own implicit values-discovery job AND
    yields deterministic column order (sorted). The oracle pins the
    converged value set: discovery must find exactly the five
    priorities. Column names are sanitized to SQL identifiers the
    same way on both sides.

    Scale: phase 1 is a map-side-combined distinct on one column;
    unbounded-cardinality pivots are a modeling error this pattern
    surfaces at the collect (cap it in production). agg_pivot is the
    static-list variant.
    """
    o = load(spark, sf_dir, "orders")
    vals = sorted(
        r[0] for r in o.select("o_orderpriority").distinct().collect()
    )  # bounded: pivot cardinality
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", vals)
        .agg(F.count(F.lit(1)))
    )
    def col_alias(v: str) -> str:
        # '1-URGENT' -> 'p1_urgent' (SQL-identifier-safe, sorted order)
        return "p" + v.lower().replace("-", "_").replace(" ", "_")

    renamed = piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(col_alias(v)) for v in vals],
    )
    return renamed.orderBy("o_orderstatus")


@register(
    "agg_listagg_ordered",
    tags=("agg", "string"),
    oracle="""
SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n
FROM nation
GROUP BY n_regionkey
ORDER BY regionkey
""",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's listagg WITHIN GROUP
    (ORDER BY), the ANSI string_agg: deterministic because the
    intra-group order is DECLARED, not inherited from partition
    layout (the trap collect_list falls into;
    agg_collect_list_sorted is the pre-4.0 workaround formulation).

    Scale: same shuffle as any group-by; output size is the governed
    quantity — use it on bounded groups (a dimension here), never to
    concatenate a fact table into strings.
    """
    n = load(spark, sf_dir, "nation")
    n.createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(*) AS n
        FROM nation
        GROUP BY n_regionkey
        ORDER BY regionkey
        """
    )


KMV_K = 256
KMV_MAXH = 1 << 60  # hash60 range upper bound; exact in double


@register(
    "agg_kmv_theta_sketch_ops",
    tags=("agg", "approx", "scale"),
    oracle=f"""
WITH a AS (
  SELECT DISTINCT {sql_hash60("'u' || CAST(o_custkey AS VARCHAR)")} AS h
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
b AS (
  SELECT DISTINCT {sql_hash60("'u' || CAST(o_custkey AS VARCHAR)")} AS h
  FROM orders WHERE o_orderpriority = '2-HIGH'
),
ska AS (SELECT h FROM a ORDER BY h LIMIT {KMV_K}),
skb AS (SELECT h FROM b ORDER BY h LIMIT {KMV_K}),
sa AS (SELECT COUNT(*) AS n, MAX(h) AS mx FROM ska),
sb AS (SELECT COUNT(*) AS n, MAX(h) AS mx FROM skb),
ex AS (
  SELECT COUNT(DISTINCT CASE WHEN p1 THEN k END) AS xa,
         COUNT(DISTINCT CASE WHEN p2 THEN k END) AS xb,
         COUNT(DISTINCT CASE WHEN p1 AND p2 THEN k END) AS xi
  FROM (
    SELECT o_custkey AS k,
           BOOL_OR(o_orderpriority = '1-URGENT') AS p1,
           BOOL_OR(o_orderpriority = '2-HIGH') AS p2
    FROM orders GROUP BY o_custkey
  )
),
th AS (
  SELECT LEAST(CASE WHEN sa.n < {KMV_K} THEN {KMV_MAXH} ELSE sa.mx END,
               CASE WHEN sb.n < {KMV_K} THEN {KMV_MAXH} ELSE sb.mx END) AS theta
  FROM sa, sb
),
ni AS (
  SELECT COUNT(*) AS n_inter
  FROM ska JOIN skb USING (h), th
  WHERE ska.h < th.theta
)
SELECT CAST({KMV_K} AS BIGINT) AS k,
       CAST(ex.xa AS BIGINT) AS exact_a,
       ROUND(CASE WHEN sa.n < {KMV_K} THEN CAST(sa.n AS DOUBLE)
                  ELSE ({KMV_K} - 1.0) * (CAST({KMV_MAXH} AS DOUBLE) / CAST(sa.mx AS DOUBLE)) END, 4) AS est_a,
       CAST(ex.xb AS BIGINT) AS exact_b,
       ROUND(CASE WHEN sb.n < {KMV_K} THEN CAST(sb.n AS DOUBLE)
                  ELSE ({KMV_K} - 1.0) * (CAST({KMV_MAXH} AS DOUBLE) / CAST(sb.mx AS DOUBLE)) END, 4) AS est_b,
       CAST(ex.xi AS BIGINT) AS exact_inter,
       ROUND(CAST(ni.n_inter AS DOUBLE) * (CAST({KMV_MAXH} AS DOUBLE) / CAST(th.theta AS DOUBLE)), 4) AS est_inter
FROM sa, sb, ex, th, ni
""",
)
def agg_kmv_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch with SET OPERATIONS — the mergeable distinct
    sketch that supports INTERSECTION, which HLL cannot (HLL unions
    losslessly but intersections via inclusion-exclusion blow up the
    error): keep the k={KMV_K} minimum 60-bit hash values per segment;
    the kth minimum estimates density (est = (k-1)·H/h_k), and two
    sketches intersect by counting shared retained hashes below
    θ = min(θ_A, θ_B), scaled by H/θ — the Apache-DataSketches theta
    semantics. Segments smaller than k degrade to exact sets (θ = H),
    so the estimator is exact there by construction. Output carries
    the exact distinct counts side by side, hash-pinning both the
    sketch arithmetic AND its accuracy on this corpus.

    Scale: the k-minimum pass is Spark's TakeOrderedAndProject — each
    partition keeps its own k smallest, the driver merges O(k·parts)
    values — the same bounded-summary contract as agg_hll_sketch_merge
    / agg_quantile_sketch_merge; sketches are O(k) forever after, so
    segment set algebra (union/intersect/difference estimates over
    billions of keys) runs on KB-sized state without rescanning the
    corpus. The exact-count columns are the only O(distinct) work and
    exist purely as the accuracy oracle.
    """
    o = load(spark, sf_dir, "orders")
    h = hash60(F.concat(F.lit("u"), F.col("o_custkey").cast("string")))

    def sketch(prio: str) -> DataFrame:
        return (
            o.where(F.col("o_orderpriority") == prio)
            .select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(KMV_K)
        )

    ska, skb = sketch("1-URGENT"), sketch("2-HIGH")
    sa = ska.agg(F.count(F.lit(1)).alias("n_a"), F.max("h").alias("mx_a"))
    sb = skb.agg(F.count(F.lit(1)).alias("n_b"), F.max("h").alias("mx_b"))
    ex = (
        o.groupBy("o_custkey")
        .agg(
            F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("p1"),
            F.max((F.col("o_orderpriority") == "2-HIGH").cast("int")).alias("p2"),
        )
        .agg(
            F.sum("p1").cast("bigint").alias("exact_a"),
            F.sum("p2").cast("bigint").alias("exact_b"),
            F.sum(F.col("p1") * F.col("p2")).cast("bigint").alias("exact_inter"),
        )
    )
    maxh_d = float(KMV_MAXH)
    stats = sa.crossJoin(sb).withColumn(
        "theta",
        F.least(
            F.when(F.col("n_a") < KMV_K, F.lit(KMV_MAXH)).otherwise(F.col("mx_a")),
            F.when(F.col("n_b") < KMV_K, F.lit(KMV_MAXH)).otherwise(F.col("mx_b")),
        ),
    )
    ni = (
        ska.join(skb, "h")
        .crossJoin(F.broadcast(stats.select("theta")))
        .where(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        stats.crossJoin(ex)
        .crossJoin(ni)
        .select(
            F.lit(KMV_K).cast("bigint").alias("k"),
            "exact_a",
            F.round(
                F.when(F.col("n_a") < KMV_K, F.col("n_a").cast("double")).otherwise(
                    F.lit(KMV_K - 1.0) * (F.lit(maxh_d) / F.col("mx_a").cast("double"))
                ),
                4,
            ).alias("est_a"),
            "exact_b",
            F.round(
                F.when(F.col("n_b") < KMV_K, F.col("n_b").cast("double")).otherwise(
                    F.lit(KMV_K - 1.0) * (F.lit(maxh_d) / F.col("mx_b").cast("double"))
                ),
                4,
            ).alias("est_b"),
            "exact_inter",
            F.round(
                F.col("n_inter").cast("double")
                * (F.lit(maxh_d) / F.col("theta").cast("double")),
                4,
            ).alias("est_inter"),
        )
    )


CMS_DEPTH = 4     # hash rows
CMS_WIDTH = 128   # buckets per row
CMS_PROBES = 20   # custkeys probed for estimates


@register(
    "agg_count_min_sketch",
    tags=("agg", "approx", "scale"),
    oracle=f"""
WITH seeds AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS s),
-- ONE md5 per occurrence; hash row s reads its own disjoint 7-hex
-- (28-bit) slice -- the d-hashes-from-one-digest trick
h AS (SELECT o_custkey, md5('cms|' || CAST(o_custkey AS VARCHAR)) AS hx FROM orders),
sketch AS (
  SELECT s,
         CAST(('0x' || substr(hx, 1 + 7 * s, 7)) AS BIGINT) % {CMS_WIDTH} AS bucket,
         COUNT(*) AS cnt
  FROM h CROSS JOIN seeds
  GROUP BY 1, 2
),
probes AS (
  SELECT o_custkey, COUNT(*) AS exact_cnt FROM orders
  WHERE o_custkey <= {CMS_PROBES} GROUP BY o_custkey
),
est AS (
  SELECT p.o_custkey, p.exact_cnt, MIN(sk.cnt) AS cms_est
  FROM probes p
  CROSS JOIN seeds
  JOIN sketch sk
    ON sk.s = seeds.s
   AND sk.bucket = CAST(('0x' || substr(md5('cms|' || CAST(p.o_custkey AS VARCHAR)), 1 + 7 * seeds.s, 7)) AS BIGINT) % {CMS_WIDTH}
  GROUP BY p.o_custkey, p.exact_cnt
)
SELECT o_custkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est
FROM est ORDER BY o_custkey
""",
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) — point
    frequency estimates for EVERY key out of {CMS_DEPTH}x{CMS_WIDTH}
    bounded counters: each occurrence increments one bucket per hash
    row, a key's estimate is the MIN over its {CMS_DEPTH} buckets, and
    the error is ONE-SIDED (estimate >= true count, always — collisions
    only inflate). Completes the mergeable-sketch family next to HLL
    (distincts), Misra-Gries (heavy hitters), GK (quantiles), bitmap
    (exact distincts) and KMV/theta (distinct set algebra): CMS is the
    one that answers "how often did THIS key occur" on unbounded
    keyspaces. Probes the first {CMS_PROBES} customers and emits
    exact vs estimate side by side, hash-pinning the one-sided
    guarantee on this corpus (also property-tested).

    Scale: the sketch build is ONE map-side-combined groupBy over
    (row, bucket) — {CMS_DEPTH * CMS_WIDTH} cells of state regardless
    of key cardinality, mergeable across partitions/days by cell-wise
    addition (counters are linear); probes are a broadcast join
    against the KB-sized sketch. Cross-engine bucketing contract: one
    md5 of 'cms|key' per row, hash row s taking its own disjoint 7-hex
    (28-bit) slice of the digest, mod width — identical arithmetic in
    Spark (conv/substring) and the DuckDB oracle (substr/CAST 0x).
    """
    o = load(spark, sf_dir, "orders").select("o_custkey")
    hx = F.md5(F.concat(F.lit("cms|"), F.col("o_custkey").cast("string")))

    def cells(df):
        # one md5 per row (the 4 references CSE to a single eval in
        # codegen); row s slices its own disjoint 7-hex (28-bit) range
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            (
                                F.conv(F.substring(hx, 1 + 7 * s, 7), 16, 10).cast("bigint")
                                % CMS_WIDTH
                            ).alias("bucket"),
                        )
                        for s in range(CMS_DEPTH)
                    ]
                )
            ).alias("sb"),
        ).select(*df.columns, F.col("sb.s").alias("s"), F.col("sb.bucket").alias("bucket"))

    sketch = cells(o).groupBy("s", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = (
        o.where(F.col("o_custkey") <= CMS_PROBES)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    probe_cells = cells(probes)
    return (
        probe_cells.join(F.broadcast(sketch), ["s", "bucket"])
        .groupBy("o_custkey", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "o_custkey",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
        )
        .orderBy("o_custkey")
    )


@register(
    "agg_skewness_kurtosis",
    tags=("agg", "stats"),
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS s1,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s3,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m3,
         CAST(s4 AS DOUBLE) / n
           - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
           + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
  FROM s
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND(m3 / (SQRT(m2) * SQRT(m2) * SQRT(m2)), 6) AS skewness,
       ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
FROM m ORDER BY l_returnflag
""",
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher central moments — population skewness (m3/m2^1.5) and
    excess kurtosis (m4/m2^2 - 3) per return flag, completing the
    moments ladder above agg_moments_exact (var/stddev) and agg_corr.
    Built from RAW INTEGER power sums (l_quantity is integral, so
    Σq..Σq⁴ are exact BIGINTs, order-independent under any partial
    aggregation) rather than the engines' builtin skewness()/
    kurtosis() — whose bias conventions differ between engines; the
    explicit formulation pins ONE convention and makes both engines
    evaluate the identical IEEE expression tree.

    Scale: four power sums ride the same map-side-combined single
    pass as any sum — the sufficient-statistics pattern
    (ml_ridge_closed_form's cousin): O(1) state per group, moments
    derived on KB-sized aggregates.
    """
    q = F.col("l_quantity").cast("bigint")
    s = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("s1"),
            F.sum(q * q).alias("s2"),
            F.sum(q * q * q).alias("s3"),
            F.sum(q * q * q * q).alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m1 * m1
    m3 = (
        F.col("s3").cast("double") / n
        - F.lit(3.0) * m1 * (F.col("s2").cast("double") / n)
        + F.lit(2.0) * m1 * m1 * m1
    )
    m4 = (
        F.col("s4").cast("double") / n
        - F.lit(4.0) * m1 * (F.col("s3").cast("double") / n)
        + F.lit(6.0) * m1 * m1 * (F.col("s2").cast("double") / n)
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


DP_SCALE = 2.0  # Laplace scale b = sensitivity/epsilon = 1/0.5
# Release nonce: the Laplace draw is seeded from hash(nonce || key), not
# key alone, so each RELEASE of the same statistic gets fresh noise (the
# nonce changes per release) while any single release stays reproducible
# and cross-engine hash-checkable. Overridable for testing; both the
# Spark query and the DuckDB oracle interpolate the SAME value at import.
DP_NONCE = os.environ.get("SPARK_GRAFT_DP_NONCE", "release-2026-08-r7")


@register(
    "dq_dp_noisy_counts",
    tags=("agg", "dq", "privacy"),
    oracle=f"""
WITH c AS (
  SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
),
u AS (
  SELECT event_type, n,
         CAST(GREATEST({sql_hash60(f"'{DP_NONCE}|dp|' || event_type")}, 1) AS DOUBLE)
           / 1152921504606846976.0 - 0.5 AS uni
  FROM c
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND(n + (-{DP_SCALE}) * SIGN(uni) * LN(1.0 - 2.0 * ABS(uni)), 6) AS noisy_n
FROM u ORDER BY event_type
""",
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private counts via the Laplace mechanism
    (sensitivity 1, epsilon 0.5 -> scale b = {DP_SCALE}): noise drawn
    by inverse-CDF transform of a SEEDED uniform — the portable 60-bit
    hash of (release nonce || group key) mapped into (-1/2, 1/2),
    clamped off the atom at exactly -1/2 — so the draw is a pure
    function of (nonce, key): any single release is reproducible and
    hash-checkable cross-engine, while rotating the nonce per release
    re-randomizes the noise (the per-release-seed discipline of
    testable DP pipelines).

    What this is and is not: the MECHANISM (Laplace, sensitivity 1,
    inverse-CDF) is the real one, and with a nonce drawn fresh and
    secret per release it delivers epsilon-DP per release. What ships
    here is the correctness FIXTURE of that mechanism: the default
    nonce is a public constant (so the DuckDB oracle can pin the same
    draw), the true count is emitted alongside the noisy one, and
    epsilon does not compose across re-releases — none of which a
    privacy-bearing deployment would do. A real release draws the
    nonce from a CSPRNG, ships noisy_n alone, and accounts the budget.

    Scale: noise is O(1) per GROUP, applied after the map-side-
    combined aggregate — DP costs nothing at 100 TB; the engine-side
    guarantee is that noise is added exactly once per released
    statistic, which the seeded formulation makes auditable.
    """
    c = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    uni = (
        F.greatest(
            hash60(F.concat(F.lit(f"{DP_NONCE}|dp|"), F.col("event_type"))), F.lit(1)
        ).cast("double")
        / F.lit(float(1 << 60))
        - F.lit(0.5)
    )
    u = c.select("event_type", "n", uni.alias("uni"))
    return u.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n")
            + F.lit(-DP_SCALE)
            * F.signum("uni")
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs("uni")),
            6,
        ).alias("noisy_n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- bloom

BLOOM_BITS_PER_KEY = 8  # m = 8n bits -> fp ~ (1 - e^(-3/8))^3 ~ 3% at k=3
BLOOM_K = 3  # hash functions per key
BLOOM_WORD_BITS = 32  # 1 << bit stays positive in a bigint
BLOOM_PROBE_OFFSET = 1_000_000_000  # shifts customer keys out of the member set


@register(
    "agg_bloom_filter_membership",
    tags=("agg", "sketch"),
    oracle=f"""
WITH src AS (SELECT DISTINCT o_custkey AS key FROM orders),
kv AS (SELECT {BLOOM_BITS_PER_KEY} * COUNT(*) AS m FROM src),
build_pos AS (
  SELECT src.key, g.i AS hf,
         {sql_hash60("CAST(g.i AS VARCHAR) || '|' || CAST(src.key AS VARCHAR)")}
           % (SELECT m FROM kv) AS pos
  FROM src CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i) g(i)
),
bloom AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INT)) AS bits
  FROM build_pos GROUP BY pos // {BLOOM_WORD_BITS}
),
probe_keys AS (
  SELECT c_custkey AS key FROM customer
  UNION ALL
  SELECT c_custkey + {BLOOM_PROBE_OFFSET} AS key FROM customer
),
probe AS (
  SELECT p.key, g.i AS hf,
         {sql_hash60("CAST(g.i AS VARCHAR) || '|' || CAST(p.key AS VARCHAR)")}
           % (SELECT m FROM kv) AS pos
  FROM probe_keys p CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i) g(i)
),
hits AS (
  SELECT p.key,
         SUM(CASE WHEN b.bits IS NOT NULL
                   AND (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % {BLOOM_WORD_BITS} AS INT))) <> 0
                  THEN 1 ELSE 0 END) AS n_set
  FROM probe p LEFT JOIN bloom b ON p.pos // {BLOOM_WORD_BITS} = b.word
  GROUP BY p.key
),
truth AS (SELECT DISTINCT o_custkey AS key FROM orders)
SELECT COUNT(*) AS n_probed,
       CAST(SUM(CASE WHEN h.n_set = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS claimed_pos,
       CAST(SUM(CASE WHEN t.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
       CAST(SUM(CASE WHEN h.n_set = {BLOOM_K} AND t.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
       CAST(SUM(CASE WHEN h.n_set < {BLOOM_K} AND t.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_neg
FROM hits h LEFT JOIN truth t ON h.key = t.key
""",
)
def agg_bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom filter as a MERGEABLE aggregate: build an
    m = {BLOOM_BITS_PER_KEY}n-bit filter over the ordering-customer
    key set (k={BLOOM_K} md5-sliced hash positions per key,
    OR-combined into 32-bit words inside bigints — bit_or is
    associative+commutative, so the build is map-side combinable and
    shards merge without rescan), then probe every customer key PLUS
    an offset-shifted copy guaranteed absent, reporting claimed /
    true / false-positive counts. Sizing the filter proportional to n
    keeps the false-positive rate ~3% at EVERY corpus scale (a fixed
    m saturates: by 4x the design load every probe claims membership);
    false_neg is pinned 0 by the Bloom property (a test asserts it),
    and every count is exact because the hash positions are.

    Scale: the filter is m/32 = n/4 rows keyed by word — broadcast to
    the probe side while n·{BLOOM_K} stays in broadcast range, the
    bucketed equi-join beyond; both group-bys are partial-aggregable;
    n itself is one scalar aggregate (bounded driver state, the
    kmeans-centroid convention).
    """
    # cached via the shared registry: the distinct key set feeds three
    # consumers (count for sizing, filter build, truth join)
    keys = cache(
        load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key")).distinct()
    )
    m_bits = BLOOM_BITS_PER_KEY * keys.count()

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "key", F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("hf")
        ).select(
            "key",
            "hf",
            (
                hash60(
                    F.concat_ws("|", F.col("hf").cast("string"), F.col("key").cast("string"))
                )
                % m_bits
            ).alias("pos"),
        )

    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))")
    bloom = (
        positions(keys)
        .groupBy((F.col("pos") / BLOOM_WORD_BITS).cast("bigint").alias("word"))
        .agg(F.bit_or(mask).alias("bits"))
    )
    cust = load(spark, sf_dir, "customer")
    probe_keys = cust.select(F.col("c_custkey").alias("key")).unionAll(
        cust.select((F.col("c_custkey") + BLOOM_PROBE_OFFSET).alias("key"))
    )
    probe = positions(probe_keys).withColumn(
        "word", (F.col("pos") / BLOOM_WORD_BITS).cast("bigint")
    )
    hits = (
        probe.join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            F.when(
                F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(mask) != 0), 1
            ).otherwise(0),
        )
        .groupBy("key")
        .agg(F.sum("hit").alias("n_set"))
    )
    truth = keys.withColumn("is_member", F.lit(1))
    j = hits.join(truth, "key", "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.when(F.col("n_set") == BLOOM_K, 1).otherwise(0))
        .cast("bigint")
        .alias("claimed_pos"),
        F.sum(F.when(F.col("is_member").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("true_pos"),
        F.sum(
            F.when((F.col("n_set") == BLOOM_K) & F.col("is_member").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_pos"),
        F.sum(
            F.when((F.col("n_set") < BLOOM_K) & F.col("is_member").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_neg"),
    )


@register(
    "agg_mode_deterministic",
    tags=("agg",),
    oracle="""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events
  GROUP BY user_id, event_type
),
r AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
  FROM c
)
SELECT user_id, event_type AS mode_event, CAST(n AS BIGINT) AS n
FROM r WHERE rk = 1 ORDER BY user_id
""",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event
    type with an explicit lexicographic tie-break. Both engines ship a
    native mode() whose tie behavior is unspecified — count+window
    with a total order is the portable (and partition-invariant) form.

    Scale: partial-aggregable count on the composite key, then a
    window over the per-user value domain (n_users × n_event_types
    rows, not the event stream)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event"),
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------- chi-square independence

CHI2_MICRO = 1_000_000  # fixed-point scale for summable contributions


@register(
    "agg_chisq_independence",
    tags=("aggregate", "stats"),
    oracle=f"""
WITH o AS MATERIALIZED (
  SELECT event_type, dayofweek(ts) AS dow0, COUNT(*) AS obs
  FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(obs) AS r FROM o GROUP BY 1),
ct AS (SELECT dow0, SUM(obs) AS c FROM o GROUP BY 1),
n AS (SELECT SUM(obs) AS n FROM o),
cells AS (
  SELECT o.event_type, o.dow0, o.obs,
         CAST(rt.r * ct.c AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE) AS e
  FROM o JOIN rt USING (event_type) JOIN ct USING (dow0)
),
contrib AS (
  SELECT event_type, obs,
         CAST(FLOOR((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e) / e
                    * {CHI2_MICRO}.0) AS BIGINT) AS cmicro
  FROM cells
),
parts AS MATERIALIZED (
  SELECT event_type, CAST(SUM(obs) AS BIGINT) AS n_events,
         CAST(SUM(cmicro) AS BIGINT) AS chi2_part_micro
  FROM contrib GROUP BY 1
)
SELECT event_type, n_events, chi2_part_micro,
       CAST(chi2_part_micro AS DOUBLE) / {CHI2_MICRO}.0 AS chi2_part
FROM parts
UNION ALL
SELECT '__ALL__', CAST(SUM(n_events) AS BIGINT), CAST(SUM(chi2_part_micro) AS BIGINT),
       CAST(CAST(SUM(chi2_part_micro) AS BIGINT) AS DOUBLE) / {CHI2_MICRO}.0
FROM parts
ORDER BY event_type
""",
)
def agg_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence on the event_type ×
    weekday contingency table (is traffic mix stable across the week —
    the standard drift/seasonality check on an event log), reported as
    per-type partial statistics plus the '__ALL__' total; df is
    (types−1)(days−1) = 24 here.

    Determinism: a FLOAT Σ(O−E)²/E depends on cell visit order, so the
    per-cell contribution is floored into MICRO fixed-point (the
    pagerank nano-unit discipline) and summed as exact bigints — the
    total is then bit-identical cross-engine and across partitionings,
    understating true chi² by < 35 µ. Each cell's (O−E)²/E is itself a
    fixed-order IEEE tree on exact integer inputs.

    Scale: one partial-aggregable groupBy to the 35-cell contingency
    table; marginals and the total aggregate THAT table. The exchange
    carries ~35 rows at any corpus size.
    """
    ev = load(spark, sf_dir, "events")
    o = cache(
        ev.groupBy("event_type", (F.dayofweek("ts") - 1).alias("dow0")).agg(
            F.count(F.lit(1)).alias("obs")
        )
    )
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("dow0").agg(F.sum("obs").alias("c"))
    n_tot = o.agg(F.sum("obs").alias("n_tot"))  # 1-row frame, broadcast below
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n_tot").cast("double")
    od = F.col("obs").cast("double")
    cmicro = F.floor((od - e) * (od - e) / e * CHI2_MICRO).cast("bigint")
    parts = cache(
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow0")
        .crossJoin(F.broadcast(n_tot))
        .select("event_type", "obs", cmicro.alias("cmicro"))
        .groupBy("event_type")
        .agg(
            F.sum("obs").cast("bigint").alias("n_events"),
            F.sum("cmicro").cast("bigint").alias("chi2_part_micro"),
        )
    )
    total = parts.agg(
        F.lit("__ALL__").alias("event_type"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("chi2_part_micro").cast("bigint").alias("chi2_part_micro"),
    )
    out = parts.select(
        "event_type", "n_events", "chi2_part_micro"
    ).unionAll(total.select("event_type", "n_events", "chi2_part_micro"))
    return out.select(
        "event_type",
        "n_events",
        "chi2_part_micro",
        (F.col("chi2_part_micro").cast("double") / CHI2_MICRO).alias("chi2_part"),
    ).orderBy("event_type")


# --------------------------------------------- robust means

TRIM_FRAC_DEN = 10  # trim/winsorize n//10 rows from each tail


@register(
    "agg_trimmed_winsorized_mean",
    tags=("agg", "stats"),
    oracle=f"""
WITH v AS MATERIALIZED (
  SELECT event_type, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
rk AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
b AS MATERIALIZED (SELECT event_type, cents, i, n, n // {TRIM_FRAC_DEN} AS lo FROM rk),
tr AS MATERIALIZED (
  SELECT event_type, MAX(n) AS n,
         SUM(CASE WHEN i > lo AND i <= n - lo THEN cents ELSE 0 END) AS tsum,
         SUM(CASE WHEN i > lo AND i <= n - lo THEN 1 ELSE 0 END) AS tcnt,
         MIN(CASE WHEN i = lo + 1 THEN cents END) AS lo_cap,
         MIN(CASE WHEN i = n - lo THEN cents END) AS hi_cap
  FROM b GROUP BY event_type
),
wz AS (
  SELECT b.event_type,
         SUM(CASE WHEN b.i <= b.lo THEN t.lo_cap
                  WHEN b.i > b.n - b.lo THEN t.hi_cap
                  ELSE b.cents END) AS wsum,
         COUNT(*) AS wcnt
  FROM b JOIN tr t ON b.event_type = t.event_type
  GROUP BY b.event_type
)
SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
       ROUND(CAST(t.tsum AS DOUBLE) / (100.0 * t.tcnt), 6) AS trimmed_mean,
       ROUND(CAST(w.wsum AS DOUBLE) / (100.0 * w.wcnt), 6) AS winsorized_mean
FROM tr t JOIN wz w ON t.event_type = w.event_type
ORDER BY t.event_type
""",
)
def agg_trimmed_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates per event_type: the 10%-trimmed mean
    (drop n//10 rows from each tail) and the winsorized mean (CLAMP
    each tail to the cut values instead of dropping) — the outlier-
    resistant aggregates a metrics pipeline reports next to the raw
    mean when heavy tails would let a few whale payments move it.
    Rank-based cuts in exact integer cents (no interpolation, no FP),
    so both statistics are single exact-integer IEEE divisions —
    completing the robust tier started by window_median_mad_robust.

    Scale: one rank window per event_type (per-key sort, the same
    shuffle as the median), then two partial-aggregable group-bys over
    the ranked rows; the caps join is on the |event_types|-row summary.
    """
    from pyspark.sql import Window

    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    v = load(spark, sf_dir, "events").select(
        "event_type", "event_id", cents.alias("cents")
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    b = cache(
        v.select(
            "event_type",
            "cents",
            F.row_number().over(wr).alias("i"),
            F.count(F.lit(1)).over(wn).alias("n"),
        ).withColumn("lo", F.expr(f"n div {TRIM_FRAC_DEN}"))
    )
    inner = (F.col("i") > F.col("lo")) & (F.col("i") <= F.col("n") - F.col("lo"))
    tr = b.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.when(inner, F.col("cents")).otherwise(F.lit(0))).alias("tsum"),
        F.sum(F.when(inner, F.lit(1)).otherwise(F.lit(0))).alias("tcnt"),
        F.min(F.when(F.col("i") == F.col("lo") + 1, F.col("cents"))).alias("lo_cap"),
        F.min(F.when(F.col("i") == F.col("n") - F.col("lo"), F.col("cents"))).alias("hi_cap"),
    )
    wz = (
        b.join(F.broadcast(tr.select("event_type", "lo_cap", "hi_cap")), "event_type")
        .select(
            "event_type",
            F.when(F.col("i") <= F.col("lo"), F.col("lo_cap"))
            .when(F.col("i") > F.col("n") - F.col("lo"), F.col("hi_cap"))
            .otherwise(F.col("cents"))
            .alias("wcents"),
        )
        .groupBy("event_type")
        .agg(F.sum("wcents").alias("wsum"), F.count(F.lit(1)).alias("wcnt"))
    )
    return (
        tr.join(wz, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("tsum").cast("double") / (F.lit(100.0) * F.col("tcnt")), 6).alias("trimmed_mean"),
            F.round(F.col("wsum").cast("double") / (F.lit(100.0) * F.col("wcnt")), 6).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- Benford first-digit audit

import math as _math

_BENFORD = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_SQL = " UNION ALL ".join(
    f"SELECT {d} AS digit, {_BENFORD[d]!r} AS expected" for d in range(1, 10)
)


@register(
    "dq_benford_first_digit",
    tags=("dq", "stats"),
    oracle=f"""
WITH cents AS MATERIALIZED (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders
),
dig AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM cents WHERE c > 0
),
obs AS (SELECT digit, COUNT(*) AS n FROM dig GROUP BY digit),
tot AS (SELECT SUM(n) AS total FROM obs),
e AS ({_BENFORD_SQL})
SELECT e.digit, CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
       ROUND(CAST(COALESCE(o.n, 0) AS DOUBLE) / (SELECT total FROM tot), 6) AS observed_freq,
       ROUND(e.expected, 6) AS benford_freq,
       CAST(FLOOR(ABS(CAST(COALESCE(o.n, 0) AS DOUBLE) / (SELECT total FROM tot)
                      - e.expected) * 1000000.0) AS BIGINT) AS abs_dev_micro
FROM e LEFT JOIN obs o ON e.digit = o.digit
ORDER BY e.digit
""",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / synthetic-distribution screen (Nigrini's fraud
    test): observed leading-digit frequencies against log10(1 + 1/d),
    with per-digit absolute deviation in micro fixed-point. The
    Benford constants are Python-float literals embedded identically
    in both engines (never a runtime log10 — libm isn't correctly
    rounded); the digit comes from the INTEGER cents' decimal string,
    which both engines render identically (no float formatting).

    On this corpus the test FLAGS the data (deviations up to ~0.12):
    TPC-H prices are drawn uniform-ish, not multiplicatively — exactly
    what a Benford audit is supposed to catch in a synthetic feed.

    Scale: one partial-aggregable groupBy to 9 digit counts; the
    Benford table is a 9-row literal join.
    """
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    dig = (
        load(spark, sf_dir, "orders")
        .select(cents.alias("c"))
        .where(F.col("c") > 0)
        .select(F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("digit"))
    )
    obs = dig.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    e = local_df(
        spark, [(d, _BENFORD[d]) for d in range(1, 10)], "digit bigint, expected double"
    )
    freq = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total")
    return (
        e.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.round(freq, 6).alias("observed_freq"),
            F.round(F.col("expected"), 6).alias("benford_freq"),
            F.floor(F.abs(freq - F.col("expected")) * 1000000.0)
            .cast("bigint")
            .alias("abs_dev_micro"),
        )
        .orderBy("digit")
    )


# ------------------------------------------ exact distributed quantiles

EXACT_QUANTILE_PCTS = (25, 50, 75, 90, 99)


@register(
    "agg_exact_quantiles_scan",
    tags=("agg", "scale", "scan"),
    oracle=f"""
WITH v AS MATERIALIZED (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
n AS (SELECT COUNT(*) AS n FROM v),
r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM v),
t AS (SELECT p, GREATEST(1, ((SELECT n FROM n) * p + 99) // 100) AS rn
      FROM (SELECT unnest([{", ".join(str(p) for p in EXACT_QUANTILE_PCTS)}]) AS p))
SELECT CAST(t.p AS BIGINT) AS pct, r.cents AS value_cents
FROM t JOIN r ON r.rn = t.rn
ORDER BY pct
""",
)
def agg_exact_quantiles_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order-statistic quantiles (p25/p50/p75/p90/p99 of order
    value in cents) — the complement of agg_approx_percentile: when an
    SLA or billing cut needs the true value, not a GK-sketch estimate,
    the quantile is the element at 1-based rank ceil(p*N/100), computed
    with pure integer arithmetic ((N*p + 99) // 100) so both engines
    pick the identical rank.

    Scale: the textbook single-task trap is ROW_NUMBER() OVER (ORDER BY
    value) — the oracle's formulation, fine for DuckDB, fatal on a
    cluster. The impl instead rides the distributed scan
    (functions/scan.ranged_row_number: range-partition on the value,
    local row_number in parallel, broadcast per-partition count
    offsets) and probes the 5 target ranks with a broadcast join — no
    single-partition exchange anywhere (plan-asserted), identical
    result at any partition count (invariance-pinned). Ties across the
    rank order are value-ties, so the value at a rank is deterministic
    regardless of tiebreak. Output: |pcts| rows.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_row_number

    # cached: the projected value column feeds BOTH the count and the
    # scan — uncached, the orders scan would run twice
    v = cache(
        load(spark, sf_dir, "orders").select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents")
        )
    )
    n = v.count()
    targets = [(p, max(1, (n * p + 99) // 100)) for p in EXACT_QUANTILE_PCTS]
    rn = ranged_row_number(v, [F.col("cents")], rn_col="rn")
    tgt = local_df(spark, targets, "pct int, rn bigint")
    return (
        rn.join(F.broadcast(tgt), "rn")
        .select(F.col("pct").cast("bigint").alias("pct"), F.col("cents").alias("value_cents"))
        .orderBy("pct")
    )


@register(
    "agg_weighted_quantiles_scan",
    tags=("agg", "scale", "scan"),
    oracle=f"""
WITH h AS MATERIALIZED (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1
),
tw AS (SELECT SUM(w) AS tot FROM h),
c AS MATERIALIZED (SELECT cents, SUM(w) OVER (ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM h),
t AS (SELECT p, ((SELECT tot FROM tw) * p + 99) // 100 AS tgt
      FROM (SELECT unnest([{", ".join(str(p) for p in EXACT_QUANTILE_PCTS)}]) AS p))
SELECT CAST(t.p AS BIGINT) AS pct,
       (SELECT MIN(cents) FROM c WHERE cw >= t.tgt) AS value_cents,
       CAST((SELECT tot FROM tw) AS BIGINT) AS total_weight
FROM t ORDER BY pct
""",
)
def agg_weighted_quantiles_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED exact quantiles: unit price percentiles weighted by
    quantity sold — "half the units moved at or below this price" is a
    different (and usually more useful) statistic than the unweighted
    line-item median. The weighted p-quantile is the smallest value
    whose running weight reaches ceil(p*W/100), with the target rank
    in pure integer arithmetic so both engines agree exactly.

    Scale: the corpus reduces FIRST to the value histogram (one
    partial-aggregable groupBy on the price — the exchange carries
    distinct values, ~583k at the largest test scale, not the ~60M
    line items); the running weight rides the distributed scan
    (functions/scan.ranged_cumsum) over that histogram, and the five
    target ranks probe it through a 5-row broadcast — no
    single-partition exchange, no corpus-sized window. Output |pcts|
    rows.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_cumsum

    # cached: the histogram feeds BOTH the grand-weight reduction and
    # the scan — uncached, the lineitem aggregation would run twice
    h = cache(
        load(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("cents")
        .agg(F.sum("q").alias("w"))
    )
    tot = h.agg(F.sum("w").alias("tot")).collect()[0]["tot"]
    c = ranged_cumsum(h, "w", [F.col("cents")], cum_col="cw")
    tgt = local_df(
        spark, [(p, (tot * p + 99) // 100) for p in EXACT_QUANTILE_PCTS], "pct int, tgt bigint"
    )
    return (
        c.join(F.broadcast(tgt), F.col("cw") >= F.col("tgt"))
        .groupBy(F.col("pct").cast("bigint").alias("pct"))
        .agg(F.min("cents").alias("value_cents"))
        .withColumn("total_weight", F.lit(tot).cast("bigint"))
        .orderBy("pct")
    )


PARETO_PCTS = (1, 5, 10, 20, 50)


@register(
    "agg_pareto_share_scan",
    tags=("agg", "scale", "scan"),
    oracle=f"""
WITH pc AS MATERIALIZED (
  SELECT o_custkey AS custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
nt AS (SELECT COUNT(*) AS n, SUM(cents) AS tot FROM pc),
r AS (SELECT custkey, cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, custkey) AS rn,
             SUM(cents) OVER (ORDER BY cents DESC, custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM pc),
t AS (SELECT p, GREATEST(1, ((SELECT n FROM nt) * p + 99) // 100) AS rn
      FROM (SELECT unnest([{", ".join(str(p) for p in PARETO_PCTS)}]) AS p))
SELECT CAST(t.p AS BIGINT) AS pct,
       CAST(t.rn AS BIGINT) AS n_top_customers,
       CAST(r.cum AS BIGINT) AS cum_cents,
       ROUND(CAST(r.cum AS DOUBLE) / (SELECT tot FROM nt), 6) AS revenue_share
FROM t JOIN r ON r.rn = t.rn
ORDER BY pct
""",
)
def agg_pareto_share_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration: the share of total revenue carried
    by the top 1/5/10/20/50% of customers — the "is this an 80/20
    business" diagnostic that complements the Gini coefficient (a
    single index) with the actual concentration curve points. Target
    ranks are integer ceil-divisions of the customer count, cumulative
    revenue is exact bigint cents, and the share is one final IEEE
    division — bit-stable cross-engine.

    Scale: the per-customer reduction is one partial-aggregable
    groupBy; rank AND running revenue both ride the distributed scan
    over the per-customer table (two ranged scans joined on custkey —
    each is range-partitioned parallel work, no single-task window;
    the oracle's ROW_NUMBER/SUM OVER global window is the single-node
    formulation). The five target ranks probe via a broadcast join.
    """
    from spark_rapids_ml_spark.functions.scan import (
        ranged_cumsum,
        ranged_row_number,
    )

    pc = cache(
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
                "cents"
            )
        )
    )
    row = pc.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("tot")).collect()[0]
    n, tot = row["n"], row["tot"]
    order = [F.col("cents").desc(), F.col("custkey")]
    rn = ranged_row_number(pc, order, rn_col="rn").select("custkey", "rn")
    cs = ranged_cumsum(pc, "cents", order, cum_col="cum").select("custkey", "cum")
    tgt = local_df(
        spark, [(p, max(1, (n * p + 99) // 100)) for p in PARETO_PCTS], "pct int, rn bigint"
    )
    return (
        rn.join(cs, "custkey")
        .join(F.broadcast(tgt), "rn")
        .select(
            F.col("pct").cast("bigint").alias("pct"),
            F.col("rn").cast("bigint").alias("n_top_customers"),
            F.col("cum").cast("bigint").alias("cum_cents"),
            F.round(F.col("cum").cast("double") / F.lit(float(tot)), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("pct")
    )


# ------------------------------------------------ distribution drift (PSI)

PSI_BUCKET_CENTS = 5_000_000  # 50k-currency-unit buckets over o_totalprice
PSI_N_BUCKETS = 10


@register(
    "dq_psi_distribution_drift",
    tags=("dq", "stats", "agg"),
    oracle=f"""
WITH v AS MATERIALIZED (
  SELECT o_orderkey % 2 AS pop,
         LEAST({PSI_N_BUCKETS - 1},
               CAST(round(o_totalprice * 100) AS BIGINT) // {PSI_BUCKET_CENTS}) AS bucket
  FROM orders
),
c AS (SELECT pop, bucket, COUNT(*) AS n FROM v GROUP BY 1, 2),
b AS (SELECT unnest(generate_series(0, {PSI_N_BUCKETS - 1})) AS bucket),
tot AS (SELECT pop, SUM(n) AS t FROM c GROUP BY 1),
m AS (
  SELECT b.bucket,
         COALESCE(p.n, 0) AS n_base, COALESCE(q.n, 0) AS n_new,
         (SELECT t FROM tot WHERE pop = 0) AS t_base,
         (SELECT t FROM tot WHERE pop = 1) AS t_new
  FROM b
  LEFT JOIN c p ON p.bucket = b.bucket AND p.pop = 0
  LEFT JOIN c q ON q.bucket = b.bucket AND q.pop = 1
),
k AS (
  SELECT bucket, CAST(n_base AS BIGINT) AS n_base, CAST(n_new AS BIGINT) AS n_new,
         CAST(FLOOR(
           ((CAST(n_base + 1 AS DOUBLE) / (t_base + {PSI_N_BUCKETS}))
            - (CAST(n_new + 1 AS DOUBLE) / (t_new + {PSI_N_BUCKETS})))
           * ln((CAST(n_base + 1 AS DOUBLE) / (t_base + {PSI_N_BUCKETS}))
                / (CAST(n_new + 1 AS DOUBLE) / (t_new + {PSI_N_BUCKETS})))
           * {CHI2_MICRO}.0) AS BIGINT) AS psi_micro
  FROM m
)
SELECT CAST(bucket AS VARCHAR) AS bucket, n_base, n_new, psi_micro
FROM k
UNION ALL
SELECT '__ALL__', CAST(SUM(n_base) AS BIGINT), CAST(SUM(n_new) AS BIGINT),
       CAST(SUM(psi_micro) AS BIGINT)
FROM k
ORDER BY bucket
""",
)
def dq_psi_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order populations (even
    vs odd orderkey, standing in for yesterday-vs-today snapshots) over
    fixed 50k-unit price buckets — the standard drift monitor model
    risk teams gate retraining on (PSI < 0.1 stable, > 0.25 drifted).
    Buckets are pure integer division on exact cents; rates use
    add-one smoothing so empty buckets stay finite; each bucket's
    (p-q)*ln(p/q) contribution is floored into micro fixed-point and
    summed as exact bigints (the chi-square discipline — the one ln()
    per bucket is a fixed-order IEEE tree on exact integer inputs).

    Scale: one partial-aggregable (population, bucket) count — the
    exchange carries at most 2x{PSI_N_BUCKETS} rows — joined onto the
    literal bucket spine; everything after the first groupBy is
    constant-size.
    """
    v = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 2).alias("pop"),
        F.least(
            F.lit(PSI_N_BUCKETS - 1),
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT) div {PSI_BUCKET_CENTS}"
            ),
        ).alias("bucket"),
    )
    c = v.groupBy("pop", "bucket").agg(F.count(F.lit(1)).alias("n"))
    b = local_df(spark, [(i,) for i in range(PSI_N_BUCKETS)], "bucket bigint")
    # Scalar totals as ONE unconditional aggregate row (NULL for an empty
    # population) so a degenerate empty slice degrades exactly like the
    # oracle's scalar subqueries: 0-row filtered frames would wipe out the
    # bucket spine under crossJoin, while the oracle still emits every
    # bucket with NULL psi.
    t_scalar = c.groupBy("pop").agg(F.sum("n").alias("t")).agg(
        F.max(F.when(F.col("pop") == 0, F.col("t"))).alias("t_base"),
        F.max(F.when(F.col("pop") == 1, F.col("t"))).alias("t_new"),
    )
    p = c.where(F.col("pop") == 0).select("bucket", F.col("n").alias("n_base"))
    q = c.where(F.col("pop") == 1).select("bucket", F.col("n").alias("n_new"))
    m = (
        b.join(p, "bucket", "left")
        .join(q, "bucket", "left")
        .crossJoin(F.broadcast(t_scalar))
        .select(
            "bucket",
            F.coalesce(F.col("n_base"), F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
            "t_base",
            "t_new",
        )
    )
    pr = (F.col("n_base") + 1).cast("double") / (F.col("t_base") + PSI_N_BUCKETS)
    qr = (F.col("n_new") + 1).cast("double") / (F.col("t_new") + PSI_N_BUCKETS)
    k = m.select(
        "bucket",
        "n_base",
        "n_new",
        F.floor((pr - qr) * F.log(pr / qr) * CHI2_MICRO).cast("bigint").alias("psi_micro"),
    )
    allrow = k.agg(
        F.sum("n_base").cast("bigint").alias("n_base"),
        F.sum("n_new").cast("bigint").alias("n_new"),
        F.sum("psi_micro").cast("bigint").alias("psi_micro"),
    ).select(F.lit("__ALL__").alias("bucket"), "n_base", "n_new", "psi_micro")
    return (
        k.select(F.col("bucket").cast("string").alias("bucket"), "n_base", "n_new", "psi_micro")
        .unionByName(allrow)
        .orderBy("bucket")
    )


@register(
    "agg_hhi_concentration",
    tags=("agg", "stats"),
    oracle="""
WITH pc AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
         SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
s AS (
  SELECT segment, COUNT(*) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(cents * cents) AS s2
  FROM pc GROUP BY 1
)
SELECT segment, CAST(n_customers AS BIGINT) AS n_customers, total_cents,
       ROUND(10000.0 * CAST(s2 AS DOUBLE)
             / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE)), 6) AS hhi
FROM s ORDER BY segment
""",
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of customer revenue per
    market segment — the antitrust-style 0–10000 concentration scale
    (10000/n for perfectly even revenue, 10000 for a one-customer
    segment) completing the concentration family next to the Gini
    coefficient (a single inequality index) and the Pareto curve
    (point shares): HHI = 10000 * Σ cents_i² / (Σ cents_i)². Squared
    cents are summed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) —
    per-customer squares reach ~4e14, segment sums pass 2^63 at scale
    — then ONE cast of the identical exact integer to double on each
    side, so the index is bit-stable cross-engine.

    Scale: one broadcast-joined per-(segment, customer) reduction (the
    exchange carries customers), then a |segments|-row rollup.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )
    pc = (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("ocents"),
        )
        .join(F.broadcast(c), "custkey")
        .groupBy("segment", "custkey")
        .agg(F.sum("ocents").alias("cents"))
    )
    s = pc.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(
            F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("s2"),
    )
    return s.select(
        "segment",
        "n_customers",
        "total_cents",
        F.round(
            F.lit(10000.0)
            * F.col("s2").cast("double")
            / (F.col("total_cents").cast("double") * F.col("total_cents").cast("double")),
            6,
        ).alias("hhi"),
    ).orderBy("segment")
