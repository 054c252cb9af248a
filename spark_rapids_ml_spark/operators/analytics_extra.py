"""Additional analytic operators: argmax/argmin aggregates, extended
datetime functions, bitwise aggregates, fixed-bucket histograms, and
time-series gap filling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.query_run import cache
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.sources.catalog import load


@register(
    "agg_argmax_argmin",
    tags=("agg",),
    oracle="""
WITH c AS (
  SELECT c_nationkey, c_custkey, c_name,
         -- unique, monotonic in (acctbal, custkey): deterministic argmax
         CAST(c_acctbal * 100 AS BIGINT) * 100000 + c_custkey AS rank_key
  FROM customer
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       arg_max(c_custkey, rank_key) AS richest_cust,
       arg_min(c_custkey, rank_key) AS poorest_cust,
       COUNT(*) AS n
FROM c
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def agg_argmax_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates) with a composite unique rank
    key — ties on the raw value would make argmax nondeterministic."""
    c = load(spark, sf_dir, "customer").withColumn(
        "rank_key",
        (F.col("c_acctbal") * 100).cast("bigint") * 100000 + F.col("c_custkey"),
    )
    return (
        c.groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.max_by("c_custkey", "rank_key").alias("richest_cust"),
            F.min_by("c_custkey", "rank_key").alias("poorest_cust"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("nationkey")
    )


@register(
    "scalar_datetime_extra",
    tags=("scalar", "date"),
    oracle="""
SELECT o_orderkey,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(dayofweek(o_orderdate) AS BIGINT) AS dow0,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
FROM orders
WHERE o_orderkey <= 800
ORDER BY o_orderkey
""",
)
def scalar_datetime_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended datetime surface. dow is normalized to DuckDB's
    Sunday=0 convention (Spark's dayofweek is Sunday=1)."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 800)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d.cast("date"), 3), "yyyy-MM-dd").alias("plus3mo"),
        F.quarter(d).cast("bigint").alias("qtr"),
        (F.dayofweek(d) - 1).cast("bigint").alias("dow0"),
        F.dayofyear(d).cast("bigint").alias("doy"),
    ).orderBy("o_orderkey")


@register(
    "agg_bitwise",
    tags=("agg",),
    oracle="""
SELECT l_linestatus,
       bit_and(CAST(l_orderkey % 256 AS BIGINT)) AS and_bits,
       bit_or(CAST(l_orderkey % 256 AS BIGINT)) AS or_bits,
       bit_xor(CAST(l_orderkey % 256 AS BIGINT)) AS xor_bits
FROM lineitem
WHERE l_orderkey <= 3000
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and/bit_or/bit_xor aggregates over integer keys."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 3000)
    bits = (F.col("l_orderkey") % 256).cast("bigint")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.bit_and(bits).alias("and_bits"),
            F.bit_or(bits).alias("or_bits"),
            F.bit_xor(bits).alias("xor_bits"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "histogram_fixed_buckets",
    tags=("agg", "histogram"),
    oracle="""
SELECT CAST(LEAST(GREATEST(FLOOR(c_acctbal / 1000), -1), 10) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(c_acctbal) AS DOUBLE) AS lo,
       CAST(MAX(c_acctbal) AS DOUBLE) AS hi
FROM customer
GROUP BY 1
ORDER BY bucket
""",
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor bucketing (width_bucket without
    engine-specific semantics) — partial-agg friendly at any scale."""
    c = load(spark, sf_dir, "customer")
    bucket = F.least(
        F.greatest(F.floor(F.col("c_acctbal") / 1000), F.lit(-1)), F.lit(10)
    ).cast("bigint")
    return (
        c.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").cast("double").alias("lo"),
            F.max("c_acctbal").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "timeseries_gap_fill",
    tags=("timeseries",),
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
),
agg AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n FROM events GROUP BY 1
)
SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(a.n, 0) AS n,
       CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS was_gap
FROM spine s LEFT JOIN agg a ON s.h = a.h
ORDER BY hour
""",
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: generate the complete hourly spine between min and
    max event time (sequence + explode), left-join the hourly counts,
    zero-fill the holes — the densification step before any window
    smoothing over sparse time series.

    Scale: the spine is hours-between-bounds rows (tiny — broadcast);
    the agg side is a partial-agg group-by. At 100 TB one would spine
    per (entity, hour) via a cross join against a broadcast calendar.
    """
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    agg = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(agg, "h", "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("bigint").alias("was_gap"),
        )
        .orderBy("hour")
    )


@register(
    "scalar_interval_arithmetic",
    tags=("scalar", "date"),
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate + INTERVAL 2 YEAR + INTERVAL 3 MONTH, '%Y-%m-%d') AS ym_shift,
       strftime(o_orderdate + INTERVAL 45 DAY, '%Y-%m-%d') AS d_shift,
       strftime(o_orderdate - INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS dt_shift,
       CAST(date_diff('month', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS months_since,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
FROM orders
WHERE o_orderkey <= 600
ORDER BY o_orderkey
""",
)
def scalar_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI INTERVAL arithmetic — the year-month and day-time interval
    tiers Spark distinguishes at the type level: calendar shifts
    (+2 years +3 months via year-month interval, end-of-month clamping
    included), fixed-duration shifts (+45 days, −90 minutes via
    day-time interval), and month/day deltas against an epoch
    (DuckDB's date_diff counts month BOUNDARIES crossed, which is
    months_between truncated toward zero only for same-sign whole
    comparisons — floor(months_between) differs on partial months, so
    the Spark side counts boundaries explicitly from the year/month
    fields). All in-row, codegen'd, pushdown-transparent.
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 600)
    d = F.col("o_orderdate")
    months_since = (F.year(d) - F.lit(1995)) * 12 + (F.month(d) - 1)
    return o.select(
        "o_orderkey",
        F.date_format(
            d.cast("date") + F.expr("INTERVAL '2-3' YEAR TO MONTH"), "yyyy-MM-dd"
        ).alias("ym_shift"),
        F.date_format(d.cast("date") + F.expr("INTERVAL 45 DAY"), "yyyy-MM-dd").alias(
            "d_shift"
        ),
        F.date_format(
            d.cast("timestamp") - F.expr("INTERVAL 90 MINUTE"), "yyyy-MM-dd HH:mm:ss"
        ).alias("dt_shift"),
        months_since.cast("bigint").alias("months_since"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
    ).orderBy("o_orderkey")


# --------------------------------------------- Gini concentration


@register(
    "agg_gini_revenue_concentration",
    tags=("agg", "stats"),
    oracle="""
WITH rev AS (
  SELECT c.c_custkey, c.c_mktsegment,
         COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS r
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
rk AS (
  SELECT c_mktsegment, r,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY r, c_custkey) AS i,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM rev
),
s AS (
  SELECT c_mktsegment,
         MAX(n) AS n,
         CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(r * i) AS VARCHAR) AS DOUBLE) AS sxi
  FROM rk GROUP BY 1
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n_customers,
       sx AS total_revenue,
       ROUND(2.0 * sxi / (CAST(n AS DOUBLE) * sx)
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM s ORDER BY c_mktsegment
""",
)
def agg_gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    standard whale-concentration metric (how unequal is spend across
    the customer base), via the rank formula
    G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted revenue.
    Zero-order customers count (LEFT JOIN + COALESCE 0): dropping them
    understates concentration.

    Determinism: revenue and the rank-weighted sum are exact DECIMAL
    aggregates (rank ties carry equal x, so the tie order can't change
    Σi·xᵢ); the closing formula is two divisions and one subtraction
    in fixed IEEE order, and the decimal→double casts route through
    VARCHAR (sql_dsum rationale).

    Scale: one join + groupBy for revenue, then ONE window sort per
    segment (the rank) — the same global-sort pinch as NTILE/RFM,
    documented there with the distributed-scan rank as the 100 TB
    form. Everything after the rank is partial-aggregable.
    """
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("r")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("r", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    rk = rev.select(
        "c_mktsegment",
        "r",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    s = rk.groupBy("c_mktsegment").agg(
        F.max("n").alias("n"),
        F.sum("r").cast("double").alias("sx"),
        F.sum(F.col("r") * F.col("i")).cast("double").alias("sxi"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("sx").alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("sxi") / (nd * F.col("sx")) - (nd + 1.0) / nd, 6
        ).alias("gini"),
    ).orderBy("c_mktsegment")


# --------------------------------------------- association rules

MB_MIN_SUPPORT = 2  # pair support floor (support-1 rules are noise)
MB_TOP_K = 20


@register(
    "agg_market_basket_rules",
    tags=("agg", "analytics"),
    oracle=f"""
WITH basket AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
nb AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM basket),
ic AS (SELECT p, COUNT(*) AS n_p FROM basket GROUP BY p),
pc AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
  FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {MB_MIN_SUPPORT}
),
rules AS (
  SELECT pc.pa, pc.pb, pc.n_ab, ia.n_p AS n_a, ib.n_p AS n_b,
         CAST(pc.n_ab AS DOUBLE) / ia.n_p AS confidence,
         CAST(pc.n_ab * (SELECT n_baskets FROM nb) AS DOUBLE)
           / CAST(ia.n_p * ib.n_p AS DOUBLE) AS lift
  FROM pc JOIN ic ia ON pc.pa = ia.p JOIN ic ib ON pc.pb = ib.p
)
SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(confidence, 6) AS confidence, ROUND(lift, 6) AS lift
-- rules.lift (UNROUNDED): a bare ORDER BY lift resolves to the rounded
-- output alias in DuckDB while Spark ranks unrounded — two rules whose
-- exact lifts straddle a 1e-6 rounding tie would order differently
FROM rules ORDER BY rules.lift DESC, pa, pb LIMIT {MB_TOP_K}
""",
)
def agg_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (Agrawal & Srikant's
    Apriori at the pairs level): for every co-purchased part pair with
    support ≥ MB_MIN_SUPPORT (2), the rule statistics — confidence
    P(b|a) = n_ab/n_a and lift n_ab·N/(n_a·n_b) — ranked by lift.
    Complements graph_link_prediction_jaccard exactly: rules score
    pairs that DO co-occur; link prediction scores pairs that don't
    yet.

    Determinism: supports are exact integers; confidence and lift are
    one exact-integer IEEE division each (the product n_a·n_b stays a
    bigint), ties broken by (pa, pb).

    Scale: the basket self-join is the same per-order-bounded shape as
    the co-purchase edge build (fan-out = lines per order, never
    corpus²); item counts are a partial-aggregable groupBy, and the
    rule join runs on the SUPPORT-FILTERED pair table. At 100 TB the
    support floor is the Apriori pruning lever — raise it and the
    pair table shrinks superlinearly.
    """
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()

    basket = cache(li)
    nb = basket.agg(F.count_distinct("o").alias("n_baskets"))
    ic = basket.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    a, b = basket.alias("a"), basket.alias("b")
    pc = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= MB_MIN_SUPPORT)
    )
    ia = ic.select(F.col("p").alias("pa"), F.col("n_p").alias("n_a"))
    ib = ic.select(F.col("p").alias("pb"), F.col("n_p").alias("n_b"))
    conf = F.col("n_ab").cast("double") / F.col("n_a")
    lift = (F.col("n_ab") * F.col("n_baskets")).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        pc.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            "pa",
            "pb",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            conf.alias("confu"),
            lift.alias("liftu"),
        )
        .orderBy(F.col("liftu").desc(), "pa", "pb")
        .limit(MB_TOP_K)
        .select(
            "pa",
            "pb",
            "n_ab",
            "n_a",
            "n_b",
            F.round("confu", 6).alias("confidence"),
            F.round("liftu", 6).alias("lift"),
        )
    )


@register(
    "agg_ks_two_sample",
    tags=("agg", "stats"),
    oracle="""
WITH v AS (
  SELECT o_orderkey % 2 AS pop,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
per AS (
  SELECT cents,
         CAST(SUM(CASE WHEN pop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_e,
         CAST(SUM(CASE WHEN pop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_o
  FROM v GROUP BY cents
),
tot AS (SELECT CAST(SUM(n_e) AS BIGINT) AS ne, CAST(SUM(n_o) AS BIGINT) AS no FROM per),
c AS (
  SELECT cents,
         SUM(n_e) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_e,
         SUM(n_o) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_o
  FROM per
),
d AS (
  SELECT c.cents,
         ABS(c.cum_e * t.no - c.cum_o * t.ne) AS diff
  FROM c CROSS JOIN tot t
),
mx AS (SELECT MAX(diff) AS d_scaled FROM d)
SELECT t.ne AS n_even, t.no AS n_odd,
       CAST(m.d_scaled AS BIGINT) AS d_scaled,
       ROUND(CAST(m.d_scaled AS DOUBLE) / (CAST(t.ne AS DOUBLE) * t.no), 6) AS ks_d,
       (SELECT MIN(cents) FROM d WHERE diff = m.d_scaled) AS ks_location_cents
FROM tot t CROSS JOIN mx m
""",
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between even- and
    odd-orderkey price distributions: D = sup_x |ECDF_even(x) -
    ECDF_odd(x)| — the distribution-free drift test completing the
    comparison family next to PSI (binned) and Welch-t (means); the
    supremum location tells WHERE the distributions diverge.

    Exactness: the supremum is evaluated in CLEARED-DENOMINATOR
    integer space — |cum_e * N_odd - cum_o * N_even| is an exact
    bigint, so the max and its (smallest-value) location are
    deterministic; the single division to D happens after selection.

    Scale: per-value counts are one partial-aggregable reduce keyed by
    price; both cumulative counts ride ONE distributed range-
    partitioned scan (functions/scan.ranged_cumsum — the ECDF sweep
    parallelizes across value ranges, no Exchange SinglePartition),
    and the final supremum is a plain max-reduce.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_cumsum

    o = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 2).alias("pop"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    per = o.groupBy("cents").agg(
        F.sum(F.when(F.col("pop") == 0, 1).otherwise(0)).cast("bigint").alias("n_e"),
        F.sum(F.when(F.col("pop") == 1, 1).otherwise(0)).cast("bigint").alias("n_o"),
    )
    c = ranged_cumsum(per, "n_e", [F.col("cents")], cum_col="cum_e")
    c = ranged_cumsum(c, "n_o", [F.col("cents")], cum_col="cum_o")
    tot = per.agg(
        F.sum("n_e").cast("bigint").alias("ne"), F.sum("n_o").cast("bigint").alias("no")
    )
    d = c.crossJoin(F.broadcast(tot)).select(
        "cents",
        "ne",
        "no",
        F.abs(F.col("cum_e") * F.col("no") - F.col("cum_o") * F.col("ne")).alias("diff"),
    )
    mx = d.agg(F.max("diff").alias("d_scaled"))
    loc = (
        d.join(F.broadcast(mx), F.col("diff") == F.col("d_scaled"))
        .agg(F.min("cents").alias("ks_location_cents"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(loc))
        .select(
            F.col("ne").alias("n_even"),
            F.col("no").alias("n_odd"),
            F.col("d_scaled").cast("bigint").alias("d_scaled"),
            F.round(
                F.col("d_scaled").cast("double")
                / (F.col("ne").cast("double") * F.col("no")),
                6,
            ).alias("ks_d"),
            "ks_location_cents",
        )
    )


@register(
    "agg_mann_whitney_u",
    tags=("agg", "stats"),
    oracle="""
WITH v AS (
  SELECT o_orderkey % 2 AS pop,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
per AS (
  SELECT cents,
         CAST(SUM(CASE WHEN pop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_e,
         CAST(SUM(CASE WHEN pop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_o
  FROM v GROUP BY cents
),
c AS (
  SELECT cents, n_e, n_o,
         SUM(n_e + n_o) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS hi
  FROM per
),
r AS (
  -- rank2 = lo + hi = 2 * average mid-rank of the tied group (exact int)
  SELECT cents, n_e, n_o, (hi - (n_e + n_o) + 1) + hi AS rank2,
         n_e + n_o AS t
  FROM c
),
s AS (
  SELECT CAST(SUM(n_e) AS BIGINT) AS ne, CAST(SUM(n_o) AS BIGINT) AS no,
         CAST(SUM(rank2 * n_e) AS BIGINT) AS r2e,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
  FROM r
)
SELECT ne AS n_even, no AS n_odd,
       CAST(r2e - ne * (ne + 1) AS BIGINT) AS u2,
       ROUND(CAST(r2e - ne * (ne + 1) AS DOUBLE) / 2.0
             / (CAST(ne AS DOUBLE) * no), 6) AS auc_effect,
       ROUND((CAST(r2e - ne * (ne + 1) AS DOUBLE) / 2.0
              - CAST(ne AS DOUBLE) * no / 2.0)
             / SQRT((CAST(ne AS DOUBLE) * no / 12.0)
                    * ((ne + no + 1)
                       - CAST(tie3 AS DOUBLE) / ((ne + no) * (CAST(ne AS DOUBLE) + no - 1)))),
             6) + 0 AS z_score
FROM s
""",
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between even- and
    odd-orderkey price populations with mid-rank tie handling and the
    tie-corrected normal approximation — the nonparametric
    location-shift test completing the family next to KS (shape),
    chi-square (independence) and Welch-t (means); U/(n₁n₂) is also
    the AUC effect size (P[X>Y] + ½P[X=Y]).

    Exactness: ranks stay in DOUBLED integer space — a tied group's
    rank2 = lo + hi is an exact bigint (mid-ranks are the only .5
    hazard), so U2 = 2·ΣR_even − n_e(n_e+1) and the tie-correction
    cubes are exact; z and AUC are fixed-order IEEE expressions over
    those ints, rounded at 6dp.

    Scale: per-value population counts are one partial-aggregable
    reduce keyed by price; the pooled rank rides ONE distributed
    range-partitioned cumsum scan (functions/scan.ranged_cumsum — no
    single-task window, plan-asserted); the verdict is a one-row
    reduce of exact partials.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_cumsum

    o = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 2).alias("pop"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    per = o.groupBy("cents").agg(
        F.sum(F.when(F.col("pop") == 0, 1).otherwise(0)).cast("bigint").alias("n_e"),
        F.sum(F.when(F.col("pop") == 1, 1).otherwise(0)).cast("bigint").alias("n_o"),
    ).withColumn("t", F.col("n_e") + F.col("n_o"))
    c = ranged_cumsum(per, "t", [F.col("cents")], cum_col="hi")
    r = c.select(
        "n_e",
        "n_o",
        "t",
        ((F.col("hi") - F.col("t") + 1) + F.col("hi")).alias("rank2"),
    )
    s = r.agg(
        F.sum("n_e").cast("bigint").alias("ne"),
        F.sum("n_o").cast("bigint").alias("no"),
        F.sum(F.col("rank2") * F.col("n_e")).cast("bigint").alias("r2e"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("bigint").alias("tie3"),
    )
    ne, no = F.col("ne").cast("double"), F.col("no").cast("double")
    u = (F.col("r2e") - F.col("ne") * (F.col("ne") + 1)).cast("double") / 2.0
    sigma = F.sqrt(
        (ne * no / 12.0)
        * (
            (F.col("ne") + F.col("no") + 1)
            - F.col("tie3").cast("double")
            / ((F.col("ne") + F.col("no")) * (ne + no - 1))
        )
    )
    return s.select(
        F.col("ne").alias("n_even"),
        F.col("no").alias("n_odd"),
        (F.col("r2e") - F.col("ne") * (F.col("ne") + 1)).cast("bigint").alias("u2"),
        F.round(u / (ne * no), 6).alias("auc_effect"),
        (F.round((u - ne * no / 2.0) / sigma, 6) + 0).alias("z_score"),
    )


CRAMER_BUCKET_CENTS = 2500  # $25 value bands, capped at band 4 ($100+)
CRAMER_MICRO = 1_000_000


@register(
    "agg_cramers_v_association",
    tags=("agg", "stats"),
    oracle=f"""
WITH o AS MATERIALIZED (
  SELECT event_type,
         LEAST(4, CAST(round(value * 100) AS BIGINT) // {CRAMER_BUCKET_CENTS}) AS band,
         COUNT(*) AS obs
  FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(obs) AS r FROM o GROUP BY 1),
ct AS (SELECT band, SUM(obs) AS c FROM o GROUP BY 1),
n AS (SELECT SUM(obs) AS n, COUNT(DISTINCT 1) AS one FROM o),
dims AS (SELECT (SELECT COUNT(*) FROM rt) AS nr, (SELECT COUNT(*) FROM ct) AS nc),
cells AS (
  SELECT o.obs, CAST(rt.r * ct.c AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE) AS e
  FROM o JOIN rt USING (event_type) JOIN ct USING (band)
),
chi AS (
  SELECT CAST(SUM(CAST(FLOOR((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e) / e
                             * {CRAMER_MICRO}.0) AS BIGINT)) AS BIGINT) AS chi2_micro
  FROM cells
)
SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
       CAST(d.nr AS BIGINT) AS n_rows_dim,
       CAST(d.nc AS BIGINT) AS n_cols_dim,
       c.chi2_micro,
       ROUND(SQRT((CAST(c.chi2_micro AS DOUBLE) / {CRAMER_MICRO}.0)
                  / (CAST((SELECT n FROM n) AS DOUBLE)
                     * (LEAST(d.nr, d.nc) - 1))), 6) AS cramers_v
FROM chi c CROSS JOIN dims d
""",
)
def agg_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between event type and order-of-magnitude value band
    — the NORMALIZED [0,1] association strength the raw chi-square
    can't give (chi² grows with n, V doesn't), answering "does what
    users do predict how much they spend" on the event_type × $25-band
    contingency. Completes the association family: chi² (significance)
    → V (effect size), next to Welch-t/uplift for means and
    MWU's AUC for stochastic dominance.

    Determinism: the chi-square micro fixed-point discipline — each
    cell's (O−E)²/E floored into micro units and summed as exact
    bigints; V is then one fixed-order sqrt over exact integers,
    rounded at 6dp.

    Scale: one partial-aggregable groupBy to the ≤25-cell contingency
    table; everything downstream aggregates THAT table — ~25 rows
    cross the exchange at any corpus size.
    """
    ev = load(spark, sf_dir, "events")
    o = cache(
        ev.groupBy(
            "event_type",
            F.least(
                F.lit(4),
                F.expr(f"CAST(round(value * 100) AS BIGINT) div {CRAMER_BUCKET_CENTS}"),
            ).alias("band"),
        ).agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("band").agg(F.sum("obs").alias("c"))
    scal = o.agg(F.sum("obs").alias("n_tot")).crossJoin(
        F.broadcast(rt.agg(F.count(F.lit(1)).alias("nr")))
    ).crossJoin(F.broadcast(ct.agg(F.count(F.lit(1)).alias("nc"))))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n_tot").cast("double")
    od = F.col("obs").cast("double")
    cmicro = F.floor((od - e) * (od - e) / e * CRAMER_MICRO).cast("bigint")
    chi = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "band")
        .crossJoin(F.broadcast(scal))
        .select(cmicro.alias("cmicro"))
        .agg(F.sum("cmicro").cast("bigint").alias("chi2_micro"))
    )
    v = F.sqrt(
        (F.col("chi2_micro").cast("double") / CRAMER_MICRO)
        / (F.col("n_tot").cast("double") * (F.least("nr", "nc") - 1))
    )
    return (
        chi.crossJoin(F.broadcast(scal))
        .select(
            F.col("n_tot").cast("bigint").alias("n"),
            F.col("nr").cast("bigint").alias("n_rows_dim"),
            F.col("nc").cast("bigint").alias("n_cols_dim"),
            "chi2_micro",
            F.round(v, 6).alias("cramers_v"),
        )
    )


@register(
    "agg_spearman_rank_corr",
    tags=("agg", "stats"),
    oracle="""
WITH v AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
),
qc AS (SELECT q, COUNT(*) AS n FROM v GROUP BY q),
qr AS (
  SELECT q, (hi - n + 1) + hi AS r2 FROM (
    SELECT q, n, SUM(n) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS hi FROM qc
  )
),
pc AS (SELECT p, COUNT(*) AS n FROM v GROUP BY p),
pr AS (
  SELECT p, (hi - n + 1) + hi AS r2 FROM (
    SELECT p, n, SUM(n) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS hi FROM pc
  )
),
j AS (
  SELECT qr.r2 AS x2, pr.r2 AS y2
  FROM v JOIN qr ON qr.q = v.q JOIN pr ON pr.p = v.p
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x2) AS HUGEINT) AS sx, CAST(SUM(y2) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(y2 AS HUGEINT) * y2) AS HUGEINT) AS syy,
         CAST(SUM(CAST(x2 AS HUGEINT) * y2) AS HUGEINT) AS sxy
  FROM j
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS spearman_rho
FROM s
""",
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line quantity and extended
    price — Pearson on mid-ranks, the monotone-association measure
    robust to the skewed price distribution (completing the
    correlation family: Pearson agg_corr → Spearman here → Cramér's V
    for categoricals; with ties this IS the tie-corrected ρ).

    Exactness: the Mann-Whitney discipline — mid-ranks kept in
    DOUBLED integer space (rank2 = lo + hi per tied value group), so
    every moment sum is an exact bigint/DECIMAL(38,0) (HUGEINT in the
    oracle); ρ is one fixed-order IEEE expression over six exact
    integers, rounded at 6dp. The ×2 scaling cancels in ρ.

    Scale: each variable's rank table is a per-value reduce + ONE
    distributed range-partitioned cumsum scan (functions/scan.
    ranged_cumsum); the rank lookups join back by value (broadcast
    when the distinct-value table is small, shuffle-join otherwise)
    and the verdict is a one-row reduce of exact partials.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_cumsum

    v = load(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("q"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("p"),
    )

    def rank2_table(col: str) -> DataFrame:
        cnt = v.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
        cum = ranged_cumsum(cnt, "n", [F.col(col)], cum_col="hi")
        return cum.select(
            col, ((F.col("hi") - F.col("n") + 1) + F.col("hi")).alias(f"r2_{col}")
        )

    j = v.join(rank2_table("q"), "q").join(rank2_table("p"), "p")
    x2 = F.col("r2_q").cast("decimal(38,0)")
    y2 = F.col("r2_p").cast("decimal(38,0)")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x2).alias("sx"),
        F.sum(y2).alias("sy"),
        F.sum(x2 * F.col("r2_q")).alias("sxx"),
        F.sum(y2 * F.col("r2_p")).alias("syy"),
        F.sum(x2 * F.col("r2_p")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        F.sqrt(nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * F.sqrt(nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(rho, 6).alias("spearman_rho"),
    )


@register(
    "dq_iqr_outlier_audit",
    tags=("dq", "stats", "scan"),
    oracle="""
WITH v AS (
  SELECT event_type AS seg,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT seg, cents,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, seg) AS rn,
         COUNT(*) OVER (PARTITION BY seg) AS n
  FROM v
),
q AS (
  SELECT seg,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3,
         MAX(n) AS n
  FROM r GROUP BY seg
),
f AS (
  SELECT q.seg, q.n, q.q1, q.q3,
         q.q1 - 3 * (q.q3 - q.q1) // 2 AS lo,
         q.q3 + 3 * (q.q3 - q.q1) // 2 AS hi
  FROM q
)
SELECT f.seg AS segment, CAST(f.n AS BIGINT) AS n,
       f.q1 AS q1_cents, f.q3 AS q3_cents,
       CAST(SUM(CASE WHEN v.cents < f.lo OR v.cents > f.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(SUM(CASE WHEN v.cents < f.lo OR v.cents > f.hi THEN 1 ELSE 0 END)
             * 1.0 / f.n, 6) AS outlier_rate
FROM v JOIN f ON f.seg = v.seg
GROUP BY f.seg, f.n, f.q1, f.q3
ORDER BY segment
""",
)
def dq_iqr_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of event values per event type
    (the right-skewed value distribution actually FIRES the fences —
    ~5% of rows per type — unlike the uniform-ish order totals):
    exact rank-based
    quartiles (lower-ceil ranks, integer cents), fences at
    1.5×IQR computed with integer floor-division, and the per-segment
    outlier count/rate — the standard data-quality screen before
    model features are trusted (complements PSI/KS, which compare
    POPULATIONS; this audits one population's tails).

    Exactness: quartiles are SELECTED integers (never interpolated);
    the 1.5×IQR fence is 3·IQR//2 exact integer arithmetic; every
    comparison and count is deterministic cross-engine.

    Scale: the rank runs per segment (partitioned window over
    segment-hashed shuffles — segments are few and balanced here;
    a single-segment corpus would route through the distributed scan
    exactly as agg_exact_quantiles_scan does), then one broadcast
    fence join and a partial-aggregable count.
    """
    from pyspark.sql import Window

    v = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("seg"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wseg = Window.partitionBy("seg").orderBy("cents", "seg")
    wn = Window.partitionBy("seg")
    r = v.select(
        "seg",
        "cents",
        F.row_number().over(wseg).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q = r.groupBy("seg").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents"))).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("cents"))
        ).alias("q3"),
        F.max("n").alias("n"),
    )
    f = q.select(
        "seg",
        "n",
        "q1",
        "q3",
        (F.col("q1") - F.expr("3 * (q3 - q1) div 2")).alias("lo"),
        (F.col("q3") + F.expr("3 * (q3 - q1) div 2")).alias("hi"),
    )
    out = F.when((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1).otherwise(0)
    return (
        v.join(F.broadcast(f), "seg")
        .groupBy("seg", "n", "q1", "q3")
        .agg(
            F.sum(out).cast("bigint").alias("n_outliers"),
            F.round(F.sum(out) * 1.0 / F.col("n"), 6).alias("outlier_rate"),
        )
        .select(
            F.col("seg").alias("segment"),
            F.col("n").cast("bigint").alias("n"),
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            "n_outliers",
            "outlier_rate",
        )
        .orderBy("segment")
    )


MI_MICRO = 1_000_000


@register(
    "agg_mutual_information",
    tags=("agg", "stats"),
    oracle=f"""
WITH o AS MATERIALIZED (
  SELECT event_type,
         LEAST(4, CAST(round(value * 100) AS BIGINT) // {CRAMER_BUCKET_CENTS}) AS band,
         COUNT(*) AS obs
  FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(obs) AS r FROM o GROUP BY 1),
ct AS (SELECT band, SUM(obs) AS c FROM o GROUP BY 1),
n AS (SELECT SUM(obs) AS n FROM o),
cells AS (
  SELECT o.obs,
         CAST(FLOOR(CAST(o.obs AS DOUBLE) / (SELECT n FROM n)
                    * ln(CAST(o.obs AS DOUBLE) * (SELECT n FROM n)
                         / (CAST(rt.r AS DOUBLE) * ct.c))
                    * {MI_MICRO}.0) AS BIGINT) AS mi_micro,
         CAST(FLOOR(-(CAST(o.obs AS DOUBLE) / (SELECT n FROM n))
                    * ln(CAST(o.obs AS DOUBLE) / (SELECT n FROM n))
                    * {MI_MICRO}.0) AS BIGINT) AS hj_micro
  FROM o JOIN rt USING (event_type) JOIN ct USING (band)
)
SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
       CAST(SUM(mi_micro) AS BIGINT) AS mi_micro,
       CAST(SUM(hj_micro) AS BIGINT) AS joint_entropy_micro,
       ROUND(CAST(SUM(mi_micro) AS DOUBLE) / CAST(SUM(hj_micro) AS DOUBLE), 6)
         AS normalized_mi
FROM cells
""",
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; value band) with joint entropy
    and the normalized ratio I/H — the information-theoretic member of
    the association trio (chi² significance → Cramér's V effect size →
    MI in nats), the measure feature-selection pipelines rank
    categorical features by.

    Determinism: the chi-square micro fixed-point discipline — each
    cell's p·ln(p·n/(r·c)) contribution (a fixed-order IEEE tree over
    exact integers) floored into micro units and summed as exact
    bigints, so totals are order-invariant and cross-engine identical;
    the one division to normalized MI happens on the exact sums.

    Scale: one partial-aggregable groupBy to the ≤25-cell contingency
    table; marginals and both entropy sums aggregate THAT table —
    ~25 rows cross the exchange at any corpus size.
    """
    ev = load(spark, sf_dir, "events")
    o = cache(
        ev.groupBy(
            "event_type",
            F.least(
                F.lit(4),
                F.expr(f"CAST(round(value * 100) AS BIGINT) div {CRAMER_BUCKET_CENTS}"),
            ).alias("band"),
        ).agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("band").agg(F.sum("obs").alias("c"))
    n_tot = o.agg(F.sum("obs").alias("n_tot"))
    obs_d = F.col("obs").cast("double")
    nd = F.col("n_tot").cast("double")
    p = obs_d / nd
    mi_micro = F.floor(
        p * F.log(obs_d * nd / (F.col("r").cast("double") * F.col("c"))) * MI_MICRO
    ).cast("bigint")
    hj_micro = F.floor(-p * F.log(p) * MI_MICRO).cast("bigint")
    cells = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "band")
        .crossJoin(F.broadcast(n_tot))
        .select("n_tot", mi_micro.alias("mi_micro"), hj_micro.alias("hj_micro"))
    )
    return cells.agg(
        F.max("n_tot").cast("bigint").alias("n"),
        F.sum("mi_micro").cast("bigint").alias("mi_micro"),
        F.sum("hj_micro").cast("bigint").alias("joint_entropy_micro"),
        F.round(
            F.sum("mi_micro").cast("double") / F.sum("hj_micro").cast("double"), 6
        ).alias("normalized_mi"),
    )
