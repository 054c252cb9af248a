"""Time-series operators Spark lacks as builtins, composed from
DataFrame primitives: as-of join and multi-granularity rollup.

The as-of join (match each event to the most recent preceding order of
the same user) is THE time-series join; Spark has no native operator,
so it is built with the union-tag + last_value(ignorenulls) window
pattern — one shuffle+sort per key, no range explosion. DuckDB's
native ASOF JOIN is the oracle, which checks the composition exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_rapids_ml_spark.query_run import cache
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.sources.catalog import load


@register(
    "asof_join_latest_order",
    tags=("timeseries", "join"),
    bench=True,
    oracle="""
WITH o AS (
  -- unique (user, time) keys so the as-of match is well-defined
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.o_orderkey,
       CAST(datediff('second', o.o_orderdate, e.ts) AS BIGINT) AS lag_seconds
FROM (SELECT event_id, user_id, ts FROM events WHERE event_id <= 2000) e
ASOF JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY event_id
""",
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matches the latest order with
    o_orderdate <= ts for the same user (inner as-of: events with no
    preceding order drop out).

    Spark plan: tag+union both sides, one window sorted by
    (user, t, tag) carrying last non-null order key forward — a single
    shuffle on user, linear in rows, no interval cross-product. This
    is the scalable distributed as-of; DuckDB's native ASOF JOIN
    verifies the composition.
    """
    e = load(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    o_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("tag"),  # orders sort BEFORE events at equal t (>= is inclusive)
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("long").alias("event_id"),
    )
    e_side = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("okey"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry BOTH the order key and its timestamp through the window —
    # no join-back needed (one shuffle total)
    merged = (
        o_side.unionByName(e_side)
        .withColumn("matched_okey", F.last("okey", ignorenulls=True).over(w))
        .withColumn(
            "otime",
            F.last(F.when(F.col("tag") == 0, F.col("t")), ignorenulls=True).over(w),
        )
    )
    matched = merged.where(F.col("event_id").isNotNull() & F.col("matched_okey").isNotNull())
    return matched.select(
        "event_id",
        "user_id",
        F.col("matched_okey").alias("o_orderkey"),
        (F.unix_timestamp("t") - F.unix_timestamp("otime")).cast("bigint").alias("lag_seconds"),
    ).orderBy("event_id")


@register(
    "timeseries_multi_rollup",
    tags=("timeseries", "agg"),
    oracle="""
SELECT COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), '<all>') AS day,
       COALESCE(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), '<all>') AS hour,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
ORDER BY day, hour
""",
)
def timeseries_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: one pass produces
    hourly, daily, and grand-total rollups of the event stream
    (GROUP BY ROLLUP over truncated time) — the batch equivalent of a
    downsampling cascade."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    return (
        e.rollup(day.alias("d"), hour.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.coalesce(F.date_format("d", "yyyy-MM-dd"), F.lit("<all>")).alias("day"),
            F.coalesce(F.date_format("h", "yyyy-MM-dd HH:mm:ss"), F.lit("<all>")).alias("hour"),
            "n",
            "total_value",
        )
        .orderBy("day", "hour")
    )


@register(
    "timeseries_resample_ohlc",
    tags=("timeseries", "window"),
    oracle="""
WITH e AS (
  SELECT user_id, event_id, value,
         date_trunc('hour', ts) AS hour, ts
  FROM events WHERE user_id <= 50
),
rn AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id, hour ORDER BY ts, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY user_id, hour ORDER BY ts DESC, event_id DESC) AS rd
  FROM e
)
SELECT user_id,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       COUNT(*) AS n,
       ROUND(MAX(CASE WHEN ra = 1 THEN value END), 6) AS open,
       ROUND(MAX(value), 6) AS high,
       ROUND(MIN(value), 6) AS low,
       ROUND(MAX(CASE WHEN rd = 1 THEN value END), 6) AS close
FROM rn
GROUP BY user_id, hour
ORDER BY user_id, hour
""",
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling — the market-data / metrics downsample: per
    (user, hour) bar with open (first value by event time, event_id
    tiebreak), high, low, close (last value). First/last ride
    row-number windows over the SAME (user, hour) partitioning the
    final group-by uses, so the whole query is one shuffle.

    Scale: the canonical pre-aggregation that turns an unbounded tick
    stream into fixed-rate bars; at 100 TB the bar table is the
    queryable artifact and this job is an incremental (per new
    partition) append.
    """
    e = load(spark, sf_dir, "events").where(F.col("user_id") <= 50)
    e = e.select(
        "user_id",
        "event_id",
        "value",
        F.date_trunc("hour", "ts").alias("hour_ts"),
        "ts",
    )
    wa = Window.partitionBy("user_id", "hour_ts").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "hour_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = e.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    return (
        rn.groupBy("user_id", "hour_ts")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max(F.when(F.col("ra") == 1, F.col("value"))), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max(F.when(F.col("rd") == 1, F.col("value"))), 6).alias("close"),
        )
        .select(
            "user_id",
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("user_id", "hour")
    )


@register(
    "events_funnel_conversion",
    tags=("timeseries", "analytics"),
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
  GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM s1
  UNION ALL SELECT '2_click_after_view', COUNT(*) FROM s2
  UNION ALL SELECT '3_purchase_after_click', COUNT(*) FROM s3
) ORDER BY stage
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel (view → click → purchase): each stage
    counts users whose stage event happened AT OR AFTER their first
    qualifying previous-stage event — the product-analytics sequence
    query. Stage timestamps are per-user conditional MINs chained
    through joins, so ordering semantics are exact (not the lossy
    'has all three types' approximation).

    Scale: three user-keyed aggregations + two joins on user_id — all
    shuffles share the user_id key, so AQE/co-partitioning reuses the
    exchange; no window over the full event stream is needed.
    """
    e = load(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = (
        s1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("1_view").alias("stage"), "n_users"
        )
        .unionAll(
            s2.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("2_click_after_view").alias("stage"), "n_users"
            )
        )
        .unionAll(
            s3.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("3_purchase_after_click").alias("stage"), "n_users"
            )
        )
    )
    return rows.orderBy("stage")


@register(
    "events_cohort_retention",
    tags=("timeseries", "analytics"),
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS BIGINT) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       week_offset,
       COUNT(*) AS n_users
FROM activity
WHERE week_offset <= 8
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by first-activity week, counted once per (cohort, week
    offset) they were active in. The distinct collapses repeat
    activity per user-week; offsets computed on week-truncated
    boundaries so both engines bucket identically.

    Scale: firsts is a user-keyed min; activity joins events back on
    user_id (shuffle key shared with firsts) and the distinct +
    group-by both ride the (user, cohort, offset) shuffle — at 100 TB
    the cohort table is tiny and the whole cost is one pass over
    events plus a co-partitioned join.
    """
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.where(F.col("week_offset") <= 8)
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "scd2_dimension_build",
    tags=("sink", "warehouse"),
    oracle="""
WITH changes AS (
  SELECT user_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events
  WHERE event_type IN ('signup', 'purchase') AND user_id <= 30
)
SELECT user_id,
       rn AS version,
       event_type AS state,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       COALESCE(strftime(next_ts, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to,
       CAST(CASE WHEN next_ts IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM changes
ORDER BY user_id, version
""",
)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each state-change event
    becomes a versioned row with [valid_from, valid_to) derived from
    the NEXT change via lead(), open intervals closed with a sentinel
    and flagged is_current — the standard dimension-history shape every
    warehouse keeps (cf. sink_merge_upsert for the incremental MERGE
    that maintains it).

    Scale: one window over (user, ts) — the same single-shuffle shape
    as sessionization; the history table appends per batch and the
    as-of join (asof_join_latest_order) is its query-side dual.
    """
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase") & (F.col("user_id") <= 30)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = e.select(
        "user_id",
        "ts",
        F.col("event_type").alias("state"),
        F.row_number().over(w).alias("version"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    return ch.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "state",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("next_ts", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.when(F.col("next_ts").isNull(), 1).otherwise(0).cast("bigint").alias("is_current"),
    ).orderBy("user_id", "version")


@register(
    "events_rolling_zscore_anomaly",
    tags=("timeseries", "window", "analytics"),
    oracle="""
WITH w AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS v,
         COUNT(*) OVER fr AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS ss
  FROM events
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT user_id, event_id, v,
         (v - s / 20.0) / SQRT((ss - s * s / 20.0) / 20.0) AS zs
  FROM w
  WHERE cnt = 20 AND (ss - s * s / 20.0) / 20.0 > 0.0001
)
SELECT user_id, event_id, ROUND(zs, 6) AS zscore
FROM z
WHERE ABS(ROUND(zs, 6)) > 2.5
ORDER BY user_id, event_id
""",
)
def events_rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against
    the trailing 20 events of the same user (frame excludes the
    current row, so the score is a true out-of-sample residual);
    |z| > 2.5 rows are the anomaly stream. Sums and sum-of-squares
    ride EXACT decimal window aggregates (the engine-wide power-sum
    discipline, cf. agg_moments_exact), so mean/var/z are bit-identical
    IEEE ops on identical inputs in both engines — the threshold
    compares the ROUNDed score to stay boundary-safe.

    Scale: one window over (user, time) — the same single-shuffle
    shape as sessionization; streaming-side the same logic runs as a
    stateful per-key ring buffer (applyInPandasWithState,
    stream_stateful_user_stats's pattern).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    dec = F.col("value").cast("decimal(18,2)")
    scored = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("v"),
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum(dec).over(w).cast("double").alias("s"),
        F.sum(dec * dec).over(w).cast("double").alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / 20.0) / 20.0
    z = (F.col("v") - F.col("s") / 20.0) / F.sqrt(var)
    return (
        scored.where((F.col("cnt") == 20) & (var > 0.0001))
        .select("user_id", "event_id", F.round(z, 6).alias("zscore"))
        .where(F.abs(F.col("zscore")) > 2.5)
        .orderBy("user_id", "event_id")
    )


@register(
    "events_sequence_pattern_match",
    tags=("timeseries", "analytics", "window"),
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3,
         lead(ts, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
matches AS (
  SELECT user_id, ts
  FROM ordered
  WHERE event_type = 'view' AND e2 = 'click' AND e3 = 'purchase'
    AND t3 <= ts + INTERVAL 1 DAY
)
SELECT CAST(hour(ts) AS BIGINT) AS view_hour,
       COUNT(*) AS n_matches,
       COUNT(DISTINCT user_id) AS n_users
FROM matches
GROUP BY 1
ORDER BY view_hour
""",
)
def events_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection: STRICTLY CONSECUTIVE
    view → click → purchase triples per user (no intervening event of
    any type), with the purchase within one day of the view —
    bucketed by the view's hour of day. This is the contiguous-pattern
    complement of events_funnel_conversion's eventually-ordered
    funnel: lead(n) over the per-user event order expresses fixed-
    length contiguous patterns without a dedicated operator, the same
    plan SQL MATCH_RECOGNIZE engines lower to for bounded patterns.

    Scale: ONE shuffle (partition by user_id), per-user sort feeds
    both lead()s and the pattern predicate; the tie-broken sort key
    (ts, event_id) makes the match set partition-invariant. At 100 TB
    the per-user state is two lookahead rows — no state explosion,
    unlike regex-NFA pattern engines with unbounded quantifiers.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("ts", 2).over(w).alias("t3"),
    )
    matches = ordered.where(
        (F.col("event_type") == "view")
        & (F.col("e2") == "click")
        & (F.col("e3") == "purchase")
        & (F.col("t3") <= F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    return (
        matches.groupBy(F.hour("ts").cast("bigint").alias("view_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("view_hour")
    )


@register(
    "join_asof_nearest_tolerance",
    tags=("timeseries", "join"),
    oracle="""
WITH c AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
b AS (
  SELECT p.event_id, p.user_id, p.ts, c.click_id AS bk, c.ts AS bt
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
),
f AS (
  SELECT p.event_id, c.click_id AS fk, c.ts AS ft
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts < c.ts
),
pick AS (
  SELECT b.event_id, b.user_id,
         CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
                   date_diff('microsecond', bt, b.ts) <= date_diff('microsecond', b.ts, ft))
              THEN bk ELSE fk END AS click_id,
         CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
                   date_diff('microsecond', bt, b.ts) <= date_diff('microsecond', b.ts, ft))
              THEN date_diff('microsecond', bt, b.ts)
              ELSE -date_diff('microsecond', b.ts, ft) END AS lag_us
  FROM b JOIN f USING (event_id)
)
SELECT event_id, user_id, click_id, lag_us
FROM pick
WHERE click_id IS NOT NULL AND abs(lag_us) <= 3600000000
ORDER BY event_id
""",
)
def join_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with tolerance (pandas merge_asof
    direction='nearest'): each 'error' event matches the closest
    'click' by the same user in EITHER direction, within 1 hour,
    ties broken toward the preceding click. Complements
    asof_join_latest_order's backward-only semantics.

    Spark plan: ONE union of both sides, ONE shuffle on user_id, two
    window sorts over the same partitioning — ascending carries the
    latest preceding click forward, descending carries the earliest
    following click backward — then an argmin on the two microsecond
    gaps. No range cross-product, no join-back; state per row is two
    (id, time) pairs. DuckDB's native ASOF JOIN pair (>= and <)
    verifies the composition exactly, microsecond-exact.
    """
    e = load(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(0).alias("tag"),
            "click_id",
            F.lit(None).cast("long").alias("probe_id"),
        )
    )
    probes = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("probe_id"),
    )
    merged = clicks.unionByName(probes)
    # ascending: clicks (tag 0) sort before probes at equal t -> inclusive >=
    w_b = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # descending: probes (tag 1 -> -tag -1) sort before clicks at equal
    # t, so an equal-time click is NOT visible forward (strict >)
    w_f = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").desc(), F.col("tag").desc(), F.col("click_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ctime = F.when(F.col("tag") == 0, F.col("t"))
    ann = (
        merged.withColumn("bk", F.last("click_id", ignorenulls=True).over(w_b))
        .withColumn("bt", F.last(ctime, ignorenulls=True).over(w_b))
        .withColumn("fk", F.last("click_id", ignorenulls=True).over(w_f))
        .withColumn("ft", F.last(ctime, ignorenulls=True).over(w_f))
        .where(F.col("probe_id").isNotNull())
    )
    gap_b = F.expr("timestampdiff(MICROSECOND, bt, t)")
    gap_f = F.expr("timestampdiff(MICROSECOND, t, ft)")
    take_b = F.col("bt").isNotNull() & (F.col("ft").isNull() | (gap_b <= gap_f))
    picked = ann.select(
        F.col("probe_id").alias("event_id"),
        "user_id",
        F.when(take_b, F.col("bk")).otherwise(F.col("fk")).alias("click_id"),
        F.when(take_b, gap_b).otherwise(-gap_f).cast("bigint").alias("lag_us"),
    )
    return (
        picked.where(F.col("click_id").isNotNull() & (F.abs("lag_us") <= 3_600_000_000))
        .orderBy("event_id")
    )


@register(
    "window_trailing_distinct_users",
    tags=("timeseries", "window", "agg", "scale"),
    oracle="""
WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS a, user_id FROM events),
days AS (SELECT DISTINCT a AS d FROM act),
ex AS (
  SELECT user_id, a,
         CAST(unnest(generate_series(a, a + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS d
  FROM act
)
SELECT strftime(ex.d, '%Y-%m-%d') AS day,
       COUNT(DISTINCT ex.user_id) AS n_active_7d,
       COUNT(DISTINCT CASE WHEN ex.a = ex.d THEN ex.user_id END) AS n_active_1d
FROM ex JOIN days ON ex.d = days.d
GROUP BY ex.d
ORDER BY day
""",
)
def window_trailing_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (rolling DAU/WAU)
    — the windowed COUNT(DISTINCT) that neither Spark nor most
    engines support as a window function, in its scalable form:
    distinct (user, day) pre-aggregation, then each activity day
    FANS OUT to the <=7 report days it can influence (a bounded
    explode, not a range self-join), then one exact distinct count
    per report day.

    Scale: the pre-agg collapses raw events to at most |users| x
    |days| rows before any expansion; the x7 fan-out is a per-row
    projection (no shuffle); the final distinct shuffles on (day,
    user) — partial-deduped map-side. An unbounded-preceding variant
    would instead use the mergeable bitmap/HLL partials
    (agg_bitmap_distinct_rollup, agg_hll_sketch_merge); the bounded
    window makes the exact fan-out form cheaper here.
    """
    act = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("a"), "user_id")
        .distinct()
    )
    days = act.select(F.col("a").alias("d")).distinct()
    ex = act.select(
        "user_id", "a", F.explode(F.sequence(F.col("a"), F.date_add("a", 6))).alias("d")
    )
    return (
        ex.join(days, "d")
        .groupBy("d")
        .agg(
            F.countDistinct("user_id").alias("n_active_7d"),
            F.countDistinct(F.when(F.col("a") == F.col("d"), F.col("user_id"))).alias(
                "n_active_1d"
            ),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_active_7d",
            "n_active_1d",
        )
        .orderBy("day")
    )


@register(
    "events_transition_matrix",
    tags=("timeseries", "analytics"),
    oracle="""
WITH pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
c AS (
  SELECT cur, nxt, COUNT(*) AS n
  FROM pairs WHERE nxt IS NOT NULL
  GROUP BY cur, nxt
)
SELECT cur, nxt, n,
       -- ratio of identical ints: unrounded, IEEE-identical cross-engine
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY cur) AS p
FROM c
ORDER BY cur, nxt
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov transition matrix: P(next event type |
    current event type) from per-user ordered event streams — the
    first model behind journey analytics, next-action prediction
    baselines, and funnel-drop diagnosis.

    Scale: lead() needs ONE shuffle on user_id; the pair counts
    reduce to a |types|^2-row matrix (bounded: 25 cells here) with
    map-side partial aggregation, and the row-normalization window
    runs on that tiny matrix — a pattern where the heavy stage is
    provably the first shuffle and everything after is constant-size
    regardless of corpus volume.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
    )
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("cur")
    return (
        counts.select(
            "cur",
            "nxt",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(total)).alias("p"),
        )
        .orderBy("cur", "nxt")
    )


# Shared by the batch point-in-time join AND the streaming SCD2
# enrichment (stream_queries.stream_scd2_enrichment): one oracle text,
# so the two hash contracts cannot drift apart.
SCD2_PIT_ORACLE = """
WITH dim AS (
  SELECT user_id, ts AS valid_from, event_type AS state,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM events
  WHERE event_type IN ('signup', 'purchase') AND user_id <= 30
)
SELECT e.event_id, e.user_id,
       CAST(d.version AS BIGINT) AS version, d.state,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS probe_ts
FROM events e
JOIN dim d
  ON e.user_id = d.user_id
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
WHERE e.event_type = 'click' AND e.user_id <= 30
ORDER BY e.event_id
"""


@register(
    "scd2_point_in_time_join",
    tags=("timeseries", "join", "warehouse"),
    oracle=SCD2_PIT_ORACLE,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 dimension — the
    feature-store / warehouse probe dual of scd2_dimension_build: each
    fact row (click events) is enriched with the dimension version
    that was valid AT ITS OWN timestamp, i.e. the join condition is
    the half-open validity interval [valid_from, valid_to) rather
    than a plain equi-key. Clicks before a user's first dimension
    version correctly drop out (the member did not exist yet) — the
    non-leaking semantics a training pipeline needs to avoid feature
    leakage from the future.

    Scale: an equi-join on the dimension's natural key plus an
    interval filter — correct whenever per-key version counts are
    bounded (dimension history; versions per key is O(changes/key),
    not O(table)). For unbounded histories the time-binned pattern
    (join_range_binned_count) replaces the residual filter with a
    bin equi-key; asof_join_latest_order is the sort-merge
    formulation of the same semantics.
    """
    e = load(spark, sf_dir, "events")
    probe = e.where((F.col("event_type") == "click") & (F.col("user_id") <= 30)).select(
        "event_id", "user_id", "ts"
    )
    ch = e.where(
        F.col("event_type").isin("signup", "purchase") & (F.col("user_id") <= 30)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = ch.select(
        F.col("user_id").alias("d_user"),
        F.col("ts").alias("valid_from"),
        F.col("event_type").alias("state"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return (
        probe.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select(
            "event_id",
            "user_id",
            "version",
            "state",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("probe_ts"),
        )
        .orderBy("event_id")
    )


MEDIAN_FRAME = 10  # 10 preceding + current = 21-row frame (odd => exact element)


@register(
    "events_rolling_median",
    tags=("timeseries", "window", "analytics"),
    oracle=f"""
SELECT user_id, event_id,
       CAST(MEDIAN(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {MEDIAN_FRAME} PRECEDING AND {MEDIAN_FRAME} FOLLOWING
       ) AS DOUBLE) AS med
FROM events
WHERE user_id <= 20
QUALIFY COUNT(*) OVER (
  PARTITION BY user_id ORDER BY ts, event_id
  ROWS BETWEEN {MEDIAN_FRAME} PRECEDING AND {MEDIAN_FRAME} FOLLOWING
) = {2 * MEDIAN_FRAME + 1}
ORDER BY user_id, event_id
""",
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN over a centered {2 * MEDIAN_FRAME + 1}-row
    window — the robust-smoothing dual of events_rolling_zscore:
    order statistics ignore the outliers a mean-based detector is
    dragged by. Spark has no native windowed median, so the frame is
    materialized with collect_list and reduced with array_sort +
    element_at — exact (odd frame => single middle element, no
    interpolation ambiguity), matching DuckDB's windowed MEDIAN
    bit-for-bit; truncated edge frames are excluded on both sides.

    Scale: one shuffle on the partition key; per-row cost is
    O(w log w) on a w={2 * MEDIAN_FRAME + 1} bounded frame — constant
    per row, NOT per partition, so the op scales with rows exactly
    like any bounded-frame window. For large w the two-heap running
    median (applyInPandas per key) is the upgrade path; the frame
    semantics pinned here are identical.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-MEDIAN_FRAME, MEDIAN_FRAME)
    )
    e = load(spark, sf_dir, "events").where(F.col("user_id") <= 20)
    framed = e.select(
        "user_id",
        "event_id",
        F.collect_list("value").over(w).alias("vals"),
    )
    full = framed.where(F.size("vals") == 2 * MEDIAN_FRAME + 1)
    return full.select(
        "user_id",
        "event_id",
        F.element_at(F.array_sort("vals"), MEDIAN_FRAME + 1)
        .cast("double")
        .alias("med"),
    ).orderBy("user_id", "event_id")


EWMA_FRAME = 20  # trailing rows in the decay window (half-life = 1 row)
EWMA_USER_MOD = 20  # deterministic 1-in-20 user slice keeps output bounded

# Shared by the batch query below AND stream_stateful_ewma (whose hash
# check pins stream == batch by running this very SQL as its oracle).
EWMA_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(round(value * 1000000) AS BIGINT) AS iv,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % {EWMA_USER_MOD} = 7
),
w AS (
  SELECT a.user_id, a.event_id,
         SUM(b.iv * (CAST(1 AS BIGINT) << ({EWMA_FRAME - 1} - (a.rn - b.rn)))) AS num,
         SUM(CAST(1 AS BIGINT) << ({EWMA_FRAME - 1} - (a.rn - b.rn))) AS den
  FROM e a JOIN e b
    ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - {EWMA_FRAME - 1} AND a.rn
  GROUP BY a.user_id, a.event_id
)
SELECT user_id, event_id,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0 AS ewma
FROM w ORDER BY event_id
"""


@register(
    "timeseries_ewma_halflife",
    tags=("timeseries", "window"),
    oracle=EWMA_ORACLE,
)
def timeseries_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (decay 1/2 per step,
    trailing EWMA_FRAME=20-row frame) per user — the smoothing every
    monitoring / feature pipeline runs. Powers of two make every
    weight EXACT in binary: values become integer micro-units, the
    weighted numerator and the weight mass are exact bigints (max
    ~5e15 < 2^53, so even the double casts are exact), and the EWMA
    is two IEEE divisions — bit-identical cross-engine with no FP
    accumulation-order hazard (a 0.8-style decay would drift).

    Scale: one shuffle+sort per user key; the frame aggregate is
    computed in-row from the collected frame (bounded at 20
    elements), so cost is linear in events with no self-join — the
    oracle's O(frame x rows) self-join is the semantic spec, not the
    plan. The user-slice predicate is a stateless hash filter pushed
    to the scan.
    """
    e = load(spark, sf_dir, "events").where(F.col("user_id") % EWMA_USER_MOD == 7)
    iv = F.round(F.col("value") * 1000000, 0).cast("bigint")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_FRAME - 1), 0)
    )
    withv = e.select("user_id", "ts", "event_id", iv.alias("iv")).withColumn(
        "vals", F.collect_list("iv").over(wf)
    )
    num = F.expr(
        f"aggregate(zip_with(vals, sequence({EWMA_FRAME} - size(vals), {EWMA_FRAME - 1}),"
        " (v, e) -> v * shiftleft(CAST(1 AS BIGINT), e)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    den = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {EWMA_FRAME})"
        f" - shiftleft(CAST(1 AS BIGINT), {EWMA_FRAME} - size(vals))"
    )
    return withv.select(
        "user_id",
        "event_id",
        (num.cast("double") / den.cast("double") / F.lit(1000000.0)).alias("ewma"),
    ).orderBy("event_id")


@register(
    "timeseries_autocorr_lag1",
    tags=("timeseries", "agg"),
    oracle="""
WITH e AS (
  SELECT user_id, CAST(round(value * 1000) AS BIGINT) AS iv,
         LAG(CAST(round(value * 1000) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ivp
  FROM events
),
p AS (SELECT user_id, iv, ivp FROM e WHERE ivp IS NOT NULL),
s AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(iv) AS sx, SUM(ivp) AS sy,
         SUM(iv * iv) AS sxx, SUM(ivp * ivp) AS syy, SUM(iv * ivp) AS sxy
  FROM p GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS autocorr
FROM s
WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
  AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
ORDER BY user_id
""",
)
def timeseries_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value series (is the
    signal persistent or white noise? — the first diagnostic on any
    metric stream). Values are quantized to milli-units so the
    (current, lagged) pair sums are exact bigints; the Pearson
    combination happens in double with the identical expression both
    engines, sqrt being correctly rounded IEEE — bit-deterministic at
    any partitioning. Degenerate (constant) series are filtered by an
    exact variance-positivity guard on both sides.

    Scale: one lag window per user + one partial-aggregable group-by
    carrying six integers per user; output is one row per user.
    """
    e = load(spark, sf_dir, "events")
    iv = F.round(F.col("value") * 1000, 0).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.select("user_id", "ts", "event_id", iv.alias("iv"))
        .withColumn("ivp", F.lag("iv").over(w))
        .where(F.col("ivp").isNotNull())
    )
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("iv").alias("sx"),
        F.sum("ivp").alias("sy"),
        F.sum(F.col("iv") * F.col("iv")).alias("sxx"),
        F.sum(F.col("ivp") * F.col("ivp")).alias("syy"),
        F.sum(F.col("iv") * F.col("ivp")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd, sxyd = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    varx = nd * sxxd - sxd * sxd
    vary = nd * syyd - syd * syd
    return (
        s.where((varx > 0) & (vary > 0))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_pairs"),
            ((nd * sxyd - sxd * syd) / F.sqrt(varx * vary)).alias("autocorr"),
        )
        .orderBy("user_id")
    )


RFM_TILES = 5  # quintile scores


@register(
    "events_rfm_segmentation",
    tags=("timeseries", "window", "agg"),
    oracle=f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS freq,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT custkey,
         NTILE({RFM_TILES}) OVER (ORDER BY last_order, custkey) AS r_score,
         NTILE({RFM_TILES}) OVER (ORDER BY freq, custkey) AS f_score,
         NTILE({RFM_TILES}) OVER (ORDER BY cents, custkey) AS m_score,
         cents
  FROM base
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS segment_cents
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    reduction: per customer compute Recency (last order date),
    Frequency (order count), Monetary (lifetime cents), quintile-score
    each with NTILE over a UNIQUE (metric, custkey) order (ntile is
    position-based, so a unique sort order makes every score
    deterministic in both engines), and roll up customer counts and
    exact-integer revenue per (R,F,M) cell.

    Scale: one partial-aggregable pass over orders builds the per-
    customer base; each quintile score is the DISTRIBUTED-SCAN NTILE
    (functions/scan.ranged_ntile — range-partition on the metric,
    local row_number in parallel, broadcast per-partition count
    offsets, tile = pure function of global position and N), so no
    single-task global sort appears anywhere in the plan
    (plan-asserted in tests/test_plans.py; partition-invariance
    pinned). The three scored frames re-join on custkey — three
    ordinary hash-partitioned shuffles; the final rollup is bounded at
    {RFM_TILES}^3 cells.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_ntile

    o = load(spark, sf_dir, "orders")
    # cached: the per-customer base feeds three independent ntile scans
    base = cache(
        o.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
                "cents"
            ),
        )
    )
    r = ranged_ntile(
        base.select("custkey", "last_order"),
        RFM_TILES,
        [F.col("last_order"), F.col("custkey")],
        "r_score",
    ).select("custkey", "r_score")
    f = ranged_ntile(
        base.select("custkey", "freq"),
        RFM_TILES,
        [F.col("freq"), F.col("custkey")],
        "f_score",
    ).select("custkey", "f_score")
    m = ranged_ntile(
        base.select("custkey", "cents"),
        RFM_TILES,
        [F.col("cents"), F.col("custkey")],
        "m_score",
    ).select("custkey", "m_score", "cents")
    scored = r.join(f, "custkey").join(m, "custkey")
    return (
        scored.groupBy(
            F.col("r_score").cast("bigint").alias("r_score"),
            F.col("f_score").cast("bigint").alias("f_score"),
            F.col("m_score").cast("bigint").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").cast("bigint").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --------------------------------------------- A/B experiment analysis


@register(
    "events_abtest_welch_ttest",
    tags=("timeseries", "analytics", "stats"),
    oracle="""
WITH g AS MATERIALIZED (
  SELECT event_type, user_id % 2 AS variant,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS ss
  FROM events GROUP BY 1, 2
),
ab AS (
  SELECT a.event_type,
         a.n AS n_a, b.n AS n_b,
         a.s / CAST(a.n AS DOUBLE) AS m_a, b.s / CAST(b.n AS DOUBLE) AS m_b,
         (a.ss - a.s * a.s / CAST(a.n AS DOUBLE)) / CAST(a.n - 1 AS DOUBLE) AS v_a,
         (b.ss - b.s * b.s / CAST(b.n AS DOUBLE)) / CAST(b.n - 1 AS DOUBLE) AS v_b
  FROM g a JOIN g b ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
)
SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND((m_a - m_b) / sqrt(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)), 6) AS t_stat,
       ROUND((v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) * (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE))
             / ((v_a / CAST(n_a AS DOUBLE)) * (v_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
                + (v_b / CAST(n_b AS DOUBLE)) * (v_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)), 6) AS df_welch
FROM ab ORDER BY event_type
""",
)
def events_abtest_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t statistic and
    Welch–Satterthwaite degrees of freedom per event_type, with the
    variant assigned by the standard deterministic hash bucket
    (user_id % 2 — the production form hashes a salted user key; the
    modulo keeps the oracle portable).

    Determinism: per-cell n / Σx / Σx² ride exact DECIMAL(18,2) sums
    (the engine-wide power-sum discipline); the t and df formulas are
    then fixed-order IEEE trees evaluated identically in both engines,
    with the oracle's decimal→double casts routed through VARCHAR
    (sql_dsum rationale, portable.py) so the casts are correctly
    rounded at any magnitude.

    Scale: one partial-aggregable groupBy over (event_type, variant) —
    the exchange carries ~10 summary rows however large the event log
    is; the variant self-join is on that summary table. This is the
    always-on experimentation readout a 100 TB event pipeline runs per
    metric per day.
    """
    dec = F.col("value").cast("decimal(18,2)")
    g = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", (F.col("user_id") % 2).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("s"),
            F.sum(dec * dec).cast("double").alias("ss"),
        )
    )
    a = g.where(F.col("variant") == 0).alias("a")
    b = g.where(F.col("variant") == 1).alias("b")
    nda = F.col("a.n").cast("double")
    ndb = F.col("b.n").cast("double")
    m_a = F.col("a.s") / nda
    m_b = F.col("b.s") / ndb
    v_a = (F.col("a.ss") - F.col("a.s") * F.col("a.s") / nda) / (
        F.col("a.n") - 1
    ).cast("double")
    v_b = (F.col("b.ss") - F.col("b.s") * F.col("b.s") / ndb) / (
        F.col("b.n") - 1
    ).cast("double")
    se2 = v_a / nda + v_b / ndb
    t = (m_a - m_b) / F.sqrt(se2)
    df_w = (
        se2
        * se2
        / (
            (v_a / nda) * (v_a / nda) / (F.col("a.n") - 1).cast("double")
            + (v_b / ndb) * (v_b / ndb) / (F.col("b.n") - 1).cast("double")
        )
    )
    return (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.n").cast("bigint").alias("n_a"),
            F.col("b.n").cast("bigint").alias("n_b"),
            F.round(m_a, 6).alias("mean_a"),
            F.round(m_b, 6).alias("mean_b"),
            F.round(t, 6).alias("t_stat"),
            F.round(df_w, 6).alias("df_welch"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- marketing attribution

ATTR_WINDOW_US = 86_400_000_000  # 24 h lookback, in microseconds


@register(
    "events_attribution_last_touch",
    tags=("timeseries", "analytics"),
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts
  FROM events
),
attributed AS (
  SELECT CASE WHEN prev_type IS NOT NULL
                   AND epoch_us(ts) - epoch_us(prev_ts) <= {ATTR_WINDOW_US}
              THEN prev_type ELSE 'direct' END AS channel,
         value
  FROM ordered WHERE event_type = 'purchase'
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
FROM attributed GROUP BY channel ORDER BY channel
""",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent NON-purchase event within a 24 h lookback
    (else the 'direct' bucket), then channels roll up to purchase
    count + exact-decimal revenue. The carry is last(..., ignorenulls)
    over an unbounded-preceding-to-1-preceding frame — the same
    last-observation-carried-forward shape as the as-of join, so the
    attribution needs NO self-join against the click stream.

    Determinism: event order is (ts, event_id) — a total order; the
    24 h test compares exact epoch microseconds; revenue is a
    DECIMAL(18,2) sum surfaced via the VARCHAR-routed cast.

    Scale: ONE shuffle (user_id window partitioning) over the event
    log, then a channel-cardinality groupBy. This is the attribution
    shape that replaces the naive purchases×impressions interval join,
    which explodes quadratically on active users.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp_type = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    nonp_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    ordered = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "ts",
        F.last(nonp_type, ignorenulls=True).over(w).alias("prev_type"),
        F.last(nonp_ts, ignorenulls=True).over(w).alias("prev_ts"),
    )
    channel = F.when(
        F.col("prev_type").isNotNull()
        & (
            F.unix_micros("ts") - F.unix_micros("prev_ts") <= ATTR_WINDOW_US
        ),
        F.col("prev_type"),
    ).otherwise(F.lit("direct"))
    return (
        ordered.where(F.col("event_type") == "purchase")
        .select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .orderBy("channel")
    )


# --------------------------------------------- Kaplan-Meier survival

KM_CHURN_HORIZON_US = 43_200_000_000  # last event > 12 h before corpus end = churned
KM_HOUR_US = 3_600_000_000
_KM_PACK = 1_000_000_000  # step packing: n_risk * PACK + deaths
_KM_ONE = 1_000_000  # S = 1.0 in micro units


@register(
    "events_survival_kaplan_meier",
    tags=("timeseries", "analytics", "stats"),
    oracle=f"""
WITH life AS MATERIALIZED (
  SELECT user_id,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // {KM_HOUR_US} AS dur,
         (epoch_us((SELECT MAX(ts) FROM events)) - epoch_us(MAX(ts))
            > {KM_CHURN_HORIZON_US}) AS observed
  FROM events GROUP BY user_id
),
tot AS (SELECT COUNT(*) AS n FROM life),
bydur AS (
  SELECT dur, COUNT(*) AS n_at, SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d
  FROM life GROUP BY dur
),
steps AS (
  SELECT dur, d,
         (SELECT n FROM tot) - COALESCE(SUM(n_at) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM bydur
),
death_steps AS (SELECT dur, d, n_risk FROM steps WHERE d > 0),
packed AS (
  SELECT list(n_risk * {_KM_PACK} + d ORDER BY dur) AS pk,
         list(dur ORDER BY dur) AS durs
  FROM death_steps
),
km AS (
  SELECT d.dur, d.n_risk, d.d,
         list_reduce(
           list_prepend(CAST({_KM_ONE} AS BIGINT),
                        pk[1:CAST(list_position(durs, d.dur) AS INT)]),
           (acc, x) -> acc * ((x // {_KM_PACK}) - (x % {_KM_PACK})) // (x // {_KM_PACK})
         ) AS s_micro
  FROM death_steps d CROSS JOIN packed
)
SELECT CAST(dur AS BIGINT) AS dur_hours, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_churned, CAST(s_micro AS BIGINT) AS survival_micro
FROM km ORDER BY dur_hours
""",
)
def events_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes: duration =
    floor-hours between a user's first and last event; a user whose
    last event sits more than 12 h before the corpus end is CHURNED
    (the death event), anyone still active is right-censored — the
    estimator's whole point is that censored users leave the risk set
    without counting as deaths. One row per death time: at-risk count,
    deaths, and S(t) = Π (nᵢ−dᵢ)/nᵢ.

    Determinism: the cumulative product is the KM hazard folded in
    MICRO fixed-point over a (n_risk, deaths)-packed bigint array with
    floor division at each step (a float Π or exp(Σlog) would be
    accumulation-order- and libm-dependent); duration uses
    floor-of-elapsed-micros, not boundary-counting date_diff, so both
    engines bucket identically.

    Scale: the corpus-sized work is ONE groupBy(user) over the event
    log; everything after runs on the step table, whose size is
    bounded by the TIME RESOLUTION (≤ span-in-hours rows), not the
    corpus — the fold's O(steps²) slice arithmetic is over ≤ ~720
    elements at any SF. The curve itself is the retention deliverable
    (survival at t = the fraction of users still active t hours into
    their lifetime).
    """
    ev = load(spark, sf_dir, "events")
    cmax = ev.agg(F.max("ts").alias("corpus_max"))
    life = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(cmax))
        .select(
            F.expr(f"(unix_micros(last_ts) - unix_micros(first_ts)) div {KM_HOUR_US}").alias("dur"),
            (
                F.unix_micros("corpus_max") - F.unix_micros("last_ts")
                > KM_CHURN_HORIZON_US
            ).alias("observed"),
        )
    )
    tot = life.agg(F.count(F.lit(1)).alias("n"))
    bydur = life.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum(F.col("observed").cast("int")).alias("d"),
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    steps = (
        bydur.crossJoin(F.broadcast(tot))
        .select(
            "dur",
            "d",
            (F.col("n") - F.coalesce(F.sum("n_at").over(wcum), F.lit(0))).alias("n_risk"),
        )
        .where(F.col("d") > 0)
    )
    packed = steps.agg(
        F.expr(f"transform(array_sort(collect_list(struct(dur, n_risk * {_KM_PACK} + d AS pkv))), s -> s.pkv)").alias("pk"),
        F.expr("array_sort(collect_list(dur))").alias("durs"),
    )
    km = steps.crossJoin(F.broadcast(packed)).select(
        "dur",
        "n_risk",
        "d",
        F.expr(
            f"aggregate(slice(pk, 1, CAST(array_position(durs, dur) AS INT)),"
            f" CAST({_KM_ONE} AS BIGINT),"
            f" (acc, x) -> acc * ((x div {_KM_PACK}) - (x % {_KM_PACK})) div (x div {_KM_PACK}))"
        ).alias("s_micro"),
    )
    return km.select(
        F.col("dur").cast("bigint").alias("dur_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.col("s_micro").cast("bigint").alias("survival_micro"),
    ).orderBy("dur_hours")


# --------------------------------------------- ML lag-feature assembly

LAGF_USER_CAP = 30


@register(
    "timeseries_lag_features",
    tags=("timeseries", "ml", "window"),
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev_cents
  FROM events WHERE user_id <= {LAGF_USER_CAP} AND event_type = 'purchase'
  GROUP BY 1, 2
),
bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
cal AS (
  SELECT b.user_id, CAST(g.d AS DATE) AS day
  FROM bounds b CROSS JOIN LATERAL
    (SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS d) g
),
dense AS (
  SELECT c.user_id, c.day, COALESCE(d.rev_cents, 0) AS rev_cents
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(COALESCE(lag(rev_cents, 1) OVER w, -1) AS BIGINT) AS lag1_cents,
       CAST(COALESCE(lag(rev_cents, 7) OVER w, -1) AS BIGINT) AS lag7_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_sum_cents,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_n
FROM dense
WINDOW w AS (PARTITION BY user_id ORDER BY day)
ORDER BY user_id, day
""",
)
def timeseries_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature assembly over a time series: per
    user, a DENSE daily revenue calendar (zero-filled gaps via a
    per-user date sequence — lags over a sparse series would silently
    mean "last active day", not "yesterday"), then the standard lag
    block: t−1, t−7, and the trailing-7-day sum/count. Missing-history
    rows carry the −1 sentinel the training pipeline masks on. All
    features are exact integer cents — bit-stable labels for model
    training and cross-engine hashing.

    Scale: one groupBy to daily grain, one per-user explode bounded by
    each user's OWN active span (never corpus-global), then a single
    user-partitioned window pass computing every feature column — the
    canonical feature-store backfill shape; adding lag-14/lag-28
    columns reuses the same sorted window, zero extra shuffles.
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        load(spark, sf_dir, "events")
        .where((F.col("user_id") <= LAGF_USER_CAP) & (F.col("event_type") == "purchase"))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("rev_cents"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = bounds.select(
        "user_id", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    dense = cal.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce(F.col("rev_cents"), F.lit(0)).alias("rev_cents")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    return dense.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.coalesce(F.lag("rev_cents", 1).over(w), F.lit(-1)).cast("bigint").alias("lag1_cents"),
        F.coalesce(F.lag("rev_cents", 7).over(w), F.lit(-1)).cast("bigint").alias("lag7_cents"),
        F.sum("rev_cents").over(w7).cast("bigint").alias("roll7_sum_cents"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("roll7_n"),
    ).orderBy("user_id", "day")


# --------------------------------------------- peak concurrency


@register(
    "events_peak_concurrency",
    tags=("timeseries", "analytics"),
    oracle="""
WITH iv AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS s, MAX(ts) AS e
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT day, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT day, e AS t, -1 AS delta FROM iv
),
sweep AS (
  SELECT day, t, delta,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM pts
),
mx AS (SELECT day, MAX(conc) AS max_conc FROM sweep GROUP BY day),
peak AS (
  SELECT s.day, s.conc, MIN(s.t) AS peak_time
  FROM sweep s JOIN mx ON s.day = mx.day AND s.conc = mx.max_conc
  GROUP BY s.day, s.conc
)
SELECT strftime(p.day, '%Y-%m-%d') AS day,
       CAST((SELECT COUNT(*) FROM iv i WHERE i.day = p.day) AS BIGINT) AS n_intervals,
       CAST(p.conc AS BIGINT) AS max_concurrent,
       strftime(p.peak_time, '%Y-%m-%d %H:%M:%S.%f') AS peak_time
FROM peak p ORDER BY day
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by sweep line: each user's daily presence is
    the interval [first event, last event]; interval boundaries become
    ±1 delta points, the running sum over (t, delta) is the live
    concurrency, and the answer is each day's maximum plus the FIRST
    instant attaining it — the capacity-planning statistic (how many
    sessions must the system hold at once), computed without any
    interval self-join.

    Determinism: within a (t, delta) tie group every step is the same
    ±1 increment, so the prefix-sum VALUES are order-invariant even
    though window ties are unordered; -1 sorts before +1 at equal t
    (end-exclusive semantics). Peak time is a MIN over the tied max
    rows. Everything is integer.

    Scale: the sweep is one window partitioned by day — boundary
    points are 2 rows per (user, day), so the sorted set is tiny
    relative to the event log; the classic O(n log n) replacement for
    the O(n²) overlap join. Finer partitioning (hour) bounds each
    window further at cluster scale.
    """
    iv = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pts = iv.select("day", F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    wsw = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = pts.select("day", "t", F.sum("delta").over(wsw).alias("conc"))
    mx = sweep.groupBy("day").agg(F.max("conc").alias("max_conc"))
    peak = (
        sweep.join(mx, "day")
        .where(F.col("conc") == F.col("max_conc"))
        .groupBy("day", "conc")
        .agg(F.min("t").alias("peak_time"))
    )
    niv = iv.groupBy("day").agg(F.count(F.lit(1)).alias("n_intervals"))
    return (
        peak.join(niv, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_intervals").cast("bigint").alias("n_intervals"),
            F.col("conc").cast("bigint").alias("max_concurrent"),
            F.date_format("peak_time", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("peak_time"),
        )
        .orderBy("day")
    )


# --------------------------------------------- engagement (DAU/WAU/MAU)


@register(
    "events_dau_wau_mau",
    tags=("timeseries", "analytics"),
    oracle="""
WITH ud AS MATERIALIZED (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
cal AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT c.day, COUNT(DISTINCT u.user_id) AS wau
  FROM cal c JOIN ud u ON u.day BETWEEN c.day - INTERVAL 6 DAY AND c.day
  GROUP BY c.day
),
mau AS (
  SELECT c.day, COUNT(DISTINCT u.user_id) AS mau
  FROM cal c JOIN ud u ON u.day BETWEEN c.day - INTERVAL 29 DAY AND c.day
  GROUP BY c.day
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       CAST(m.mau AS BIGINT) AS mau,
       ROUND(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
FROM dau d JOIN wau w ON d.day = w.day JOIN mau m ON d.day = m.day
ORDER BY day
""",
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement dashboard: daily / trailing-7-day / trailing-30-
    day EXACT distinct actives plus stickiness = DAU/MAU, per day.
    Spark lacks a windowed COUNT(DISTINCT); the scale formulation is
    the bounded FAN-OUT (window_trailing_distinct_users' trick): each
    distinct (user, day) row contributes itself to the 7 (resp. 30)
    target days it stays inside the window, then a plain per-target
    distinct count — a 30× bounded explode of the DEDUPLICATED
    activity table, never a range self-join against the event log.

    Determinism: all integers; stickiness is one IEEE division.

    Scale: the event log collapses to distinct (user, day) first (the
    only corpus-sized aggregation); the fan-out multiplies that
    already-small table by a constant; per-target distinct counts
    partial-aggregate. The DuckDB oracle uses the interval join
    directly — same semantics, different (single-node) plan shape.
    """
    ud = (
        load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )

    ud = cache(ud)
    cal = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # ONE 30-day fan-out computes BOTH trailing windows: the offset k
    # rides along and the 7-day count is the k<7 conditional distinct —
    # half the corpus-derived shuffle volume of two separate fans
    fan = ud.select(
        "user_id",
        F.posexplode(F.expr("sequence(day, day + interval 29 day)")).alias(
            "k", "target"
        ),
    )
    wm = (
        fan.join(F.broadcast(cal), fan["target"] == cal["day"])
        .groupBy("target")
        .agg(
            F.count_distinct(F.when(F.col("k") < 7, F.col("user_id"))).alias("wau"),
            F.count_distinct("user_id").alias("mau"),
        )
        .select(F.col("target").alias("day"), "wau", "mau")
    )
    return (
        dau.join(wm, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


# --------------------------------------------- Markov stationary state

MARKOV_ITERS = 6
_MK_NANO = 1_000_000_000


def _markov_stationary_oracle() -> str:
    ctes = [
        """pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
)""",
        "c AS MATERIALIZED (SELECT cur, nxt, COUNT(*) AS n FROM pairs WHERE nxt IS NOT NULL GROUP BY cur, nxt)",
        f"""p AS MATERIALIZED (
  SELECT cur, nxt, (n * {_MK_NANO}) // SUM(n) OVER (PARTITION BY cur) AS p_nano FROM c
)""",
        "states AS (SELECT DISTINCT cur AS st FROM c)",
        f"pi0 AS (SELECT st, CAST({_MK_NANO} // (SELECT COUNT(*) FROM states) AS BIGINT) AS v FROM states)",
    ]
    for k in range(1, MARKOV_ITERS + 1):
        ctes.append(
            f"""pi{k} AS MATERIALIZED (
  SELECT p.nxt AS st, CAST(SUM(pi{k - 1}.v * p.p_nano) // {_MK_NANO} AS BIGINT) AS v
  FROM pi{k - 1} JOIN p ON pi{k - 1}.st = p.cur
  GROUP BY p.nxt
)"""
        )
    # final join keys on the INCOMING (nxt) state set — identical to the
    # Spark side; joining DISTINCT cur would drop an absorbing state
    # that only ever appears as a transition target
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
, inc AS (SELECT nxt AS st, SUM(n) AS n_incoming FROM c GROUP BY nxt)
SELECT pi.st AS state, CAST(pi.v AS BIGINT) AS pi_nano,
       CAST(inc.n_incoming AS BIGINT) AS n_incoming
FROM pi{MARKOV_ITERS} pi JOIN inc ON pi.st = inc.st
ORDER BY state"""
    )


@register(
    "events_markov_stationary",
    tags=("timeseries", "analytics", "graph"),
    oracle=_markov_stationary_oracle(),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain
    (events_transition_matrix's long-run answer): MARKOV_ITERS (6)
    fixed-point power-iteration steps π ← πP in NANO integers — where
    a user's session spends its time in the limit, the steady-state
    complement of the one-step matrix. Integer row-normalized
    transition probabilities and floor arithmetic make every step
    bit-exact under any partitioning and in the unrolled DuckDB
    oracle (the pagerank discipline on a |types|×|types| chain).

    Scale: the event log is touched ONCE (the lead() shuffle that
    builds pair counts); every iteration then multiplies a |types|-row
    vector against the bounded matrix — constant-size state, so the
    iteration cost is job-scheduling latency, not data (k-core's
    lesson). n_incoming ties the fixture to the raw counts.
    """
    pairs = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    c = cache(
        pairs.where(F.col("nxt").isNotNull()).groupBy("cur", "nxt").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    p = cache(
        c.select(
            "cur",
            "nxt",
            F.expr(f"(n * {_MK_NANO}) div SUM(n) OVER (PARTITION BY cur)").alias(
                "p_nano"
            ),
        )
    )
    states = c.select(F.col("cur").alias("st")).distinct()
    n_states = states.count()  # bounded: |event types|
    pi = states.select("st", F.lit(_MK_NANO // n_states).cast("bigint").alias("v"))
    # the per-iteration shuffles move a |types|-row vector: scope the
    # width down (cached plans bypass AQE coalescing — the k-core
    # convention)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        for _ in range(MARKOV_ITERS):
            pi = (
                pi.join(p, pi["st"] == p["cur"])
                .groupBy(F.col("nxt").alias("st2"))
                .agg(F.expr(f"CAST(SUM(v * p_nano) div {_MK_NANO} AS BIGINT)").alias("v"))
                .select(F.col("st2").alias("st"), "v")
            )
        pi = local_df(spark, pi.collect(), "st string, v bigint")
    incoming = c.groupBy(F.col("nxt").alias("st")).agg(F.sum("n").alias("n_incoming"))
    return (
        pi.join(incoming, "st")
        .select(
            F.col("st").alias("state"),
            F.col("v").cast("bigint").alias("pi_nano"),
            F.col("n_incoming").cast("bigint").alias("n_incoming"),
        )
        .orderBy("state")
    )


# --------------------------------------------- cohort lifetime value


@register(
    "events_cohort_ltv",
    tags=("timeseries", "analytics"),
    oracle="""
WITH first_seen AS MATERIALIZED (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
rev AS (
  SELECT e.user_id,
         CAST(date_diff('day', f.first_day, CAST(e.ts AS DATE)) // 7 AS BIGINT) AS age_weeks,
         CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
),
coh AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', f.first_day) // 7 AS BIGINT) AS cohort_week,
         f.user_id
  FROM first_seen f
),
cell AS (
  SELECT c.cohort_week, r.age_weeks, SUM(r.cents) AS cents
  FROM rev r JOIN coh c ON r.user_id = c.user_id
  GROUP BY 1, 2
),
sizes AS (SELECT cohort_week, COUNT(*) AS n_users FROM coh GROUP BY cohort_week)
SELECT ce.cohort_week, ce.age_weeks, CAST(s.n_users AS BIGINT) AS n_users,
       CAST(SUM(ce.cents) OVER (PARTITION BY ce.cohort_week ORDER BY ce.age_weeks
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_revenue_cents,
       ROUND(CAST(SUM(ce.cents) OVER (PARTITION BY ce.cohort_week ORDER BY ce.age_weeks
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / (100.0 * s.n_users), 6) AS ltv_per_user
FROM cell ce JOIN sizes s ON ce.cohort_week = s.cohort_week
ORDER BY ce.cohort_week, ce.age_weeks
""",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value by acquisition cohort: users grouped
    by first-seen week, purchase revenue bucketed by week-of-life
    (age), and the running per-user LTV curve per cohort — the revenue
    companion to events_cohort_retention, and the curve growth teams
    read payback periods off. Revenue rides exact integer cents; the
    epoch-week cohort key is pure date arithmetic (no timezone-
    dependent formatting); LTV is one division per cell.

    Scale: one groupBy(user) for first-seen, one broadcastable join
    back to purchases, then the cumulative window runs on the
    (cohorts × ages) CELL table — bounded by the calendar, not the
    corpus. The same single-shuffle shape as the retention matrix.
    """
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )

    first_seen = cache(first_seen)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            F.expr("CAST(datediff(CAST(ts AS DATE), first_day) div 7 AS BIGINT)").alias(
                "age_weeks"
            ),
            F.expr(
                "CAST(datediff(first_day, DATE '1970-01-01') div 7 AS BIGINT)"
            ).alias("cohort_week"),
            cents.alias("cents"),
        )
    )
    cell = rev.groupBy("cohort_week", "age_weeks").agg(F.sum("cents").alias("cents"))
    sizes = first_seen.select(
        F.expr("CAST(datediff(first_day, DATE '1970-01-01') div 7 AS BIGINT)").alias(
            "cohort_week"
        )
    ).groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("cents").over(wcum)
    return (
        cell.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            F.col("n_users").cast("bigint").alias("n_users"),
            cum.cast("bigint").alias("cum_revenue_cents"),
            F.round(cum.cast("double") / (F.lit(100.0) * F.col("n_users")), 6).alias(
                "ltv_per_user"
            ),
        )
        .orderBy("cohort_week", "age_weeks")
    )


@register(
    "events_weekday_seasonality",
    tags=("timeseries", "analytics"),
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT date_trunc('day', ts) AS d, dayofweek(ts) AS dow0,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
bydow AS (
  SELECT dow0, COUNT(*) AS n_days, CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM daily GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_days) AS BIGINT) AS all_days,
               CAST(SUM(total_cents) AS BIGINT) AS grand_cents FROM bydow)
SELECT CAST(dow0 AS BIGINT) AS dow0,
       CAST(n_days AS BIGINT) AS n_days,
       total_cents,
       ROUND((CAST(total_cents AS DOUBLE) / n_days)
             / (CAST((SELECT grand_cents FROM tot) AS DOUBLE)
                / (SELECT all_days FROM tot)), 6) AS seasonal_index
FROM bydow ORDER BY dow0
""",
)
def events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality indices: each weekday's average daily event
    value relative to the overall daily average — the multiplicative
    seasonal profile (index > 1 = above-trend weekday) that capacity
    planning and anomaly baselines divide out before comparing days.
    Daily totals are exact DECIMAL-cents bigints; each index is a
    fixed-order IEEE expression over exact integers, identical in both
    engines (the Welch-t discipline).

    Scale: one partial-aggregable (day, weekday) rollup — the exchange
    carries one row per calendar day — then a 7-row reduction; the
    index math runs on the 7-row frame against one broadcast scalar.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("d"),
            (F.dayofweek("ts") - 1).alias("dow0"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    bydow = daily.groupBy("dow0").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    tot = bydow.agg(
        F.sum("n_days").cast("bigint").alias("all_days"),
        F.sum("total_cents").cast("bigint").alias("grand_cents"),
    )
    idx = (F.col("total_cents").cast("double") / F.col("n_days")) / (
        F.col("grand_cents").cast("double") / F.col("all_days")
    )
    return (
        bydow.crossJoin(F.broadcast(tot))
        .select(
            F.col("dow0").cast("bigint").alias("dow0"),
            F.col("n_days").cast("bigint").alias("n_days"),
            "total_cents",
            F.round(idx, 6).alias("seasonal_index"),
        )
        .orderBy("dow0")
    )


@register(
    "events_uplift_by_segment",
    tags=("timeseries", "analytics", "stats"),
    oracle="""
WITH u AS MATERIALIZED (
  SELECT user_id, user_id % 2 AS variant, COUNT(*) AS n_ev,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
s AS (
  SELECT CASE WHEN n_ev <= 60 THEN 'light'
              WHEN n_ev <= 72 THEN 'medium' ELSE 'heavy' END AS segment,
         variant, COUNT(*) AS n_users, SUM(conv) AS n_conv
  FROM u GROUP BY 1, 2
),
w AS (
  SELECT t.segment,
         CAST(t.n_users AS BIGINT) AS n_treat, CAST(t.n_conv AS BIGINT) AS conv_treat,
         CAST(c.n_users AS BIGINT) AS n_ctrl, CAST(c.n_conv AS BIGINT) AS conv_ctrl
  FROM s t JOIN s c ON t.segment = c.segment AND t.variant = 1 AND c.variant = 0
)
SELECT segment, n_treat, conv_treat, n_ctrl, conv_ctrl,
       ROUND(CAST(conv_treat AS DOUBLE) / n_treat
             - CAST(conv_ctrl AS DOUBLE) / n_ctrl, 6) AS uplift
FROM w ORDER BY segment
""",
)
def events_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion uplift by engagement segment: treatment (odd users)
    minus control (even users) purchase-conversion rate within
    light/medium/heavy activity tiers (cut at the corpus's scale-stable
    per-user quartiles, ~60/72 events — events-per-user is constant
    across scale factors, so the tiers stay populated at every sf) — the heterogeneous-treatment-
    effect readout an experimentation platform reports after the
    global Welch test (events_abtest_welch_ttest) says "significant":
    WHERE the effect lives. Counts are exact integers; each rate and
    the uplift are fixed-order IEEE expressions on them.

    Scale: one partial-aggregable per-user reduction (the exchange
    carries users, not events), a bounded 3x2 rollup, and a self-join
    on the 6-row frame. Nothing corpus-sized past the first groupBy.
    """
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    s = (
        u.withColumn(
            "segment",
            F.when(F.col("n_ev") <= 60, "light")
            .when(F.col("n_ev") <= 72, "medium")
            .otherwise("heavy"),
        )
        .groupBy("segment", "variant")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("conv").alias("n_conv"))
    )
    t = s.where(F.col("variant") == 1).select(
        "segment",
        F.col("n_users").cast("bigint").alias("n_treat"),
        F.col("n_conv").cast("bigint").alias("conv_treat"),
    )
    c = s.where(F.col("variant") == 0).select(
        "segment",
        F.col("n_users").cast("bigint").alias("n_ctrl"),
        F.col("n_conv").cast("bigint").alias("conv_ctrl"),
    )
    return (
        t.join(c, "segment")
        .select(
            "segment",
            "n_treat",
            "conv_treat",
            "n_ctrl",
            "conv_ctrl",
            F.round(
                F.col("conv_treat").cast("double") / F.col("n_treat")
                - F.col("conv_ctrl").cast("double") / F.col("n_ctrl"),
                6,
            ).alias("uplift"),
        )
        .orderBy("segment")
    )


@register(
    "timeseries_stl_decompose",
    tags=("timeseries", "analytics"),
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS d, dayofweek(ts) AS dow0,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2, 3
),
w AS (
  SELECT event_type, d, dow0, cents,
         SUM(cents) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
  FROM daily
),
det AS (
  SELECT event_type, dow0, 7 * cents - t7 AS dx7
  FROM w WHERE c7 = 7
),
sdow AS (
  SELECT event_type, dow0, CAST(SUM(dx7) AS BIGINT) AS s_sum, COUNT(*) AS s_n
  FROM det GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(SUM(dx7) AS BIGINT) AS g_sum, COUNT(*) AS g_n
  FROM det GROUP BY 1
)
SELECT w.event_type, strftime(w.d, '%Y-%m-%d') AS day, w.cents,
       CASE WHEN w.c7 = 7
            THEN ROUND(CAST(w.t7 AS DOUBLE) / 700.0, 6) + 0 END AS trend,
       ROUND(CAST(s.s_sum AS DOUBLE) / (700.0 * s.s_n)
             - CAST(g.g_sum AS DOUBLE) / (700.0 * g.g_n), 6) + 0 AS seasonal,
       CASE WHEN w.c7 = 7 THEN ROUND(
         (CAST(w.cents AS DOUBLE) / 100.0 - CAST(w.t7 AS DOUBLE) / 700.0)
         - (CAST(s.s_sum AS DOUBLE) / (700.0 * s.s_n)
            - CAST(g.g_sum AS DOUBLE) / (700.0 * g.g_n)), 6) + 0 END AS residual
FROM w
JOIN sdow s ON s.event_type = w.event_type AND s.dow0 = w.dow0
JOIN g ON g.event_type = w.event_type
ORDER BY w.event_type, day
""",
)
def timeseries_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    STL ancestor: Cleveland et al.'s decompose step without loess) of
    each event type's daily revenue: trend = centered 7-day moving
    average, seasonal = day-of-week mean of the detrended series
    re-centered to sum ~0, residual = y - trend - seasonal. The
    monitoring primitive behind "is today's dip seasonal or real".

    Exactness: daily totals are DECIMAL-cents bigints; the 7-day
    window SUM and the detrended value 7*cents - t7 stay exact
    integers (order-independent), so trend/seasonal/residual are each
    a fixed-order IEEE expression over exact ints — identical
    cross-engine, with `+ 0` absorbing signed-zero rounding.

    Scale: one (type, day) partial-aggregable rollup — the exchange
    carries one row per series-day — then windows PARTITIONED BY
    event_type (days per series grow with calendar time, not corpus
    size; no global single-task sort), and two tiny keyed rollups.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        (F.dayofweek("ts") - 1).alias("dow0"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    )
    w = daily.select(
        "event_type",
        "d",
        "dow0",
        "cents",
        F.sum("cents").over(w7).alias("t7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    det = w.where(F.col("c7") == 7).select(
        "event_type", "dow0", (7 * F.col("cents") - F.col("t7")).alias("dx7")
    )
    sdow = det.groupBy("event_type", "dow0").agg(
        F.sum("dx7").cast("bigint").alias("s_sum"), F.count(F.lit(1)).alias("s_n")
    )
    g = det.groupBy("event_type").agg(
        F.sum("dx7").cast("bigint").alias("g_sum"), F.count(F.lit(1)).alias("g_n")
    )
    seasonal = F.col("s_sum").cast("double") / (700.0 * F.col("s_n")) - F.col(
        "g_sum"
    ).cast("double") / (700.0 * F.col("g_n"))
    trend = F.col("t7").cast("double") / 700.0
    resid = (F.col("cents").cast("double") / 100.0 - trend) - seasonal
    return (
        w.join(sdow, ["event_type", "dow0"])
        .join(g, "event_type")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "cents",
            F.when(F.col("c7") == 7, F.round(trend, 6) + 0).alias("trend"),
            (F.round(seasonal, 6) + 0).alias("seasonal"),
            F.when(F.col("c7") == 7, F.round(resid, 6) + 0).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "timeseries_cusum_changepoint",
    tags=("timeseries", "analytics"),
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, COUNT(*) AS n_days, CAST(SUM(cents) AS BIGINT) AS total
  FROM daily GROUP BY 1
),
c AS (
  SELECT d.event_type, d.d, t.n_days,
         t.n_days * SUM(d.cents) OVER (PARTITION BY d.event_type ORDER BY d.d
                                       ROWS UNBOUNDED PRECEDING)
         - ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.d) * t.total
           AS cusum_x
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
r AS (
  SELECT event_type, d, n_days, cusum_x,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(cusum_x) DESC, d) AS rk
  FROM c
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS cp_day,
       CAST(n_days AS BIGINT) AS n_days,
       ROUND(CAST(cusum_x AS DOUBLE) / (100.0 * n_days), 6) + 0 AS cusum_peak
FROM r WHERE rk = 1
ORDER BY event_type
""",
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of daily revenue from the series mean peaks
    (Page's cumulative-sum statistic — the classic single-changepoint
    locator; the binary-segmentation building block).

    Exactness: the statistic is kept in SCALED integer space —
    n_days * cumsum(cents) - dayn * total is an exact bigint, so the
    argmax (tie-broken by day) is deterministic cross-engine; the one
    division to dollar units happens after selection.

    Scale: the cumulative window is PARTITIONED BY event_type — each
    series' scan is keyed and parallel across series; series length
    grows with calendar time, not corpus size, so no single task ever
    sees more than one series' days.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").cast("bigint").alias("total")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrow = Window.partitionBy("event_type").orderBy("d")
    c = daily.join(tot, "event_type").select(
        "event_type",
        "d",
        "n_days",
        (
            F.col("n_days") * F.sum("cents").over(wcum)
            - F.row_number().over(wrow).cast("bigint") * F.col("total")
        ).alias("cusum_x"),
    )
    wrk = Window.partitionBy("event_type").orderBy(F.abs(F.col("cusum_x")).desc(), "d")
    return (
        c.withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("cp_day"),
            F.col("n_days").cast("bigint").alias("n_days"),
            (F.round(F.col("cusum_x").cast("double") / (100.0 * F.col("n_days")), 6) + 0).alias(
                "cusum_peak"
            ),
        )
        .orderBy("event_type")
    )


HOLT_ALPHA = 0.5  # level smoothing (exact binary fraction)
HOLT_BETA = 0.3   # trend smoothing


@register(
    "timeseries_holt_linear_forecast",
    tags=("timeseries", "analytics", "ml"),
    oracle=f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
seq AS MATERIALIZED (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
),
hw AS (
  SELECT s1.event_type, CAST(2 AS BIGINT) AS rn, s1.n_days,
         CAST(s2.cents AS DOUBLE) / 100.0 AS l,
         CAST(s2.cents AS DOUBLE) / 100.0 - CAST(s1.cents AS DOUBLE) / 100.0 AS b
  FROM seq s1 JOIN seq s2 ON s2.event_type = s1.event_type AND s2.rn = 2
  WHERE s1.rn = 1
  UNION ALL
  SELECT hw.event_type, hw.rn + 1, hw.n_days,
         {HOLT_ALPHA} * (CAST(s.cents AS DOUBLE) / 100.0)
           + (1.0 - {HOLT_ALPHA}) * (hw.l + hw.b) AS l,
         {HOLT_BETA} * (({HOLT_ALPHA} * (CAST(s.cents AS DOUBLE) / 100.0)
                         + (1.0 - {HOLT_ALPHA}) * (hw.l + hw.b)) - hw.l)
           + (1.0 - {HOLT_BETA}) * hw.b AS b
  FROM hw JOIN seq s ON s.event_type = hw.event_type AND s.rn = hw.rn + 1
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       ROUND(l, 6) + 0 AS level,
       ROUND(b, 6) + 0 AS trend,
       ROUND(l + b, 6) + 0 AS forecast_next
FROM hw WHERE rn = n_days
ORDER BY event_type
""",
)
def timeseries_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per event
    type over the daily revenue series (level alpha={HOLT_ALPHA},
    trend beta={HOLT_BETA}, init l=y1, b=y2-y1) with a one-step-ahead
    forecast — the classic capacity-forecast primitive one rung above
    the flat EWMA (timeseries_ewma_halflife / stream_stateful_ewma).

    The recursion is inherently sequential per series, so each series
    runs as ONE applyInPandas group folding the IDENTICAL scalar
    expression shape the DuckDB oracle's recursive CTE folds —
    step-for-step IEEE-identical doubles from exact cents inputs
    (both engines evaluate alpha*y + (1-alpha)*(l+b) left-to-right),
    with the verdict rounded at 6dp.

    Scale: state is O(1) per series and series parallelize across the
    groupBy — the exchange carries one row per (series, day).
    Series length grows with calendar time, not corpus size; a
    10^6-series corpus fans out to 10^6 independent groups (this is
    the applyInPandas analogue of stream_stateful_ewma's keyed state).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_days", LongType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("forecast_next", DoubleType()),
        ]
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        from spark_rapids_ml_spark.operators.evalmetrics import _round_half_away

        def r6(x: float) -> float:
            # half-away-from-zero at 6dp (DuckDB/Spark ROUND semantics;
            # Python round() is half-to-even), +0 kills signed zero
            return float(_round_half_away(x * 1e6)) / 1e6 + 0

        pdf = pdf.sort_values("d")
        y = [c / 100.0 for c in pdf["cents"]]
        if len(y) < 2:
            # trend init needs two points; the oracle's recursive CTE is
            # anchored on rn=2 and silently omits 1-day series — match it
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in [
                    ("event_type", "object"), ("n_days", "int64"),
                    ("level", "float64"), ("trend", "float64"),
                    ("forecast_next", "float64"),
                ]}
            )
        lvl, b = y[1], y[1] - y[0]
        for t in range(2, len(y)):
            new_l = HOLT_ALPHA * y[t] + (1.0 - HOLT_ALPHA) * (lvl + b)
            b = HOLT_BETA * (new_l - lvl) + (1.0 - HOLT_BETA) * b
            lvl = new_l
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(y)],
                "level": [r6(lvl)],
                "trend": [r6(b)],
                "forecast_next": [r6(lvl + b)],
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(holt, out_schema)
        .orderBy("event_type")
    )


@register(
    "events_funnel_time_to_convert",
    tags=("timeseries", "analytics", "scan"),
    oracle="""
WITH fv AS (
  SELECT user_id, MIN(ts) AS view_ts FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS buy_ts
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fv.view_ts
  GROUP BY e.user_id
),
d AS (
  SELECT fv.user_id,
         CAST(date_diff('second', fv.view_ts, fp.buy_ts) AS BIGINT) AS delta_s
  FROM fv JOIN fp ON fp.user_id = fv.user_id
),
r AS (
  SELECT user_id, delta_s,
         ROW_NUMBER() OVER (ORDER BY delta_s, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM d
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN delta_s END) AS BIGINT) AS median_s,
       CAST(MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN delta_s END) AS BIGINT) AS p90_s,
       CAST(MIN(delta_s) AS BIGINT) AS min_s,
       CAST(MAX(delta_s) AS BIGINT) AS max_s
FROM r
""",
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for the view→purchase funnel: each user's first
    view to their first subsequent purchase, summarized as EXACT
    order-statistic latencies (lower median, ceil-rank p90, min/max in
    whole seconds) — the velocity readout next to
    events_funnel_conversion's rate. Exact rank selection, not an
    interpolating percentile: engine-specific float interpolation
    can't disagree on an integer it never computes.

    Scale: two user-keyed min-reductions and one equi-join produce one
    delta row per converted user; the rank rides the DISTRIBUTED
    range-partitioned scan (functions/scan.ranged_row_number — no
    single-task sort over the per-user table), and the verdict is a
    one-row conditional reduce.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_row_number

    ev = load(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .where(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("buy_ts"))
    )
    d = fv.join(fp, "user_id").select(
        "user_id",
        (F.unix_timestamp("buy_ts") - F.unix_timestamp("view_ts"))
        .cast("bigint")
        .alias("delta_s"),
    )
    n = d.count()
    r = ranged_row_number(d, [F.col("delta_s"), F.col("user_id")], rn_col="rn")
    med_rn, p90_rn = (n + 1) // 2, (n * 9 + 9) // 10
    return r.agg(
        # zero-conversion corpus: oracle's MAX(n) over empty r is NULL —
        # mirror that instead of Spark's count-of-empty = 0
        F.when(F.count(F.lit(1)) > 0, F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_converted"),
        F.max(F.when(F.col("rn") == med_rn, F.col("delta_s"))).cast("bigint").alias("median_s"),
        F.max(F.when(F.col("rn") == p90_rn, F.col("delta_s"))).cast("bigint").alias("p90_s"),
        F.min("delta_s").cast("bigint").alias("min_s"),
        F.max("delta_s").cast("bigint").alias("max_s"),
    )


STL_ANOM_K = 3  # flag days beyond K x MAD of the STL residual


@register(
    "events_stl_anomaly_flags",
    tags=("timeseries", "analytics", "dq"),
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS d, dayofweek(ts) AS dow0,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2, 3
),
w AS (
  SELECT event_type, d, dow0, cents,
         SUM(cents) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
  FROM daily
),
det AS (SELECT event_type, dow0, 7 * cents - t7 AS dx7 FROM w WHERE c7 = 7),
sdow AS (
  SELECT event_type, dow0, CAST(SUM(dx7) AS BIGINT) AS s_sum, COUNT(*) AS s_n
  FROM det GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(SUM(dx7) AS BIGINT) AS g_sum, COUNT(*) AS g_n
  FROM det GROUP BY 1
),
res AS MATERIALIZED (
  SELECT w.event_type, w.d,
         CAST(ROUND(((CAST(w.cents AS DOUBLE) / 100.0 - CAST(w.t7 AS DOUBLE) / 700.0)
               - (CAST(s.s_sum AS DOUBLE) / (700.0 * s.s_n)
                  - CAST(g.g_sum AS DOUBLE) / (700.0 * g.g_n))) * 1000000.0)
              AS BIGINT) AS r_micro
  FROM w
  JOIN sdow s ON s.event_type = w.event_type AND s.dow0 = w.dow0
  JOIN g ON g.event_type = w.event_type
  WHERE w.c7 = 7
),
med AS (
  SELECT event_type,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN r_micro END) AS med
  FROM (
    SELECT event_type, r_micro,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r_micro, d) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM res
  ) GROUP BY event_type
),
mad AS (
  SELECT event_type,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
  FROM (
    SELECT r.event_type, ABS(r.r_micro - m.med) AS dev,
           ROW_NUMBER() OVER (PARTITION BY r.event_type
                              ORDER BY ABS(r.r_micro - m.med), r.d) AS rn,
           COUNT(*) OVER (PARTITION BY r.event_type) AS n
    FROM res r JOIN med m ON m.event_type = r.event_type
  ) GROUP BY event_type
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_interior,
       CAST(MAX(a.mad) AS BIGINT) AS mad_micro,
       CAST(SUM(CASE WHEN ABS(r.r_micro - m.med) > {STL_ANOM_K} * a.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       strftime(MIN(CASE WHEN rk = 1 THEN r.d END), '%Y-%m-%d') AS worst_day
FROM (
  SELECT res.*, ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ABS(r_micro - (SELECT med FROM med m2
                                   WHERE m2.event_type = res.event_type)) DESC, d
         ) AS rk
  FROM res
) r
JOIN med m ON m.event_type = r.event_type
JOIN mad a ON a.event_type = r.event_type
GROUP BY r.event_type
ORDER BY r.event_type
""",
)
def events_stl_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection — the STL decomposition
    USED: interior-day residuals (trend and weekday effect removed, so
    a Saturday dip is not an alert) are screened by the robust
    median ± {STL_ANOM_K}·MAD rule; per event type the interior-day
    count, the residual MAD, the anomaly count and the worst day. The
    monitoring loop timeseries_stl_decompose exists to feed.

    Exactness: residuals are fixed-order IEEE expressions over exact
    cents (identical cross-engine), rounded half-away into micro ints
    ONCE; median and MAD are SELECTED integers (rank selection, lower
    median), the fence compare is pure integer arithmetic.

    Scale: everything after the (type, day) rollup is windows
    PARTITIONED BY event_type over calendar-bounded series — no
    global sort; the verdict is one keyed reduce.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        (F.dayofweek("ts") - 1).alias("dow0"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    )
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    w = daily.select(
        "event_type",
        "d",
        "dow0",
        "cents",
        F.sum("cents").over(w7).alias("t7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    det = w.where(F.col("c7") == 7).select(
        "event_type", "dow0", (7 * F.col("cents") - F.col("t7")).alias("dx7")
    )
    sdow = det.groupBy("event_type", "dow0").agg(
        F.sum("dx7").cast("bigint").alias("s_sum"), F.count(F.lit(1)).alias("s_n")
    )
    g = det.groupBy("event_type").agg(
        F.sum("dx7").cast("bigint").alias("g_sum"), F.count(F.lit(1)).alias("g_n")
    )
    seasonal = F.col("s_sum").cast("double") / (700.0 * F.col("s_n")) - F.col(
        "g_sum"
    ).cast("double") / (700.0 * F.col("g_n"))
    resid = (F.col("cents").cast("double") / 100.0 - F.col("t7").cast("double") / 700.0) - seasonal
    res = (
        w.where(F.col("c7") == 7)
        .join(sdow, ["event_type", "dow0"])
        .join(g, "event_type")
        .select(
            "event_type", "d", F.round(resid * 1e6).cast("bigint").alias("r_micro")
        )
    )
    wrn = Window.partitionBy("event_type").orderBy("r_micro", "d")
    wn = Window.partitionBy("event_type")
    med = (
        res.select(
            "event_type",
            "r_micro",
            F.row_number().over(wrn).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("r_micro"))
            ).alias("med")
        )
    )
    rm = res.join(med, "event_type").withColumn(
        "dev", F.abs(F.col("r_micro") - F.col("med"))
    )
    wdev = Window.partitionBy("event_type").orderBy("dev", "d")
    mad = (
        rm.select(
            "event_type",
            "dev",
            F.row_number().over(wdev).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dev"))).alias(
                "mad"
            )
        )
    )
    wworst = Window.partitionBy("event_type").orderBy(F.col("dev").desc(), "d")
    flagged = rm.join(mad, "event_type").withColumn(
        "rk", F.row_number().over(wworst)
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_interior"),
            F.max("mad").cast("bigint").alias("mad_micro"),
            F.sum(
                F.when(F.col("dev") > STL_ANOM_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
            F.date_format(
                F.min(F.when(F.col("rk") == 1, F.col("d"))), "yyyy-MM-dd"
            ).alias("worst_day"),
        )
        .orderBy("event_type")
    )
