"""Scale patterns as first-class, oracle-checked operators: salted
(two-phase) aggregation for skewed keys, and partitioned writes with
partition-pruned reads.

These exist because at 100 TB the *pattern* is the operator: a skewed
group-by or an unpartitioned date-range scan is the difference between
a job that finishes and one that doesn't. Each pattern is verified to
be semantically identical to its naive form via the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.sources.catalog import load, reset_managed_table, warehouse_dir


def _sink(name: str, sf_dir: str) -> str:
    """sources_io._sink, imported at call time: importing sources_io
    with this module would register its queries ahead of this one's."""
    from spark_rapids_ml_spark.operators import sources_io

    return sources_io._sink(name, sf_dir)


N_SALTS = 16


@register(
    "salted_skew_aggregation",
    tags=("agg", "scale"),
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def salted_skew_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value (maximally skewed)
    key: phase 1 aggregates on (key, salt) spreading each hot key over
    N_SALTS reducers; phase 2 merges the per-salt partials.

    Must be bit-identical to the direct group-by (the oracle): the
    per-phase aggregates (count→sum, decimal sum→sum, max→max) are
    exact/commutative, so salting changes only the shuffle layout.
    (Spark's own partial aggregation solves this case too; the salt
    pattern is for when the *reduce* side itself is the bottleneck —
    e.g. count-distinct-like states — and is exercised here for
    contract coverage.)
    """
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(N_SALTS)))
    phase1 = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("psum"),
        F.max("l_extendedprice").alias("pmax"),
    )
    return (
        phase1.groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").cast("double").alias("sum_qty"),
            F.max("pmax").cast("double").alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "bucketed_join_no_shuffle",
    tags=("join", "scale"),
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice > 150000
GROUP BY o.o_orderpriority
ORDER BY o_orderpriority
""",
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables are written bucketed
    (+sorted) on the join key; the subsequent join needs NO exchange on
    either side — at 100 TB this converts the dominant shuffle of every
    fact-fact join into a local merge per bucket. The plan assertion
    lives in tests/test_plans.py::test_bucketed_join_has_no_exchange.
    """
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    db = f"bucketdb_{tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    o_tbl, l_tbl = f"{db}.orders_b", f"{db}.lineitem_b"
    for tbl, src, key in ((o_tbl, "orders", "o_orderkey"), (l_tbl, "lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(tbl):
            reset_managed_table(spark, tbl)
            load(spark, sf_dir, src).write.bucketBy(8, key).sortBy(key).saveAsTable(tbl)
    o = spark.table(o_tbl).where(F.col("o_totalprice") > 150000)
    l = spark.table(l_tbl)
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "partitioned_write_pruned_read",
    tags=("sink", "scale"),
    oracle="""
SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang IN ('en', 'es')
GROUP BY lang, source
ORDER BY lang, source
""",
)
def partitioned_write_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink (partitionBy lang) and a read whose
    lang filter is satisfied by *partition pruning* — directories for
    other languages are never opened. tests/test_plans.py asserts the
    PartitionFilters in the scan."""
    path = _sink("documents_by_lang", sf_dir)
    d = load(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).where(F.col("lang").isin("en", "es"))
    return (
        back.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("bigint").alias("total_chars"))
        .orderBy("lang", "source")
    )


@register(
    "sink_merge_upsert",
    tags=("sink", "scale"),
    oracle="""
WITH agg AS (
  SELECT o_custkey AS k, COUNT(*) AS n_orders, MAX(o_totalprice) AS new_bal
  FROM orders GROUP BY o_custkey
),
upd AS (SELECT k, new_bal FROM agg WHERE n_orders >= 8),
ins AS (
  SELECT k + 1000000 AS k, 'NEW-' || CAST(k AS VARCHAR) AS name, new_bal
  FROM agg WHERE n_orders >= 12
),
merged AS (
  SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
         CASE WHEN u.k IS NOT NULL THEN u.new_bal ELSE c.c_acctbal END AS bal,
         CASE WHEN u.k IS NOT NULL THEN 'U' ELSE 'K' END AS op
  FROM customer c LEFT JOIN upd u ON c.c_custkey = u.k
  UNION ALL
  SELECT k, name, new_bal, 'I' FROM ins
)
SELECT c_custkey, c_name, CAST(ROUND(bal, 2) AS DOUBLE) AS bal, op
FROM merged ORDER BY c_custkey
""",
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) as a copy-on-write sink: a change set
    derived from orders updates matched customers' balances and
    inserts rows for guaranteed-new keys; the merged table is written
    to parquet and read back (what Delta/Iceberg MERGE does under the
    formats, expressed on plain parquet).

    Scale: MERGE = one equi-join of base x changes on the merge key +
    a rewrite of affected files. The change set here is an aggregate
    of the fact table (bounded by distinct keys), so AQE converts the
    join to broadcast; at 100 TB the rewrite is bounded by
    partitioning the base on the merge key (see
    sink_dynamic_partition_overwrite) so only touched partitions are
    rewritten, never the full table.
    """
    c = load(spark, sf_dir, "customer")
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"), F.max("o_totalprice").alias("new_bal"))
    )
    upd = agg.where(F.col("n_orders") >= 8).select("k", "new_bal")
    ins = agg.where(F.col("n_orders") >= 12).select(
        (F.col("k") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW-"), F.col("k").cast("string")).alias("c_name"),
        F.col("new_bal").alias("bal"),
        F.lit("I").alias("op"),
    )
    matched = c.join(upd, c.c_custkey == upd.k, "left").select(
        "c_custkey",
        "c_name",
        F.when(F.col("k").isNotNull(), F.col("new_bal")).otherwise(F.col("c_acctbal")).alias("bal"),
        F.when(F.col("k").isNotNull(), F.lit("U")).otherwise(F.lit("K")).alias("op"),
    )
    merged = matched.unionByName(ins)
    path = _sink("customer_merged", sf_dir)
    merged.write.mode("overwrite").parquet(path)
    return (
        spark.read.parquet(path)
        .select("c_custkey", "c_name", F.round("bal", 2).cast("double").alias("bal"), "op")
        .orderBy("c_custkey")
    )


# Z-order curve: 10 bits per dimension -> 20-bit interleaved key.
_Z_BITS = 10
_Z_MASK = (1 << _Z_BITS) - 1
_Z_BUCKETS = 32

# identical bit arithmetic as a DuckDB SQL expression over x, y
_Z_SQL = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


def zorder_key(xc, yc):
    """Interleave the low _Z_BITS of two non-negative int columns into
    a Morton (Z-order) key. Disjoint bit positions let plain addition
    assemble the word — stays inside whole-stage codegen."""
    total = None
    for i in range(_Z_BITS):
        xb = F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = xb + yb
        total = term if total is None else total + term
    return total


def _zorder_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-keyed projection shared by the write path and the report:
    (l_orderkey, l_linenumber, x, y, zkey) with the Morton key computed
    in whole-stage codegen."""
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 6000)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_partkey") % (_Z_MASK + 1)).alias("x"),
            (F.col("l_orderkey") % (_Z_MASK + 1)).alias("y"),
        )
    )
    return li.withColumn("zkey", zorder_key(F.col("x"), F.col("y")))


def zorder_ranged_writer(df: DataFrame) -> DataFrame:
    """The PRODUCTION Z-order layout frame: one range shuffle on the
    Morton key (+ unique tiebreak so boundaries are total-ordered),
    then a partition-local sort. Each output partition — hence each
    written file — covers a disjoint zkey range, so file-level min/max
    stats prune on either source dimension. This is a RangePartitioning
    exchange, NEVER a single-partition global sort (plan-asserted in
    tests/test_plans.py::test_zorder_ranged_write_plan)."""
    return df.repartitionByRange(
        _Z_BUCKETS, "zkey", "l_orderkey", "l_linenumber"
    ).sortWithinPartitions("zkey", "l_orderkey", "l_linenumber")


def zorder_write_path(spark: SparkSession, sf_dir: str) -> str:
    """Execute the production Z-order write: range-shuffle the z-keyed
    frame into _Z_BUCKETS disjoint-range partitions and write one
    parquet file per partition. Returns the output directory (under the
    session warehouse, rewritten each call)."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out = os.path.join(warehouse_dir(spark), f"zorder_ranged_{tag}")
    zorder_ranged_writer(_zorder_frame(spark, sf_dir)).write.mode(
        "overwrite"
    ).parquet(out)
    return out


@register(
    "layout_zorder_buckets",
    tags=("sink", "scale"),
    oracle=f"""
WITH k AS (
  SELECT l_orderkey, l_linenumber,
         l_partkey % {_Z_MASK + 1} AS x,
         l_orderkey % {_Z_MASK + 1} AS y
  FROM lineitem WHERE l_orderkey <= 6000
),
z AS (
  SELECT l_orderkey, l_linenumber, x, y, {_Z_SQL} AS zkey
  FROM k
),
b AS (
  SELECT x, y,
         NTILE({_Z_BUCKETS}) OVER (ORDER BY zkey, l_orderkey, l_linenumber) AS bucket
  FROM z
)
SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def layout_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering — the multi-dimensional
    data-layout operator behind Delta/Iceberg ``ZORDER BY``: interleave
    the bits of two join/filter columns into one sort key, range-bucket
    by it, and report each bucket's (x, y) bounding box. Because the
    curve preserves 2-D locality, every bucket's min/max bounds BOTH
    dimensions, so file-level stats prune scans for predicates on
    EITHER column — a linear sort on x alone leaves y unconstrained
    per file (its mean per-bucket y-extent is the full domain, so a
    y-only predicate prunes nothing). tests/test_quality.py pins the
    win as the expected fraction of buckets a single-dimension
    predicate fails to prune.

    The query EXECUTES the production write path (zorder_write_path:
    repartitionByRange on zkey → sortWithinPartitions → parquet, one
    range-shuffle exchange, plan-asserted RangePartitioning) and then
    reports bucket bounding boxes over the files it just wrote. The
    report layer re-ranks the read-back rows with NTILE over the total
    (zkey, l_orderkey, l_linenumber) order — equal-height buckets the
    DuckDB oracle can replicate exactly, invariant to the sampled range
    boundaries the physical writer chose. The written files' OWN
    per-file zkey ranges are pairwise disjoint by construction
    (asserted in tests/test_quality.py); NTILE here is the
    cross-engine verification layer, not the layout mechanism, and its
    global window runs over the read-back report input only (capped at
    l_orderkey <= 6000 rows — dimension-table-sized by design).

    Scale: the key is pure bit arithmetic inside whole-stage codegen;
    the write is one range shuffle, identical cost to any global
    sort-write, and each of the _Z_BUCKETS output files is written by
    its own reducer — no single-partition stage anywhere in the write
    job.
    """
    out = zorder_write_path(spark, sf_dir)
    back = spark.read.parquet(out)
    w = Window.orderBy("zkey", "l_orderkey", "l_linenumber")
    b = back.select("x", "y", F.ntile(_Z_BUCKETS).over(w).alias("bucket"))
    return (
        b.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").cast("bigint").alias("min_x"),
            F.max("x").cast("bigint").alias("max_x"),
            F.min("y").cast("bigint").alias("min_y"),
            F.max("y").cast("bigint").alias("max_y"),
        )
        .orderBy("bucket")
    )


N_HOT_KEYS = 5


@register(
    "skew_join_hot_key_isolation",
    tags=("join", "scale"),
    oracle="""
SELECT s.s_nationkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
ORDER BY s.s_nationkey
""",
)
def skew_join_hot_key_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-isolated join — the join-side skew mitigation
    (companion to salted_skew_aggregation's reduce-side one): count
    key frequencies, peel the top-N hottest keys into a broadcast
    join (no shuffle can straggle on them), sort-merge the cold
    remainder, union the halves. Must be row-identical to the naive
    single join (the oracle).

    Scale: the frequency scan is a partial-aggregated count; only
    N_HOT_KEYS rows ever reach the driver (bounded materialization).
    At 100 TB this is what you reach for when AQE's skew splitting
    can't help — e.g. the skewed side feeds a later stage that must
    stay co-partitioned, or the hot set is known a priori (null-ish
    sentinel keys, power-law ids). AQE's runtime skew-join handles
    the common case automatically; the explicit form makes the
    mitigation deterministic and testable.
    """
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    hot = [
        r["l_suppkey"]
        for r in li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "l_suppkey")
        .limit(N_HOT_KEYS)
        .collect()
    ]
    li_hot = li.where(F.col("l_suppkey").isin(hot))
    li_cold = li.where(~F.col("l_suppkey").isin(hot))
    joined_hot = li_hot.join(F.broadcast(s.where(F.col("s_suppkey").isin(hot))),
                             li_hot.l_suppkey == s.s_suppkey)
    joined_cold = li_cold.join(s, li_cold.l_suppkey == s.s_suppkey)
    both = joined_hot.select("s_nationkey", "l_quantity").unionByName(
        joined_cold.select("s_nationkey", "l_quantity")
    )
    return (
        both.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "layout_compaction_rewrite",
    tags=("sink", "layout", "scale"),
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def layout_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance pass every
    streaming/incremental ingest needs: a fragmented table (64 tiny
    files, the shape micro-batch sinks produce) is rewritten into few
    right-sized files with a coalesce write, and downstream reads hit
    the compacted layout. The aggregate over the compacted table must
    match the oracle over the original — compaction is a pure layout
    change. File-count reduction is pinned in
    tests/test_plans.py::test_compaction_reduces_files.

    Scale: at 100 TB compaction targets
    spark.sql.files.maxPartitionBytes-sized outputs per partition
    directory; coalesce (no shuffle) is the cheap path when
    parallelism only needs reducing — repartition is reserved for
    re-clustering (see layout_zorder_buckets).
    """
    frag = _sink("orders_fragmented", sf_dir)
    compact = _sink("orders_compacted", sf_dir)
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "dq_constraint_checks",
    tags=("quality", "scale"),
    oracle="""
SELECT check_name, n_violations, n_checked FROM (
  SELECT 'customer_acctbal_range' AS check_name,
         CAST(COUNT(*) FILTER (WHERE c_acctbal < -1000 OR c_acctbal > 10000) AS BIGINT) AS n_violations,
         COUNT(*) AS n_checked
  FROM customer
  UNION ALL
  SELECT 'customer_key_unique',
         CAST((SELECT COUNT(*) FROM (
            SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1
         )) AS BIGINT),
         (SELECT COUNT(*) FROM customer)
  UNION ALL
  SELECT 'lineitem_discount_range',
         CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
         COUNT(*)
  FROM lineitem
  UNION ALL
  SELECT 'orders_customer_fk',
         CAST((SELECT COUNT(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
         (SELECT COUNT(*) FROM orders)
  UNION ALL
  SELECT 'orders_totalprice_nonnull',
         CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT),
         COUNT(*)
  FROM orders
)
ORDER BY check_name
""",
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (the Deequ-style contract scan):
    range, uniqueness, referential-integrity,
    and completeness constraints evaluated in one job, emitted as a
    long (check, violations, checked) table a pipeline gates on.

    Scale: per-table checks are single-pass conditional aggregates
    (one scan per table regardless of how many checks it carries);
    uniqueness is a keyed group-by; the FK check is a left-anti join on
    the key — the most expensive constraint, shuffling only the key
    columns. At 100 TB the suite runs as the post-ingest gate and its
    output table is the audit log.
    """
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    range_chk = c.agg(
        F.lit("customer_acctbal_range").alias("check_name"),
        F.sum(
            ((F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000)).cast("long")
        ).alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    dup_keys = (
        c.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    uniq_chk = dup_keys.crossJoin(c.agg(F.count(F.lit(1)).alias("n_checked"))).select(
        F.lit("customer_key_unique").alias("check_name"), "n_violations", "n_checked"
    )
    dates_chk = li.agg(
        F.lit("lineitem_discount_range").alias("check_name"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    orphans = (
        o.join(c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    fk_chk = orphans.crossJoin(o.agg(F.count(F.lit(1)).alias("n_checked"))).select(
        F.lit("orders_customer_fk").alias("check_name"), "n_violations", "n_checked"
    )
    nn_chk = o.agg(
        F.lit("orders_totalprice_nonnull").alias("check_name"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    return (
        range_chk.unionAll(uniq_chk)
        .unionAll(dates_chk)
        .unionAll(fk_chk)
        .unionAll(nn_chk)
        .orderBy("check_name")
    )


BLOOM_PRICE_CUTOFF = 400_000
# runtime Bloom-filter knobs of scale_runtime_bloom_filter_join (scoped)
BLOOM_JOIN_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "scale_runtime_bloom_filter_join",
    tags=("join", "scale"),
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > {BLOOM_PRICE_CUTOFF}
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def scale_runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — Catalyst's injected
    semi-join reduction: the selective side (orders filtered to the
    top price band) builds a Bloom filter on the join key during its
    own scan, and the probe side (lineitem, the 100 TB fact table)
    applies ``might_contain`` BEFORE the shuffle, so rows that cannot
    join never leave their input partition. This is the declarative
    form of the hand-built filter-pushdown join a native engine ships:
    express the join + filter, and the optimizer inserts the reduction
    (plan-asserted: bloom_filter_agg on the build side,
    might_contain ahead of the probe-side exchange —
    tests/test_plans.py::test_runtime_bloom_filter_injected).

    Scale: at 100 TB the shuffle of non-joining fact rows IS the cost;
    a Bloom filter built from the dimension's qualifying keys prunes
    them at scan time for one extra aggregate over the (small) build
    side. The thresholds are deployment knobs (defaults assume a 10 GB
    probe side); they are scoped to this query and restored, the same
    discipline as the streaming state-width clamp. Broadcast is
    disabled within the scope because a broadcast join already prunes
    at the hash table — the Bloom path exists for the shuffle-join
    regime where BOTH sides are too large to broadcast.
    """
    with scoped_conf(spark, BLOOM_JOIN_CONFS):
        o = load(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > BLOOM_PRICE_CUTOFF
        )
        l = load(spark, sf_dir, "lineitem")
        res = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
            )
            .orderBy("o_orderpriority")
        )
        # materialize INSIDE the scope so the injected plan executes
        # under the intended confs; return a stable local relation
        rows = res.collect()
    return local_df(spark, rows, res.schema)


@register(
    "scale_manifest_file_pruning",
    tags=("scale", "sink", "source"),
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-06-01' AND o_orderdate < TIMESTAMP '1995-09-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def scale_manifest_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based data skipping — the Iceberg/Delta pattern
    distilled: the table is written as date-range-clustered files
    (repartitionByRange on o_orderdate), a MANIFEST of per-file
    (path, min_date, max_date) is derived in one pass, and the query
    consults the KB-sized manifest first, handing the scan ONLY the
    files whose stats ranges overlap the predicate — the rest are
    never opened. The result must equal the full-scan filter (the
    oracle), because stats pruning is sound by construction: a
    skipped file provably contains no qualifying row.

    Scale: at 100 TB the manifest is the difference between listing/
    footer-reading a million files and reading a few thousand; range
    clustering at write time is what makes per-file min/max tight
    (random layout makes every file overlap every predicate). The
    manifest collect is bounded driver state (n_files rows), and the
    pruned-set contract (subset of files, same rows) is pinned in
    tests/test_round6_ops.py.
    """
    path = _sink("orders_ranged", sf_dir)
    o = load(spark, sf_dir, "orders")
    o.repartitionByRange(12, "o_orderdate").write.mode("overwrite").parquet(path)
    manifest = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()  # bounded: one row per data file
    )
    lo, hi = "1995-06-01", "1995-09-01"
    picked = [
        r.file
        for r in manifest
        if str(r.hi) >= lo and str(r.lo) < hi  # stats-range overlap
    ]
    pruned = spark.read.parquet(*picked).where(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scale_observe_metrics",
    tags=("scale", "dq", "agg"),
    oracle="""
SELECT COUNT(*) AS n_scanned,
       COUNT(*) FILTER (l_discount >= 0.05) AS n_kept,
       CAST(SUM(CASE WHEN l_discount >= 0.05
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS kept_revenue
FROM lineitem
WHERE l_quantity < 25
""",
)
def scale_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API: named metrics accumulated DURING a query's
    only pass (rows scanned, rows surviving a filter, revenue kept) —
    the audit-without-rescan contract. At 100 TB you cannot afford a
    second scan just to know how many rows a filter dropped;
    df.observe() rides the existing job the way accumulators do, but
    with structured, exactly-once semantics per action. The observed
    metrics ARE this query's output, hash-checked against computing
    the same aggregates declaratively — pinning that observe() sees
    every row exactly once.
    """
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") < 25)
    obs = Observation("scan_audit")
    kept = F.col("l_discount") >= 0.05
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.sum(F.when(kept, F.col("l_extendedprice").cast("decimal(18,2)"))).alias("rev"),
    )
    observed.where(kept).count()  # the one pass; metrics accumulate alongside
    m = obs.get
    return local_df(
        spark,
        [(int(m["n_scanned"]), int(m["n_kept"]), float(m["rev"]))],
        "n_scanned bigint, n_kept bigint, kept_revenue double",
    )


@register(
    "scale_dynamic_partition_pruning",
    tags=("join", "scale", "source"),
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
FROM orders
WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def scale_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP) — Catalyst's RUNTIME partition
    skip: the fact table is laid out partitioned by the join key, the
    dimension side carries a filter on a NON-partition attribute
    (priority_class <= 2), and the optimizer injects a
    DynamicPruningExpression into the fact scan so only the partitions
    matching the dim filter's runtime result are ever read — the
    TPC-DS date_dim pattern, and the reason star-schema queries touch
    3 years of a 10-year fact table without anyone writing the date
    predicate on the fact side. Static pruning cannot do this (the
    fact-side predicate does not exist until the dim filter runs);
    partitioned_write_pruned_read is the static dual. The pruned scan
    is plan-asserted in tests/test_plans.py.

    Scale: at 100 TB the fact side IS the cost — DPP turns a
    5-partition full scan into 2 partition reads here, and a
    3650-partition decade into the filtered date range in production,
    composing with broadcast (the dim is broadcast anyway, so the
    pruning subquery reuses that exchange for free).
    """
    # Cache key includes a fingerprint of the SOURCE orders parquet
    # (mtime+size), not just a _SUCCESS marker: if the source data is
    # regenerated, the partitioned snapshot is rebuilt instead of
    # silently reusing a stale layout that diverges from the oracle.
    src = os.path.join(sf_dir, "orders.parquet")
    try:
        st = os.stat(src)
        fp = f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        fp = "nofp"
    fact_path = _sink(f"dpp_orders_by_priority_{fp}", sf_dir)
    marker = os.path.join(fact_path, "_SUCCESS")
    o = load(spark, sf_dir, "orders")
    if not os.path.exists(marker):
        (
            o.write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(fact_path)
        )
    fact = spark.read.parquet(fact_path)
    # NOT local_df: as a LocalRelation the dim's selective filter is
    # constant-folded away at optimization time and the DPP rule no
    # longer inserts DynamicPruningExpression on the fact scan — this
    # query exists to demonstrate DPP, so the dim stays a parallelized
    # relation (plan pinned in tests/test_plans.py).
    dim = spark.createDataFrame(
        [(p, int(p[0])) for p in ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]],
        "prio STRING, priority_class INT",
    )
    joined = fact.join(
        F.broadcast(dim.where(F.col("priority_class") <= 2)),
        fact.o_orderpriority == dim.prio,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


PE_SPLIT_DATE = "1998-01-01"  # partition-spec evolution point (orders span 1995-2001)


@register(
    "scale_partition_evolution",
    tags=("scale", "sink", "source", "lakehouse"),
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def scale_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION SPEC EVOLUTION — the Iceberg capability that plain
    Hive layouts lack: a table's partitioning changes mid-life
    (here at {PE_SPLIT_DATE}: identity-on-priority -> coarser
    priority-class, the "we over-partitioned, evolve to fewer dirs"
    migration) WITHOUT rewriting historical data. Old files stay
    under spec A (partitionBy o_orderpriority), new files land under
    spec B (partitionBy prio_class = first char), and ONE logical
    read answers a priority predicate by applying EACH era's own
    spec: directory pruning on o_orderpriority for era A, directory
    pruning on prio_class plus a row-level residual filter for era B
    — exactly how an Iceberg reader evaluates a predicate against
    per-file partition tuples. The union must equal the full-table
    filter (the oracle), because spec-aware pruning is sound per era.
    Both eras' PartitionFilters are plan-asserted in tests/test_plans.py.

    Scale: evolution is a metadata operation — zero bytes of history
    rewritten; the read pays directory listing under two specs
    instead of one (O(specs), not O(files)). The residual row filter
    on era B is the price of the coarser spec and touches only
    pruned-in files; at 100 TB this is the difference between a
    weekend table rewrite and a catalog commit.
    """
    root = _sink("orders_evolved", sf_dir)
    o = load(spark, sf_dir, "orders")
    split = F.lit(PE_SPLIT_DATE).cast("timestamp_ntz")
    # era A: historical files, spec A = identity(o_orderpriority)
    (
        o.where(F.col("o_orderdate") < split)
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(f"{root}/specA")
    )
    # era B: post-evolution files, spec B = truncate(priority, 1)
    (
        o.where(F.col("o_orderdate") >= split)
        .withColumn("prio_class", F.substring("o_orderpriority", 1, 1))
        .write.mode("overwrite")
        .partitionBy("prio_class")
        .parquet(f"{root}/specB")
    )
    wanted = ["1-URGENT", "2-HIGH"]
    a = (
        spark.read.parquet(f"{root}/specA")
        .where(F.col("o_orderpriority").isin(wanted))
        .select("o_orderpriority", "o_totalprice")
    )
    b = (
        spark.read.parquet(f"{root}/specB")
        # spec-B pruning: the predicate TRANSFORMS to the partition
        # column (truncate is order/equality-preserving on the prefix),
        # then the residual applies row-level
        .where(F.col("prio_class").isin([w[0] for w in wanted]))
        .where(F.col("o_orderpriority").isin(wanted))
        .select("o_orderpriority", "o_totalprice")
    )
    return (
        a.unionByName(b)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------------------ footer-statistics profile


@register(
    "scale_footer_stats_profile",
    tags=("scale", "source"),
    oracle="""
SELECT CAST(8 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
""",
)
def scale_footer_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile (row count, column min/max) served ENTIRELY from
    parquet footer statistics — the metadata-only fast path every
    lakehouse format (Iceberg/Delta data skipping, DuckDB's own
    parquet_metadata) uses for "how big is this table": each task
    opens only its files' FOOTERS (KB per file), never a data page, so
    profiling a 100 TB table costs O(files), not O(bytes).

    Mechanics: the orders table is committed as an 8-file parquet
    dataset (the write is the setup, as in the manifest-pruning op);
    the file list becomes a DataFrame and a mapInPandas stage reads
    each file's pyarrow footer metadata — rows and per-row-group
    min/max statistics — emitting one summary row per file; a final
    tiny aggregate folds the per-file stats. Min/max from footer stats
    are EXACT for these physical types (int64/double, no truncated
    binary stats), which is what makes the result hash-equal to the
    full-scan oracle. (Spark's own spark.sql.parquet.aggregatePushDown
    was probed for this query shape and never engaged in this build —
    PushedAggregation stays empty even for plain COUNT(*) with the V2
    reader — so the capability is implemented directly.)

    Scale: footer reads parallelize over files; the shuffle carries
    one 6-number row per file. The same stage generalizes to NULL
    counts and distinct-estimate sketches stored in footers.
    """
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = _sink("footer_stats_orders8", sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o.repartition(8, "o_orderkey").write.mode("overwrite").parquet(src)

    files = [
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    ]
    fdf = local_df(spark, [(f,) for f in sorted(files)], "path string")

    stat_schema = StructType(
        [
            StructField("n_rows", LongType()),
            StructField("min_price", DoubleType()),
            StructField("max_price", DoubleType()),
            StructField("min_key", LongType()),
            StructField("max_key", LongType()),
        ]
    )

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                md = pq.read_metadata(path)  # footer only — no data pages
                names = md.schema.names
                ik, ip = names.index("o_orderkey"), names.index("o_totalprice")
                mn_k = mx_k = mn_p = mx_p = None
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    sk, sp = rg.column(ik).statistics, rg.column(ip).statistics
                    mn_k = sk.min if mn_k is None else min(mn_k, sk.min)
                    mx_k = sk.max if mx_k is None else max(mx_k, sk.max)
                    mn_p = sp.min if mn_p is None else min(mn_p, sp.min)
                    mx_p = sp.max if mx_p is None else max(mx_p, sp.max)
                rows.append(
                    {
                        "n_rows": md.num_rows,
                        "min_price": mn_p,
                        "max_price": mx_p,
                        "min_key": mn_k,
                        "max_key": mx_k,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in stat_schema.fields])

    per_file = fdf.mapInPandas(read_footers, stat_schema)
    return per_file.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
        F.min("min_key").cast("bigint").alias("min_key"),
        F.max("max_key").cast("bigint").alias("max_key"),
    )


# AQE skew-join demonstration knobs: thresholds lowered so the planted
# hot key (75% of fact rows on one join key) trips the runtime skew
# split even at test scale; production leaves the defaults (256MB).
AQE_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # the aggregation downstream of the join needs hash partitioning,
    # so splitting the skewed join partition ADDS a shuffle — without
    # force, OptimizeSkewedJoin declines exactly the common shape
    # (join feeding an agg); production sets this when the straggler
    # costs more than the extra exchange
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "scale_aqe_skew_join_split",
    tags=("join", "scale"),
    oracle="""
WITH f AS (
  SELECT CASE WHEN l_suppkey % 4 <> 0 THEN 1 ELSE l_suppkey END AS skew_key,
         l_quantity
  FROM lineitem
)
SELECT s.s_nationkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM f JOIN supplier s ON f.skew_key = s.s_suppkey
GROUP BY s.s_nationkey
ORDER BY s.s_nationkey
""",
)
def scale_aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join splitting — the AUTOMATIC complement of
    skew_join_hot_key_isolation's manual peel: a planted power-law key
    (75% of fact rows collapse onto join key 1) would straggle one
    sort-merge task for the whole join; with adaptive skew handling
    the runtime detects the oversized partition from ACTUAL map
    output statistics and splits it into balanced sub-tasks, each
    joined against a replicated copy of the matching build rows —
    `skew=true` on the executed SortMergeJoin is plan-asserted in
    tests/test_plans.py. Results must be row-identical to the naive
    join (the oracle): splitting is a physical rewrite only.

    Scale: this is the 100 TB default defense for UNKNOWN skew — no
    prior key census, no salting columns; the cost model sees the
    real shuffle sizes at stage boundary and re-plans. The explicit
    manual tiers remain for the cases AQE can't touch (co-partition
    requirements downstream, known-hot sentinel keys). Thresholds
    here are scoped deployment knobs (defaults assume 256MB
    partitions), restored on exit — the bloom-join discipline.
    """
    with scoped_conf(spark, AQE_SKEW_CONFS):
        # AQE splits a skewed reduce partition on MAP-OUTPUT boundaries
        # — a partition fed by ONE mapper is unsplittable. The test
        # tables read as a single parquet file (one map task), so stage
        # the fact side across 16 mappers first; a 100 TB fact table
        # has thousands of input splits and needs no such staging.
        li = load(spark, sf_dir, "lineitem").repartition(16).select(
            F.when(F.col("l_suppkey") % 4 != 0, F.lit(1))
            .otherwise(F.col("l_suppkey"))
            .alias("skew_key"),
            "l_quantity",
        )
        s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        res = (
            li.join(s, li.skew_key == s.s_suppkey)
            .groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
            )
            .orderBy("s_nationkey")
        )
        # materialize INSIDE the scope so the adaptive re-plan runs
        # under the intended thresholds; return a stable local relation
        rows = res.collect()
    return local_df(spark, rows, res.schema)
