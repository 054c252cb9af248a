"""10x headroom probe: synthesize 10x the sf0.1 data in-session
(shifted-key unions) and time representative plan shapes, to verify
the plans scale with data volume rather than hitting a wall. Results
recorded in SCALING.md."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_rapids_ml_spark.session import get_spark
from spark_rapids_ml_spark.sources.catalog import load

SF_DIR = "/root/testdata/sf0.1"
COPIES = 10


def timed(label, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"{label}: {time.perf_counter() - t0:.2f}s ({out})", flush=True)


def main() -> None:
    spark = get_spark("headroom", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    li = load(spark, SF_DIR, "lineitem")
    li10 = None
    for i in range(COPIES):
        c = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000))
        li10 = c if li10 is None else li10.unionAll(c)
    li10 = li10.cache()
    n = li10.count()
    print(f"lineitem x{COPIES}: {n} rows")

    def q1():
        df = (
            li10.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        return df.count()

    def window_sum():
        from pyspark.sql import Window

        w = (
            Window.partitionBy("l_suppkey")
            .orderBy("l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        df = li10.select(
            "l_suppkey",
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).alias("run"),
        )
        return df.agg(F.count(F.lit(1))).collect()[0][0]

    def join_agg():
        o = load(spark, SF_DIR, "orders")
        o10 = None
        for i in range(COPIES):
            c = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
            o10 = c if o10 is None else o10.unionAll(c)
        df = (
            o10.join(li10, o10.o_orderkey == li10.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return df.count()

    def q9_5way():
        o = load(spark, SF_DIR, "orders")
        o10 = None
        for i in range(COPIES):
            c = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
            o10 = c if o10 is None else o10.unionAll(c)
        p = load(spark, SF_DIR, "part").where(~F.col("p_name").like("%red%"))
        s = load(spark, SF_DIR, "supplier")
        nat = load(spark, SF_DIR, "nation")
        df = (
            li10.join(p, p.p_partkey == li10.l_partkey)
            .join(s, s.s_suppkey == li10.l_suppkey)
            .join(o10, o10.o_orderkey == li10.l_orderkey)
            .join(nat, nat.n_nationkey == s.s_nationkey)
            .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
            .agg(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        return df.count()

    timed("q1_agg_x10 (6M rows)", q1)
    timed("window_running_sum_x10", window_sum)
    timed("join_agg_x10 (1.5M x 6M)", join_agg)
    timed("q9_5way_join_x10 (6M facts, 3 broadcast dims)", q9_5way)
    li10.unpersist()

    # dedup at 10x docs: every doc duplicated 10x -> dense duplicate
    # cohorts, a stress test of the LSH bucket path and the guard
    from spark_rapids_ml_spark.operators import dedup as dd
    from spark_rapids_ml_spark.operators.dedup import lsh_candidate_pairs
    from spark_rapids_ml_spark.query_run import release_caches

    d = load(spark, SF_DIR, "documents")
    d10 = None
    for i in range(COPIES):
        c = d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        d10 = c if d10 is None else d10.unionAll(c)
    d10.cache().count()

    def minhash_pairs():
        base = (dd.hash60("shingle") % dd.MINHASH_P).alias("h")
        sh = (
            d10.select("doc_id", F.split("text", " ").alias("toks"))
            .select("doc_id", F.explode(dd.shingles("toks")).alias("shingle"))
            .select("doc_id", base)
        )
        aggs = [
            F.min((F.col("h") * dd.MINHASH_A[s] + dd.MINHASH_B[s]) % dd.MINHASH_P).alias(f"mh{s}")
            for s in range(dd.N_MINHASH)
        ]
        mh = sh.groupBy("doc_id").agg(*aggs)
        band_keys = [
            dd.hash60(
                F.concat_ws(
                    "_",
                    *[F.col(f"mh{b * dd.ROWS_PER_BAND + r}").cast("string") for r in range(dd.ROWS_PER_BAND)],
                )
            )
            for b in range(dd.N_BANDS)
        ]
        bands = mh.select("doc_id", F.posexplode(F.array(*band_keys)).alias("band", "band_key"))
        return lsh_candidate_pairs(bands).count()

    timed("minhash_lsh_pairs_x10 (50k docs, 10x dup cohorts)", minhash_pairs)

    def simhash_bands():
        # signatures over 50k docs (10x dup cohorts make every band
        # bucket 10x denser — the adversarial case for banded Hamming)
        tok = (
            d10.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        th = tok.select("doc_id", "cnt", dd.hash60("token", 7).alias("h"))
        bit_aggs = [
            F.when(
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, F.col("cnt")
                    ).otherwise(-F.col("cnt"))
                )
                > 0,
                1,
            )
            .otherwise(0)
            .alias(f"b{i}")
            for i in range(dd.SIMHASH_BITS)
        ]
        bits = th.groupBy("doc_id").agg(*bit_aggs)
        acc = F.lit(0)
        for i in range(dd.SIMHASH_BITS):
            acc = acc + F.col(f"b{i}") * F.lit(1 << i)
        sig = bits.select("doc_id", acc.cast("bigint").alias("simhash"))
        bands = sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(255)
                        for b in range(dd.SIMHASH_BANDS)
                    ]
                )
            ).alias("band", "band_key"),
        )
        # the SHIPPED guarded path; the unguarded join measured 357.6M
        # candidate pairs in 45-73s on this same input (recorded in
        # SCALING.md as the counterfactual the guard exists to prevent)
        return lsh_candidate_pairs(bands).count()

    timed("simhash_guarded_candidates_x10 (50k sigs, dense buckets)", simhash_bands)
    release_caches()

    # round-5 mergeable sketches at 10x: the leaf-summary claim is
    # that cost tracks the token/row stream (the leaf pass) while the
    # merge stays O(cap x leaves) regardless of volume
    def freq_items_x10():
        from pyspark.sql import Window

        from spark_rapids_ml_spark.operators import aggregates as ag

        tok = d10.select(
            F.pmod("doc_id", F.lit(ag.FREQ_LEAVES)).alias("leaf"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        cnt = tok.groupBy("leaf", "term").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("leaf").orderBy(F.col("n").desc(), "term")
        kept = cnt.withColumn("rk", F.row_number().over(w)).where(
            F.col("rk") <= ag.FREQ_CAP
        )
        return kept.groupBy("term").agg(F.sum("n")).count()

    timed("freq_items_sketch_x10 (50k docs token stream)", freq_items_x10)
    d10.unpersist()

    def quantile_sketch_x10():
        from pyspark.sql import Window

        from spark_rapids_ml_spark.operators import aggregates as ag

        o = load(spark, SF_DIR, "orders")
        o10 = None
        for i in range(COPIES):
            c = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
            o10 = c if o10 is None else o10.unionAll(c)
        base = o10.select(
            F.col("o_orderpriority").alias("g"),
            F.pmod("o_orderkey", F.lit(ag.QSK_LEAVES)).alias("leaf"),
            F.col("o_totalprice").cast("double").alias("v"),
        )
        wl = Window.partitionBy("g", "leaf")
        rk = base.select(
            "g", "leaf", "v",
            F.row_number().over(wl.orderBy("v")).alias("r"),
            F.count(F.lit(1)).over(wl).alias("n"),
        )
        sel = rk.where(
            F.expr(f"(r * {ag.QSK_SIZE}) div n") > F.expr(f"((r - 1) * {ag.QSK_SIZE}) div n")
        )
        return sel.count()

    timed("quantile_sketch_leaves_x10 (1.5M orders)", quantile_sketch_x10)


if __name__ == "__main__":
    main()
