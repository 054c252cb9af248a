"""Physical-plan assertions — the 100 TB safety checks.

Correct results are necessary but not sufficient: these tests pin the
*plan shapes* that make the queries scale — predicate pushdown into
the parquet scan, column pruning, broadcast joins for dimensions,
map-side partial aggregation, window group-limit pushdown, and
whole-stage codegen on the hot paths.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


from spark_rapids_ml_spark.operators import sources_io  # noqa: E402
from spark_rapids_ml_spark.plans.explain import formatted, plan_of  # noqa: E402


def test_q6_filter_pushdown_and_pruning(spark):
    """Q6's predicates must reach the parquet reader and the scan must
    read only the 4 referenced columns."""
    from spark_rapids_ml_spark.operators.relational import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF)
    txt = formatted(df)
    assert "PushedFilters: [" in txt
    assert "l_shipdate" in txt.split("PushedFilters:")[1][:400]
    read_schema = txt.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    for col in ("l_orderkey", "l_returnflag", "l_tax", "l_partkey"):
        assert col not in read_schema, f"column {col} not pruned"


def test_broadcast_join_for_dimensions(spark):
    """q5's region/nation joins must be broadcast (no shuffle of the
    fact side for bounded dims)."""
    from spark_rapids_ml_spark.operators.relational import q5_local_supplier_volume

    assert "BroadcastHashJoin" in plan_of(q5_local_supplier_volume(spark, SF))


def test_partial_aggregation_before_shuffle(spark):
    """q1 must plan two-phase hash aggregation (partial map-side, then
    final after exchange) — the property that makes low-cardinality
    group-bys O(bytes-scanned) at any scale."""
    from spark_rapids_ml_spark.operators.relational import q1_pricing_summary

    plan = plan_of(q1_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_window_group_limit(spark):
    """The rn<=5 filter must push into the window sort as a group
    limit so each partition keeps k rows pre-shuffle."""
    from spark_rapids_ml_spark.operators.windows import window_topk_per_group

    assert "WindowGroupLimit" in plan_of(window_topk_per_group(spark, SF))


def test_global_sort_limit_is_take_ordered(spark):
    """ORDER BY + LIMIT must not materialize a global sort."""
    from spark_rapids_ml_spark.operators.relational import q3_shipping_priority

    assert "TakeOrderedAndProject" in plan_of(q3_shipping_priority(spark, SF))


def test_whole_stage_codegen_on_scan_agg(spark):
    from spark_rapids_ml_spark.operators.relational import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF)
    df.collect()  # AQE only finalizes (and codegens) stages on execution
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen subtrees" in txt
    assert not txt.startswith("Found 0")


def test_semi_anti_joins_planned_as_joins(spark):
    """EXISTS/NOT EXISTS must decorrelate to semi/anti joins, never
    per-row subquery re-execution."""
    from spark_rapids_ml_spark.operators.subqueries import (
        subquery_exists_correlated,
        subquery_not_exists_correlated,
    )

    assert "LeftSemi" in plan_of(subquery_exists_correlated(spark, SF))
    assert "LeftAnti" in plan_of(subquery_not_exists_correlated(spark, SF))


def test_q2_scalar_min_decorrelates(spark):
    """Q2's correlated scalar-MIN subquery must rewrite to an
    aggregate+join (RewriteCorrelatedScalarSubquery) — never per-row
    subquery re-execution or a nested-loop fallback."""
    from spark_rapids_ml_spark.operators.relational import q2_min_cost_supplier

    plan = plan_of(q2_min_cost_supplier(spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # the decorrelated form: min() runs as a real aggregate stage
    assert "min(" in plan and "HashAggregate" in plan


def test_q16_q20_semi_anti_shapes(spark):
    """Q16's NOT IN must plan as a null-aware anti join; Q20's nested
    IN chain as left-semi joins."""
    from spark_rapids_ml_spark.operators.relational import (
        q16_supplier_part_types,
        q20_part_promotion_suppliers,
    )

    assert "LeftAnti" in plan_of(q16_supplier_part_types(spark, SF))
    p20 = plan_of(q20_part_promotion_suppliers(spark, SF))
    assert "LeftSemi" in p20 and "NestedLoop" not in p20


def test_q17_q22_decorrelate(spark):
    """Q17's correlated scalar-AVG must rewrite to aggregate+join;
    Q22's NOT EXISTS to a left-anti join — no per-row re-execution."""
    from spark_rapids_ml_spark.operators.relational import (
        q17_small_quantity_revenue,
        q22_global_sales_opportunity,
    )

    p17 = plan_of(q17_small_quantity_revenue(spark, SF))
    assert "HashAggregate" in p17 and "NestedLoop" not in p17
    assert "CartesianProduct" not in p17
    p22 = plan_of(q22_global_sales_opportunity(spark, SF))
    # the NOT EXISTS must be a hash/merge anti join on o_custkey; the
    # only nested-loop allowed is the 1-row scalar-subquery broadcast
    # (comparing every customer to the single avg_bal row — optimal)
    assert "Join [c_custkey" in p22 or "LeftAnti" in p22
    anti_lines = [ln for ln in p22.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "HashJoin" in ln or "SortMergeJoin" in ln for ln in anti_lines
    ), p22


def test_q21_double_correlated_semi_anti(spark):
    """Q21's two correlated subqueries over the same fact table must
    BOTH decorrelate: EXISTS (other supplier) -> left-semi, NOT EXISTS
    (other returned supplier) -> left-anti, each an equi-join on
    l_orderkey with the supplier inequality as residual — never
    per-row re-execution or a nested-loop fallback."""
    from spark_rapids_ml_spark.operators.relational import q21_waiting_supplier

    plan = plan_of(q21_waiting_supplier(spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q19_bracket_disjunction_stays_hash_join(spark):
    """Q19's OR-of-conjunctive-brackets touches both join sides; the
    equi-join on partkey must remain a hash join with the disjunction
    as residual — the classic plan that degrades to nested-loop in
    naive planners."""
    from spark_rapids_ml_spark.operators.relational import q19_discounted_revenue

    plan = plan_of(q19_discounted_revenue(spark, SF))
    assert "HashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_pipeline_ops_plan_shapes(spark):
    """Dataset-assembly plans: the split aggregates map-side before
    its exchange; contamination's corpus side is a broadcast semi
    join; chunking shuffles only for its final ORDER BY (the expansion
    itself is a row-local projection)."""
    from spark_rapids_ml_spark.operators.llm_pipeline import (
        pipe_chunk_documents,
        pipe_contamination_overlap,
        pipe_deterministic_split,
    )

    p_split = plan_of(pipe_deterministic_split(spark, SF))
    assert "HashAggregate" in p_split  # partial+final pair
    # LeftSemi required; the join strategy (broadcast vs shuffle) is
    # the planner's size-based choice — no hard-coded corpus broadcast
    p_cont = plan_of(pipe_contamination_overlap(spark, SF))
    assert "LeftSemi" in p_cont
    p_chunk = plan_of(pipe_chunk_documents(spark, SF))
    assert "Exchange hashpartitioning" not in p_chunk, p_chunk


def test_theta_join_not_nested_loop(spark):
    """The equi-conjunct must make the range join a hash/sort-merge
    join, not BroadcastNestedLoopJoin."""
    from spark_rapids_ml_spark.operators.joins import join_theta_range

    plan = plan_of(join_theta_range(spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_lsh_candidate_join_is_equi(spark):
    """The LSH candidate join must be an equi-join on (tbl, bucket) —
    the sub-linear property — not a cross join."""
    from spark_rapids_ml_spark.operators.similarity import sim_lsh_bucketed_topk

    plan = plan_of(sim_lsh_bucketed_topk(spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_partition_pruning_on_partitioned_sink(spark):
    """The lang filter over a partitionBy(lang) sink must appear as
    PartitionFilters (pruned directories), not a row-level filter."""
    from spark_rapids_ml_spark.operators.scale_patterns import (
        partitioned_write_pruned_read,
    )

    df = partitioned_write_pruned_read(spark, SF)
    txt = formatted(df)
    part = txt.split("PartitionFilters:")[1][:200]
    assert "lang" in part


def test_bucketed_join_has_no_shuffle(spark):
    """Joining the two bucketed+sorted tables (same key, same bucket
    count) must be a SortMergeJoin with NO exchange on either input —
    the co-located fact-fact join pattern. Broadcast is disabled so the
    bucketed path (what matters at 100 TB) is the one planned."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.scale_patterns import bucketed_join_no_shuffle

    bucketed_join_no_shuffle(spark, SF)  # ensure tables exist
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        o = spark.table("bucketdb_root_testdata_sf0_001.orders_b")
        l = spark.table("bucketdb_root_testdata_sf0_001.lineitem_b")
        j = o.join(l, F.col("o_orderkey") == F.col("l_orderkey")).select(
            "o_orderkey", "l_quantity"
        )
        j.collect()
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_materialized_clusters_join_no_exchange(spark):
    """The persisted dedup verdict (bucketed clusters table) must join
    back to the bucketed documents table with no exchange on either
    side — the zero-shuffle consumption path every downstream user of
    is_kept relies on."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.dedup import dedup_clusters_materialized

    dedup_clusters_materialized(spark, SF)  # ensure tables exist
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        d = spark.table("dedupdb_root_testdata_sf0_001.documents_b")
        c = spark.table("dedupdb_root_testdata_sf0_001.clusters_b")
        j = d.join(c, "doc_id", "left").select(
            "doc_id", F.coalesce("is_kept", F.lit(1)).alias("kept")
        )
        j.collect()
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_struct_schema_pruning(spark):
    """Nested-struct access must prune to the referenced leaves."""
    from spark_rapids_ml_spark.operators.multimodal import mm_struct_bundle

    txt = formatted(mm_struct_bundle(spark, SF))
    read_schema = txt.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema  # body is used (length)
    assert "doc_id" in read_schema


def test_q9_five_way_join_no_cartesian_partial_agg(spark):
    """Q9's 5-way join must plan as hash joins only (no cartesian /
    nested-loop despite the negative LIKE filter on part) with the
    dimension sides broadcast, and the nation×year aggregate must be
    two-phase so each map task ships ≤ |nations×years| rows."""
    from spark_rapids_ml_spark.operators.relational import q9_product_type_profit

    plan = plan_of(q9_product_type_profit(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_q8_seven_way_join_broadcasts_dims(spark):
    """Q8's 7-way join (nation twice) must plan every dimension side
    as a broadcast hash join — no cartesian/nested-loop — leaving
    lineitem⋈orders as the only shuffle-worthy join."""
    from spark_rapids_ml_spark.operators.relational import q8_market_share

    plan = plan_of(q8_market_share(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q13_left_outer_survives_on_clause_filter(spark):
    """Q13's exclusion filter lives in the LEFT JOIN's ON clause; the
    planner must keep the OUTER join (zero-order customers stay in the
    histogram) and run both aggregations two-phase."""
    from spark_rapids_ml_spark.operators.relational import q13_customer_distribution

    plan = plan_of(q13_customer_distribution(spark, SF))
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4  # two aggs x (partial+final)


def test_range_binned_join_is_equi(spark):
    """The binned range join must plan as an equi-join on the bin key
    (hash/sort-merge partitionable) with the BETWEEN as a
    post-condition — never a cartesian/nested-loop, which is what a
    bare point-in-interval predicate would force."""
    from spark_rapids_ml_spark.operators.joins import join_range_binned_count

    plan = plan_of(join_range_binned_count(spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # partial+final agg after the join


def test_python_datasource_partitioned_scan(spark):
    """The custom Python data source must expose its keyspace slices
    as real input partitions (a 1-partition custom source serializes
    ingest through one task at any cluster size)."""
    from spark_rapids_ml_spark.operators.sources_io import (
        _SYNTH_PARTS,
        _make_synthetic_datasource,
    )

    spark.dataSource.register(_make_synthetic_datasource())
    df = spark.read.format("synthetic_range").load()
    assert df.rdd.getNumPartitions() == _SYNTH_PARTS
    assert df.count() == 20000


def test_interval_overlap_join_is_equi(spark):
    """The interval-overlap join must run as an equi-join on the bin
    key with overlap + first-common-bin as post-conditions — never a
    nested loop, and no post-join DISTINCT exchange."""
    from spark_rapids_ml_spark.operators.joins import join_interval_overlap_binned

    plan = plan_of(join_interval_overlap_binned(spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_lsh_persisted_probe_no_exchange(spark):
    """The persisted LSH index must be probed without shuffling the
    index: both candidate-join sides read the same (tbl, bucket)-
    bucketed table, so the join is a per-bucket local sort-merge with
    no Exchange hashpartitioning on either side — the write-index-once
    / zero-exchange-probe shape the ANN tier claims at 100 TB."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.similarity import (
        N_QUERIES,
        lsh_signature_table,
    )

    tbl = lsh_signature_table(spark, SF)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        sig = spark.table(tbl)
        qsig = sig.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"), "tbl", "bucket"
        )
        j = (
            qsig.join(sig, ["tbl", "bucket"])
            .where(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id")
        )
        j.collect()
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_ivf_persisted_probe_partition_pruning(spark):
    """Probing the persisted IVF index must prune the scan to the
    probed cells' partitions — the nprobe/k byte-cost claim of the
    IVF-Flat layout. The scan over the cell-partitioned table with an
    IN-list on cell must carry a partition filter and read only the
    matching partitions."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.similarity import ivf_index_tables

    cells_tbl, _ = ivf_index_tables(spark, SF)
    idx = spark.table(cells_tbl)
    n_cells = idx.select("cell").distinct().count()
    probed = [r["cell"] for r in idx.select("cell").distinct().limit(3).collect()]
    pruned = idx.where(F.col("cell").isin(probed))
    txt = formatted(pruned)
    assert "PartitionFilters" in txt, txt
    part_filters = txt.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters, part_filters
    # the pruned scan must enumerate fewer partition dirs than the full
    # table: compare scanned file-partition counts via the plan's
    # partition count when available, else via input files
    full_files = len(idx.inputFiles())
    pruned_files = len(pruned.inputFiles())
    assert pruned_files < full_files, (pruned_files, full_files)
    assert n_cells > 3  # the prune is non-trivial


def test_runtime_bloom_filter_join_reduction(spark):
    """Runtime bloom-filter semi-join reduction — the 100 TB fact-scan
    pruner: when a selective dim-side filter exists, Catalyst injects
    a BloomFilterAggregate on the creation side and a might_contain
    predicate on the fact scan, dropping non-matching rows BEFORE the
    shuffle. Conf-gated here because the injection thresholds target
    cluster-scale scans (applicationSideScanSizeThreshold defaults to
    10GB); at warehouse scale the defaults fire on their own."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.sources.catalog import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, SF, "lineitem")
        o = load(spark, SF, "orders").where(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized[:2000]
        assert "bloom_filter_agg" in optimized, optimized[:2000]
        # and the filtered result is still correct
        rows = {r["o_orderpriority"]: r["n"] for r in j.collect()}
        urgent = (
            load(spark, SF, "lineitem")
            .join(
                load(spark, SF, "orders").where(
                    F.col("o_orderpriority") == "1-URGENT"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert rows == {"1-URGENT": urgent}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compaction_reduces_files(spark):
    """layout_compaction_rewrite must actually shrink the file count:
    64 fragment files in, ≤4 compacted parquet files out, same rows."""
    from spark_rapids_ml_spark.operators.scale_patterns import (
        layout_compaction_rewrite,
    )

    res = layout_compaction_rewrite(spark, SF)
    res.collect()
    frag = spark.read.parquet(sources_io._sink("orders_fragmented", SF))
    comp = spark.read.parquet(sources_io._sink("orders_compacted", SF))
    n_frag, n_comp = len(frag.inputFiles()), len(comp.inputFiles())
    assert n_frag == 64, n_frag
    assert n_comp <= 4, n_comp
    assert frag.count() == comp.count()


def test_lateral_subquery_decorrelated(spark):
    """The LATERAL per-key top-n must decorrelate into a single join +
    window group-limit — not a nested-loop re-execution of the inner
    query per outer row (which would be O(outer × inner) at scale)."""
    from spark_rapids_ml_spark.operators.subqueries import subquery_lateral_topn

    plan = plan_of(subquery_lateral_topn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "WindowGroupLimit" in plan, plan


def test_zorder_ranged_write_plan(spark):
    """The production Z-order write frame must be a RangePartitioning
    exchange on (zkey, tiebreak) followed by a partition-local sort —
    never a single-partition global sort (which is what the write
    would degrade to if expressed as orderBy or NTILE)."""
    from spark_rapids_ml_spark.operators.scale_patterns import (
        _zorder_frame,
        zorder_ranged_writer,
    )

    plan = plan_of(zorder_ranged_writer(_zorder_frame(spark, SF)))
    assert "rangepartitioning(zkey" in plan.lower(), plan
    assert "singlepartition" not in plan.lower(), plan
    # the only Sort is the partition-local one (global=False)
    assert "Sort [zkey" in plan and "false, 0" in plan, plan


def test_runtime_bloom_filter_injected(spark):
    """The shuffle join under the bloom confs must carry Catalyst's
    injected semi-join reduction: a bloom_filter_agg over the selective
    (orders) side and a might_contain predicate on the probe (lineitem)
    side BEFORE its exchange — the fact rows that cannot join are
    dropped at scan time, not shuffled."""
    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.operators.scale_patterns import (
        BLOOM_JOIN_CONFS,
        BLOOM_PRICE_CUTOFF,
    )
    from spark_rapids_ml_spark.session import scoped_conf
    from spark_rapids_ml_spark.sources.catalog import load

    with scoped_conf(spark, BLOOM_JOIN_CONFS):
        o = load(spark, SF, "orders").where(F.col("o_totalprice") > BLOOM_PRICE_CUTOFF)
        li = load(spark, SF, "lineitem")
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # the reduction must sit on the PROBE side, upstream of its
        # exchange: the might_contain filter references the lineitem key
        probe_part = plan[plan.index("might_contain"):]
        assert "l_orderkey" in probe_part[:400], probe_part[:400]


def test_dynamic_partition_pruning_fires(spark):
    """The DPP query's fact scan must carry a DynamicPruningExpression
    in its PartitionFilters — the runtime partition skip — and reuse
    the dim's broadcast exchange for the pruning subquery."""
    from spark_rapids_ml_spark.operators.scale_patterns import (
        scale_dynamic_partition_pruning,
    )

    df = scale_dynamic_partition_pruning(spark, SF)
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in txt.lower()
    assert "SubqueryAdaptiveBroadcast" in txt or "SubqueryBroadcast" in txt


def test_bfs_frontier_joins_no_cartesian(spark):
    """Every BFS superstep must be an equi-join (frontier x edges) —
    no nested-loop/cartesian anywhere in the 4-hop plan."""
    from spark_rapids_ml_spark.operators.graph import graph_bfs_shortest_path

    plan = plan_of(graph_bfs_shortest_path(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_is_broadcast_hash_join(spark):
    """The PQ probe must join the code table to the LUT as a broadcast
    hash join on (m, code) — never a per-pair vector nested loop."""
    from spark_rapids_ml_spark.operators.similarity import sim_pq_adc_topk

    plan = plan_of(sim_pq_adc_topk(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_join_hints_select_their_strategies(spark):
    """Each hint variant must plan its named physical join operator."""
    from spark_rapids_ml_spark.sources.catalog import load
    from pyspark.sql import functions as F

    li = load(spark, SF, "lineitem").where(F.col("l_quantity") < 5).select(
        "l_orderkey", "l_extendedprice"
    )
    o = load(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    expect = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, op in expect.items():
        plan = plan_of(li.join(o.hint(hint), li.l_orderkey == o.o_orderkey))
        assert op in plan, f"hint {hint} did not plan {op}"


def test_partition_evolution_prunes_under_both_specs(spark):
    """The evolved table's single logical read must prune directories
    under EACH era's own partition spec: o_orderpriority dirs for the
    spec-A files, prio_class dirs for the spec-B files."""
    from spark_rapids_ml_spark.operators.scale_patterns import (
        scale_partition_evolution,
    )

    df = scale_partition_evolution(spark, SF)
    txt = formatted(df)
    # two scans, each with its own PartitionFilters block
    blocks = txt.split("PartitionFilters:")[1:]
    assert len(blocks) >= 2, "expected one pruned scan per era"
    joined = " | ".join(b[:200] for b in blocks)
    assert "o_orderpriority" in joined
    assert "prio_class" in joined


def test_auc_rank_distributed_scan_no_per_segment_sort(spark):
    """The AUC ranks come from the distributed scan: the visible plan
    (downstream of the pid-pinning checkpoint) must window over
    (pid, segment) — parallel across partitions — and NEVER over
    segment alone (which would sort each slice in one task); the
    reduction is two-phase hash aggregation. (The broadcast dim join
    sits upstream of the checkpoint, pinned by its own query and
    invisible here.)"""
    from spark_rapids_ml_spark.operators.evalmetrics import ml_eval_auc_rank

    plan = plan_of(ml_eval_auc_rank(spark, SF))
    assert "pid" in plan  # window keyed on (pid, segment)
    import re

    assert not re.search(r"windowspecdefinition\(segment#\d+, score_key", plan)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_bloom_probe_join_is_broadcast(spark):
    """The Bloom probe joins against a filter of n/4 word rows — the
    plan must broadcast the filter, never shuffle the probe stream."""
    from spark_rapids_ml_spark.operators.aggregates import agg_bloom_filter_membership

    plan = plan_of(agg_bloom_filter_membership(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_collocation_builds_bigrams_without_window_or_self_join(spark):
    """Bigrams come from an in-row transform over the token array —
    the plan must contain no Window and no SortMergeJoin on a token
    position (the naive positional self-join shape)."""
    from spark_rapids_ml_spark.operators.textstats import text_collocation_lift

    plan = plan_of(text_collocation_lift(spark, SF))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final count pairs


def test_ewma_single_user_shuffle(spark):
    """EWMA is one window pass per user key: exactly one exchange
    hash-partitioned on user_id feeding the Window, and the frame
    aggregate is an in-row projection (no self-join)."""
    from spark_rapids_ml_spark.operators.timeseries import timeseries_ewma_halflife

    plan = plan_of(timeseries_ewma_halflife(spark, SF))
    assert "Window" in plan
    assert "Join" not in plan  # the oracle's self-join is spec, not plan


def test_knn_broadcasts_query_set(spark):
    """The held-out set must broadcast against the corpus (nested-loop
    over a 100-row broadcast side, the sim_bruteforce shape) — never a
    shuffle of the corpus."""
    from spark_rapids_ml_spark.operators.evalmetrics import ml_knn_classifier

    plan = plan_of(ml_knn_classifier(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_centroid_pipeline_broadcasts_model(spark):
    """The trained centroid table (labels x dims rows) must broadcast
    to the exploded test fold; the distance reduction must be a
    two-phase hash aggregate."""
    from spark_rapids_ml_spark.operators.evalmetrics import (
        ml_centroid_train_eval_pipeline,
    )

    plan = plan_of(ml_centroid_train_eval_pipeline(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_round7b_ops_plan_shapes(spark):
    """Plan pins for the second-session round-7 operators: the sparse
    cosine and spatial joins must stay equi-joins (no cartesian/NLJ on
    the hot path), the GBDT histogram must partial-aggregate before
    its exchange, and the attribution carry must be ONE user window."""
    from spark_rapids_ml_spark.operators.joins import join_spatial_grid_knn
    from spark_rapids_ml_spark.operators.similarity import sim_sparse_tfidf_cosine_pairs
    from spark_rapids_ml_spark.operators.timeseries import events_attribution_last_touch
    from spark_rapids_ml_spark.ml_queries import ml_tree_split_histogram

    sparse = plan_of(sim_sparse_tfidf_cosine_pairs(spark, SF))
    assert "CartesianProduct" not in sparse
    assert "BroadcastNestedLoopJoin" not in sparse

    spatial = plan_of(join_spatial_grid_knn(spark, SF))
    assert "CartesianProduct" not in spatial
    assert "BroadcastNestedLoopJoin" not in spatial

    tree = plan_of(ml_tree_split_histogram(spark, SF))
    # two-phase hash aggregation on the (dim, bin) histogram (partial
    # map-side, final after exchange) — the property that bounds the
    # shuffle to dims x bins rows at any corpus size
    assert tree.count("HashAggregate") >= 2
    assert "Exchange" in tree

    attr = plan_of(events_attribution_last_touch(spark, SF))
    assert attr.count("Window") == 1  # one carry pass, no self-join
    assert "CartesianProduct" not in attr


def test_peak_concurrency_single_sweep_window(spark):
    """The sweep line is one day-partitioned window over boundary
    points — never an interval self-join (no join at all before the
    max/peak aggregation re-join on the tiny per-day table)."""
    from spark_rapids_ml_spark.operators.timeseries import events_peak_concurrency

    txt = plan_of(events_peak_concurrency(spark, SF))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "Window" in txt


def _tree_depth(line: str) -> int:
    """Print-tree depth of a plan line: offset of the node text past
    the ` :+-` drawing characters (codegen `*(n)` prefixes count as
    node text, so they don't skew the depth)."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _windows_feed_off_single_partition(plan: str) -> list[str]:
    """Window nodes whose own SUBTREE's first exchange is an Exchange
    SinglePartition — the single-task global-sort shape the
    distributed scan (functions/scan.py) exists to eliminate. The walk
    is bounded to each Window's subtree (strictly deeper print-tree
    lines), so a sibling branch's exchange is never (mis)attributed to
    the window."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Window" not in ln or "WindowGroupLimit" in ln:
            continue
        d = _tree_depth(ln)
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _tree_depth(nxt) <= d:
                break  # left the window's subtree
            if "Exchange" in nxt:
                if "SinglePartition" in nxt:
                    bad.append(ln.strip())
                break
    return bad


def test_distributed_scan_no_single_task_windows(spark):
    """Round-8 scale fix pins: the RFM quintile scoring, the
    token-budget admission cumsum, the sequence-packing prefix sum and
    the vocab-coverage ranking must contain NO window fed by an
    `Exchange SinglePartition` — each global order statistic now rides
    the distributed scan (range partition + local window + broadcast
    offsets) or a bounded pre-pruned input."""
    from spark_rapids_ml_spark.operators.aggregates import (
        agg_exact_quantiles_scan,
        agg_weighted_quantiles_scan,
    )
    from spark_rapids_ml_spark.operators.llm_pipeline import (
        pipe_sequence_packing,
        pipe_token_budget_selection,
    )
    from spark_rapids_ml_spark.operators.timeseries import events_rfm_segmentation

    for fn in (
        events_rfm_segmentation,
        pipe_token_budget_selection,
        pipe_sequence_packing,
        agg_exact_quantiles_scan,
        agg_weighted_quantiles_scan,
    ):
        plan = plan_of(fn(spark, SF))
        bad = _windows_feed_off_single_partition(plan)
        assert not bad, f"{fn.__name__}: single-task window(s): {bad}\n{plan}"
        assert "Exchange SinglePartition" not in plan or fn is pipe_token_budget_selection, (
            # token-budget keeps two legitimate 1-row scalar aggregates
            # (budget, n_docs); the others must have none at all
            f"{fn.__name__} has a SinglePartition exchange:\n{plan}"
        )


def test_vocab_coverage_window_input_is_bounded(spark):
    """The vocabulary ranking window's global sort must consume the
    partial top-k pruned frame (bounded at max(sizes) x partitions),
    never the raw vocabulary: the plan must show a per-partition
    row_number filter BELOW the final single-order window."""
    from spark_rapids_ml_spark.operators.textstats import (
        VOCAB_CURVE_SIZES,
        text_vocab_coverage_curve,
    )

    plan = plan_of(text_vocab_coverage_curve(spark, SF))
    k_max = max(VOCAB_CURVE_SIZES)
    # the pruning filter (local rank <= k_max) appears before the
    # global window in the plan tree
    assert f"_lrk#" in plan and f"<= {k_max})" in plan, plan
    assert plan.count("Window") >= 2  # local top-k window + global rank window


def test_round9_scan_consumers_no_single_task_windows(spark):
    """Round-9 additions that rank or scan a corpus-proportional frame
    (Zipf vocabulary rank, KS double ECDF cumsum, serpentine shard
    rank, curriculum NTILE) must ride the distributed scan: no window
    fed by an `Exchange SinglePartition`, and at most the known 1-row
    scalar aggregates elsewhere in the plan."""
    from spark_rapids_ml_spark.operators.analytics_extra import agg_ks_two_sample
    from spark_rapids_ml_spark.operators.llm_pipeline import (
        pipe_curriculum_stages,
        pipe_shard_bin_packing,
    )
    from spark_rapids_ml_spark.operators.textstats import text_zipf_law_fit

    for fn in (
        text_zipf_law_fit,
        agg_ks_two_sample,
        pipe_shard_bin_packing,
        pipe_curriculum_stages,
    ):
        plan = plan_of(fn(spark, SF))
        bad = _windows_feed_off_single_partition(plan)
        assert not bad, f"{fn.__name__}: single-task window(s): {bad}\n{plan}"


def test_aqe_skew_join_splits_hot_partition(spark):
    """Under the scoped skew thresholds, the executed sort-merge join
    over the planted hot key must carry AQE's `skew=true` marker —
    the oversized partition was split from runtime statistics."""
    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.operators.scale_patterns import AQE_SKEW_CONFS
    from spark_rapids_ml_spark.session import scoped_conf
    from spark_rapids_ml_spark.sources.catalog import load

    with scoped_conf(spark, AQE_SKEW_CONFS):
        # 16 mappers: AQE can only split a skewed partition on
        # map-output boundaries (one input file = one unsplittable map)
        li = load(spark, SF, "lineitem").repartition(16).select(
            F.when(F.col("l_suppkey") % 4 != 0, F.lit(1))
            .otherwise(F.col("l_suppkey"))
            .alias("skew_key"),
            "l_quantity",
        )
        s = load(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
        j = li.join(s, li.skew_key == s.s_suppkey)
        j.collect()  # AQE finalizes (and splits) only on execution
        plan = plan_of(j)
    assert "skew=true" in plan, plan
    assert "skewed" in plan, plan  # the AQEShuffleRead carries the spec


def test_round10_hits_ranking_has_no_single_task_window(spark):
    """Round-10 scale fix pin: the HITS top-10 ranking must NOT funnel
    the full per-node score table through an unpartitioned window —
    the local top-10 prune bounds the rank input at 10 x partitions
    rows and ranged_row_number ranks it with range partitioning, so no
    window in the final plan is fed by an `Exchange SinglePartition`
    (the normalization max() 1-row aggregates are scalar aggs, not
    windows, and stay)."""
    from spark_rapids_ml_spark.operators.graph import graph_hits_hubs_authorities

    plan = plan_of(graph_hits_hubs_authorities(spark, SF))
    bad = _windows_feed_off_single_partition(plan)
    assert not bad, f"single-task window(s): {bad}\n{plan}"


def test_ivf_ingest_index_partition_pruning(spark):
    """The streaming-ingested IVF index (cell-partitioned parquet dir
    built by the file sink across micro-batches) must prune probe
    scans to the probed cells' partition dirs exactly like the
    batch-built persisted index — the access path cannot regress
    because the index arrived incrementally."""
    import shutil

    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.streaming import stream_queries as sq

    index_dir = sources_io._sink("ivf_ingest_index", SF)
    # hermeticity: always rebuild through the declared query so the
    # plan assertion exercises the CURRENT ingest code, not an index
    # left on disk by an older run or by the batch-boundary test's
    # monkeypatched IVFSTREAM_FILES (ADVICE r11)
    shutil.rmtree(index_dir, ignore_errors=True)
    sq.stream_ivf_index_ingest(spark, SF).collect()
    idx = spark.read.parquet(index_dir)
    n_cells = idx.select("cell").distinct().count()
    probed = [r["cell"] for r in idx.select("cell").distinct().limit(3).collect()]
    pruned = idx.where(F.col("cell").isin(probed))
    txt = formatted(pruned)
    assert "PartitionFilters" in txt, txt
    part_filters = txt.split("PartitionFilters:")[1].splitlines()[0]
    # the IN-list must land in the scan's PARTITION filter slot (dir
    # pruning), not the data-filter slot. (inputFiles() is computed
    # from the unpruned file index on a raw dir read, so the plan text
    # is the observable here — the persisted-TABLE twin above checks
    # file counts.)
    assert "cell" in part_filters, part_filters
    assert pruned.count() < idx.count()  # the prune excludes real rows
    assert n_cells > 3


def test_quantized_coarse_scan_is_batched_local_prune(spark):
    """sim_quantized_topk's coarse scan must be the Arrow-batched
    per-partition kernel (MapInPandas) with LOCAL top-QUANT_CAND
    pruning — not the round-11 Q x N broadcast non-equi join whose
    zip_with folds and corpus-sized shuffle measured 45.8 s vs 36.9 s
    brute at sf10. The candidate window's input is then bounded by
    partitions x Q x QUANT_CAND rows regardless of corpus size."""
    from spark_rapids_ml_spark.operators.similarity import sim_quantized_topk

    txt = formatted(sim_quantized_topk(spark, SF))
    assert "MapInPandas" in txt, txt
    # the non-equi coarse join (qrv x rv on vec_id != qid) is gone;
    # the only joins left are the re-rank's equi-joins
    assert "BroadcastNestedLoopJoin" not in txt, txt


def test_filtered_ivf_scan_prunes_and_pushes_predicate(spark):
    """sim_filtered_ivf_topk's access path: ONE scan over the
    metadata-enriched cell-partitioned index must carry BOTH a
    partition filter on the probed cells AND the pushed attribute
    predicate (lang / n_chars) — pre-filtering inside the pruned
    probe scan, the filtered-ANN layout claim (round 13)."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.similarity import (
        FILTER_LANG,
        FILTER_NCHARS,
        ivf_meta_index_tables,
    )

    meta_tbl, _cent = ivf_meta_index_tables(spark, SF)
    idx = spark.table(meta_tbl)
    probed = [r["cell"] for r in idx.select("cell").distinct().limit(3).collect()]
    scan = idx.where(
        F.col("cell").isin(probed)
        & (F.col("lang") == FILTER_LANG)
        & (F.col("n_chars") >= FILTER_NCHARS)
    )
    txt = formatted(scan)
    assert "PartitionFilters" in txt, txt
    part = txt.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part, part
    pushed = txt.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed and "n_chars" in pushed, pushed
    # pruned scan reads fewer partition dirs than the full table
    assert len(scan.inputFiles()) < len(idx.inputFiles())


def test_filtered_ivf_empty_predicate_emits_nothing(spark, monkeypatch):
    """The emptiness corner (round-13 item 1): a predicate matching
    zero corpus rows must yield an EMPTY result, not an error — the
    probe path's joins and window must tolerate an empty filtered
    scan."""
    from spark_rapids_ml_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "FILTER_LANG", "zz-no-such-lang")
    out = sim.sim_filtered_ivf_topk(spark, SF)
    assert out.count() == 0
    assert out.columns == ["qid", "vec_id", "cosine", "rk"]


def test_filtered_rrf_dense_scan_pushes_three_predicates(spark):
    """retrieval_rrf_filtered_fusion's dense tower adds the
    evaluation-slice id cap as a THIRD pushed predicate on the same
    pruned probe scan (cell partition filter + lang/n_chars + vec_id
    range) — the composable-predicates claim: the filtered index's
    access path keeps its shape as predicates stack."""
    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.similarity import (
        FILTER_LANG,
        FILTER_NCHARS,
        ivf_meta_index_tables,
    )

    meta_tbl, _cent = ivf_meta_index_tables(spark, SF)
    idx = spark.table(meta_tbl)
    probed = [r["cell"] for r in idx.select("cell").distinct().limit(3).collect()]
    scan = idx.where(
        F.col("cell").isin(probed)
        & (F.col("lang") == FILTER_LANG)
        & (F.col("n_chars") >= FILTER_NCHARS)
        & (F.col("vec_id") <= 400)
    )
    txt = formatted(scan)
    assert "PartitionFilters" in txt, txt
    part = txt.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part, part
    pushed = txt.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed and "n_chars" in pushed and "vec_id" in pushed, pushed
    assert len(scan.inputFiles()) < len(idx.inputFiles())
