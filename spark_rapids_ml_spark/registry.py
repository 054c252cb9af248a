"""Declared-query registry: the engine's correctness contract.

Every operator the engine claims (SURVEY.md §2.B) registers here as a
named query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus —
whenever SQL-expressible — an equivalent ANSI-SQL string a DuckDB
oracle can run on the same parquet tables. ``__spark_entry__.py``
simply re-exports this registry to the driver.

Determinism contract (FIXTURES.md): total ORDER BY on a unique key,
doubles rounded via round(x, 6) (exact-decimal formulations where
cross-engine FP drift could exceed 1e-6), output columns restricted
to string / bigint / double, identical aliases on both sides.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclasses.dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # ANSI SQL for DuckDB; None -> rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: declare a named query with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


# External correctness sweeps are budget-bound (50 queries/round) and
# enumerate ``queries()`` in order, so the enumeration order is rotated
# each round to give every declared operator a driver-visible verdict.
# Round 4 checked the 42 never-checked-through-r03 queries plus the
# multimodal oracles and round-4 additions.
# Round 5 front-loads: (a) queries new, fixed, or refactored this
# round, (b) the late-round-4 additions that have never had a driver
# row, (c) the queries whose newest driver row is oldest (the r01/r02
# aggregate/array/dedup/join prefix) — filling the 50-query window.
# Names absent from the registry are skipped, so the list is safe
# across partial loads.
SWEEP_PRIORITY: list[str] = [
    # -- round 13 rotation head: (a) queries round 13 ADDED — the
    # filtered-ANN pair (predicate inside the partition-pruned probe
    # scan + its exact filtered-brute baseline), the incremental
    # append tick of the versioned serving index, the tombstone-delete
    # + compaction tick that completes it, and the RRF
    # lexical+vector fusion; (b) queries round 13 CHANGED — the drift
    # lifecycle (both branches now serve the grown corpus ref ∪ cur
    # under versioned manifests; oracle changed in lockstep) and the
    # flat SQ tier (local prune key now half-away-from-zero, ADVICE
    # r12; values unchanged — the fresh driver row proves it). The
    # tail follows least-recently-sampled order as of round 13: the
    # rest of the r05 cohort, then the oldest of r06.
    "retrieval_mmr_diversified",
    "stream_ann_rollback_probe",
    "retrieval_rrf_filtered_fusion",
    "stream_ann_compaction_tick",
    "stream_ann_incremental_append",
    "sim_filtered_ivf_topk",
    "sim_filtered_bruteforce_topk",
    "retrieval_rrf_fusion",
    "stream_ann_drift_retrain_lifecycle",
    "sim_quantized_topk",
    # -- round 13 window tail: the 44 least-recently-sampled
    "agg_quantile_sketch_merge",
    "agg_rollup",
    "agg_unpivot_measures",
    "dedup_embedding_lsh_pairs",
    "dedup_simhash_hamming_pairs",
    "graph_triangle_count",
    "join_range_binned_count",
    "json_variant_extract",
    "layout_compaction_rewrite",
    "layout_zorder_buckets",
    "ml_naive_bayes_langid",
    "pipe_group_reservoir_sample",
    "q10_returned_items",
    "q11_important_stock",
    "q12_shipmode_priority",
    "scalar_xml_roundtrip",
    "sim_bruteforce_topk",
    "sink_merge_upsert",
    "skew_join_hot_key_isolation",
    "source_orc_roundtrip",
    "source_python_datasource",
    "sql_recursive_cte_hierarchy",
    "stream_rocksdb_state_window",
    "stream_stream_left_outer_join",
    "subquery_lateral_topn",
    "text_bigram_lm_score",
    "text_repetition_stats",
    "text_term_redaction",
    "udf_map_in_arrow_textstats",
    "window_sessionize_gaps",
    "agg_count_min_sketch",
    "agg_distinct_overlap_bitmap",
    "agg_kmv_theta_sketch_ops",
    "agg_listagg_ordered",
    "agg_pivot_dynamic",
    "agg_skewness_kurtosis",
    "api_dataframe_transpose",
    "dq_dp_noisy_counts",
    "events_rolling_median",
    "events_sequence_pattern_match",
    # events_transition_matrix, feature_hashing_trick,
    # join_asof_nearest_tolerance and join_fuzzy_blocked_levenshtein
    # rotated out to keep the window at 50 as the late-round additions
    # (compaction tick, filtered RRF fusion, rollback probe, MMR
    # diversification) joined the head; they are next in staleness
    # order for round 14.
]



def load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    from spark_rapids_ml_spark.operators import (  # noqa: F401
        llm_pipeline,
        misc,
        multimodal,
        relational,
        scalar_funcs,
        scale_patterns,
        setops,
        sources_io,
        subqueries,
        textstats,
        timeseries,
        udf_surface,
        windows,
    )
    from spark_rapids_ml_spark import ml_queries  # noqa: F401
    from spark_rapids_ml_spark.streaming import stream_queries  # noqa: F401
    from spark_rapids_ml_spark.operators import (  # noqa: F401
        aggregates,
        analytics_extra,
        arrays_json,
        curation,
        dedup,
        evalmetrics,
        graph,
        joins,
        similarity,
    )


def all_queries() -> dict[str, QuerySpec]:
    """Every declared query, SWEEP_PRIORITY names first (see above),
    then the rest in registration order."""
    load_all_modules()
    ordered = {n: QUERIES[n] for n in SWEEP_PRIORITY if n in QUERIES}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    return ordered
