"""Caller-session independence: declared queries run on SESSIONS WE
DON'T CONTROL (the external oracle driver builds its own), so a
representative sample must stay correct on a session configured
nothing like ours — 200 shuffle partitions, AQE disabled, no Arrow.
catalog.load() re-applies the runtime-settable execution defaults
(AQE/Arrow) and pins timezone/nanos handling; this test is the proof
that that path works from a cold, hostile configuration.
"""

from __future__ import annotations

import pytest

from spark_rapids_ml_spark.harness import compare
from spark_rapids_ml_spark.registry import all_queries

SF = "/root/testdata/sf0.001"

SAMPLED = [
    "q1_pricing_summary",  # decimal aggregation
    "q21_waiting_supplier",  # double-correlated subqueries
    "dedup_minhash_lsh_pairs",  # portable hash + guard
    "pipe_sequence_packing",  # total-order window
    "stream_tumbling_window",  # streaming + state clamp restore
    "feature_minmax_scale",  # mapInArrow fit + arrow_udf transform
    "scalar_datetime_extra",  # timezone/nanos handling
    "layout_zorder_buckets",  # round 6: range-shuffle write under foreign shuffle width
    "pipe_bpe_apply_tokens",  # round 6: pandas_udf under arrow disabled
    "stream_incremental_dedup_lsh",  # round 6: foreachBatch + index under non-UTC tz
    "udf_iter_batch_inference",  # round 6: iterator pandas_udf under arrow disabled
    "stream_python_datasource_reader",  # round 6: python stream source, foreign conf
    "agg_distinct_overlap_bitmap",  # round 6: bitmap partials at 200 shuffle partitions
    "events_sequence_pattern_match",  # round 6: hour() bucketing under non-UTC session tz
    "sink_lakehouse_lifecycle",  # round 7: composed MERGE/MOR/compact/CDF under foreign conf
    "stream_cdf_apply_replica",  # round 7: foreachBatch MERGE + versioned dirs, non-UTC tz
    "scale_partition_evolution",  # round 7: dual-spec partition pruning, timestamp_ntz split
    "sim_pq_adc_topk",  # round 7: adaptive shortlist count() under AQE disabled
    "graph_kcore_peeling",  # round 7: scoped shuffle width restore under foreign conf
    "ml_eval_auc_rank",  # round 7: per-slice rank windows at 200 shuffle partitions
    "agg_bloom_filter_membership",  # round 7: adaptive m from count() under AQE disabled
    "timeseries_ewma_halflife",  # round 7: in-frame bigint fold under non-UTC session tz
    "sql_create_sql_udf",  # round 7: SQL UDF registration on a foreign session
    "stream_stateful_ewma",  # round 7: applyInPandasWithState + state shuffle under foreign conf
    "events_attribution_last_touch",  # round 7b: epoch-us lookback under non-UTC session tz
    "events_peak_concurrency",  # round 7b: date bucketing + microsecond formatting, non-UTC tz
    "events_survival_kaplan_meier",  # round 7b: corpus-max horizon + HOF fold under foreign conf
    "ml_logreg_irls_newton",  # round 7b: generated-SQL CTE chain at 200 shuffle partitions
    "stream_topk_heavy_hitters",  # round 7b: ranged staging + foreachBatch state merge, AQE off
    "join_spatial_grid_knn",  # round 7b: adaptive grid from count() under AQE disabled
    "mm_image_tile_impurity",  # round 7b: mapInPandas decode under arrow-batch conf off
]


@pytest.fixture(scope="module")
def hostile(spark):
    """An isolated session sharing the context but with adversarial
    session-level conf (what a conservative external harness might
    use)."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    return s


@pytest.mark.parametrize("name", SAMPLED)
def test_green_on_hostile_session(hostile, name):
    spec = all_queries()[name]
    ok, details = compare(hostile, spec, SF)
    assert ok, f"{name} failed on hostile session: {details}"
