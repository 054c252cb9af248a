"""The fixed per-query floor of the headline rows, on a warm session.

The 13 rows of the benchmark's ``headline-sf0.001`` workload run twice
in one session, each through ``bench._time_query`` inside its own
``query_run`` scope. On the second run:

- each row's job count is at most its pin. A row that loads a catalog
  table reads its memoized schema and runs no inference job
  (``sources.catalog.table_schema``): 100 jobs before the memo, 85
  after it. k-core's peel on the driver (13 -> 5) and the lifecycle's
  typed read-back of its commits (16 -> 14) make it 75.
- the whole-stage classes compiled are at most ``MAX_WARM_COMPILES``.
  ``session.get_spark`` sizes the generated-code cache to hold a pass's
  ~310 classes; at Spark's default of 100 the second run recompiled
  about 310 of them.
"""

from __future__ import annotations

from bench import _time_query
from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.registry import all_queries
from tests.conftest import SF_SMALL as SF

# second run, local[8]; before the schema memo in parentheses
MAX_JOBS = {
    "array_explode_tokens": 4,  # (5)
    "dedup_exact_text": 3,  # (4)
    "graph_kcore_peeling": 5,  # (14); 13 with the Spark peel loop
    "join_broadcast_dim": 5,  # (8)
    "pipe_curate_budget_pack": 14,  # (15)
    "pca_covariance_matrix": 3,  # (4)
    "q1_pricing_summary": 3,  # (4)
    "sim_bruteforce_topk": 6,  # (7)
    "sink_lakehouse_lifecycle": 14,  # (17); 16 with inferred read-back
    "stream_stateful_ewma": 2,  # (2) its schema was memoized before
    "text_tfidf_top_terms": 9,  # (10)
    "asof_join_latest_order": 4,  # (6)
    "window_topk_per_group": 3,  # (4)
}

# Measured 0-4 on the second run. A warm run compiles a class only when
# AQE numbers two whole-stage subtrees in the other order than on the
# run before (the codegenStageId is part of the class text), which
# text_tfidf_top_terms does on some runs. Before the cache was sized:
# 311.
MAX_WARM_COMPILES = 12


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_warm_headline_floor(spark):
    specs = all_queries()
    for _ in range(2):
        c0 = _compiles(spark)
        jobs, compiles = {}, {}
        for name in MAX_JOBS:
            c = _compiles(spark)
            with query_run(spark, name) as run:
                _time_query(spark, SF, specs[name])
            jobs[name] = len(run.job_ids)
            compiles[name] = _compiles(spark) - c
    over = {n: (jobs[n], pin) for n, pin in MAX_JOBS.items() if jobs[n] > pin}
    assert not over, f"jobs above pin (got, pin): {over}"
    total = _compiles(spark) - c0
    assert total <= MAX_WARM_COMPILES, f"{total} compiles on the warm run: {compiles}"
