"""Snapshot the executed physical plans of the bench headline queries.

Usage: ``python -m spark_rapids_ml_spark.plans.dump [out.md]``
Writes PLANS.md (default) with the post-AQE executed plan of every
bench-flagged query at ``$SPARK_GRAFT_SF_DIR`` (default sf0.001), so
plan regressions are reviewable in diffs — the `.explain("formatted")`
discipline, captured. The session is ``get_spark``'s default width
(``session.DEFAULT_CPUS``), as in ``bench.py``.
"""

from __future__ import annotations

import os
import sys

from spark_rapids_ml_spark.plans.explain import plan_of, pushed_filters, read_schema
from spark_rapids_ml_spark.registry import all_queries
from spark_rapids_ml_spark.session import get_spark

SF = "/root/testdata/sf0.001"

# non-bench queries whose plans are worth reviewing in diffs: the
# round-6 scale-pattern operators (one per pattern family)
EXTRA_PLANS = (
    "join_asof_nearest_tolerance",  # one shuffle, two window sorts
    "window_trailing_distinct_users",  # bounded fan-out, no range self-join
    "profile_table_summary",  # single scan feeding 6-way Expand
    "pipe_end_to_end_curation",  # 4-stage composition, two shuffles
    "events_sequence_pattern_match",  # lead(n) contiguous pattern
    "ml_ridge_closed_form",  # one-pass sufficient stats + scalar solve
    # round-6 second-session additions (one per new pattern family)
    "scale_dynamic_partition_pruning",  # DynamicPruningExpression on the fact scan
    "sim_pq_adc_topk",  # broadcast codebook encode + ADC lookup join
    "graph_bfs_shortest_path",  # 4 frontier-join supersteps, no cartesian
    "agg_kmv_theta_sketch_ops",  # TakeOrderedAndProject k-min sketches
    "sink_change_data_feed",  # one full-outer key join, change-only fan-out
    "agg_count_min_sketch",  # 512-cell bounded-state sketch build
    # round-8 distributed-scan family (pid-window + broadcast offsets)
    "events_rfm_segmentation",  # three scan-NTILEs, no SinglePartition window
    "pipe_token_budget_selection",  # scan cumsum admission
    "agg_exact_quantiles_scan",  # scan row-number + broadcast rank probe
    "text_vocab_coverage_curve",  # partial top-k prune under the global rank
)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sections = []
    for name, spec in sorted(all_queries().items()):
        if not (spec.bench or name in EXTRA_PLANS):
            continue
        df = spec.fn(spark, sf_dir)
        df.collect()  # finalize AQE
        body = plan_of(df)
        pf, rs = pushed_filters(df), read_schema(df)
        extra = ""
        if pf:
            extra += f"\nPushedFilters: {pf}"
        if rs:
            extra += f"\nReadSchema: {rs}"
        sections.append(f"## {name}\n```{extra}\n\n{body}\n```\n")
    with open(out, "w") as f:
        f.write(
            "# PLANS — executed physical plans of the bench headline set\n\n"
            f"Generated by `python -m spark_rapids_ml_spark.plans.dump` at `{sf_dir}`.\n\n"
            + "\n".join(sections)
        )
    print(f"wrote {out} ({len(sections)} plans)")


if __name__ == "__main__":
    main()
