"""CI guard: every driver materialization (.collect()/.toPandas()/.toArrow()) in
engine code must be on the audited bounded-state allowlist.

At 100 TB an unbounded driver hop is the difference between "runs" and
"OOMs the driver": each allowed site below is bounded by a constant or
a model/dimension size, never by the data volume. Adding a new
collect()/toPandas()/toArrow() to the engine requires adding it here WITH its
boundedness argument — the review gate this test automates. (Round 7
removed the last unbounded hop, stream_incremental_dedup_lsh's
toPandas staging, replaced by a distributed repartitionByRange write.)
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "spark_rapids_ml_spark")

# file -> set of substrings, one per allowed call site, each with the
# boundedness invariant it relies on.
ALLOWED = {
    "harness.py": {
        ".toPandas()",  # oracle compare materializes declared RESULTS (aggregates/top-k), the harness's job
    },
    "plans/dump.py": {
        "df.collect()",  # diagnostic: finalize AQE before plan dump
    },
    "operators/sources_io.py": {
        ".collect()",  # time-travel manifest: O(versions) metadata rows
    },
    "operators/aggregates.py": {
        ".distinct().collect()",  # dynamic pivot: O(distinct priorities) = 5
        'h.agg(F.sum("w").alias("tot")).collect()',  # weighted-quantile total: ONE row (scalar grand weight)
        'pc.agg(F.count(F.lit(1)).alias("n"), F.sum("cents")',  # pareto scalar (n, total): ONE row
    },
    "operators/timeseries.py": {
        "pi = local_df(spark, pi.collect()",  # Markov state vector: |event types| rows, materialized inside the scoped shuffle width
    },
    "operators/scale_patterns.py": {
        ".limit(N_HOT_KEYS)",  # skew isolation: top-N hot keys only
        "rows = res.collect()",  # conf-scoped agg result: O(priorities) = 5
        ".collect()  # bounded: one row per data file",  # manifest stats
    },
    "operators/dedup.py": {
        ".limit(CLUSTER_LOCAL_EDGE_CAP + 1).collect()",  # explicit cap
    },
    "operators/graph.py": {
        "toArrow()  # bounded: the key-capped edge slice",  # k-core edge slice: orders with key <= 30000, <= 30000 x C(7,2) = 630k int64 pairs (~10 MB) at any SF
        "rows = out.collect()  # bounded: top-25 communities",  # LPA result after limit(25); lets the caches release before return
        "rows = out.collect()  # 1-row verdict",  # modularity Q: ONE aggregate row; lets the shared LPA caches release before return
    },
    "operators/evalmetrics.py": {
        'e.where(F.col("vec_id") < KNN_N_TEST)',  # kNN query matrix: KNN_N_TEST x dim rows (model input, corpus-independent)
        'groupBy("pid", "segment")',  # AUC scan offsets: n_partitions x n_segments rows
    },
    "operators/llm_pipeline.py": {
        "vocab.collect()",  # BPE training vocabulary (declared driver-iterative)
    },
    "functions/scan.py": {
        "t.groupBy(_PID)",  # distributed scan's middle step: ONE row per range partition (the classic scan's broadcast offsets)
    },
    "operators/similarity.py": {
        "# bounded: cap (<= 36) rows",  # _corpus_head fused count+query/codebook slice: cap rows of d doubles
        ".orderBy(\"pos\")",  # quantizer stats: d=64 rows
        '.select("pcell").distinct().collect()',  # probed cells <= nprobe
    },
    "ml/schema.py": {
        # _to_arrow, the ML fits' one hop: reduce_partials' packed partial per
        # partition (O(d^2) PCA, O(d) scalers) or a collective's one result
        # from partition 0 (k*d KMeans centroids, 1 + d + d(d+1)/2 spr
        # moments); row-count independent
        "return df.toArrow()  # bounded",
    },
    "streaming/stream_queries.py": {
        "bounded: d^2 + d + 1 statistic cells",  # incremental-covariance final state: one flat moments vector
    },
}

PATTERN = re.compile(r"\.(collect|toPandas|toArrow)\(\)")


def test_no_unaudited_driver_hops():
    violations = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as f:
                lines = f.readlines()
            allowed = ALLOWED.get(rel, set())
            for i, line in enumerate(lines, 1):
                if not PATTERN.search(line):
                    continue
                ctx = "".join(lines[max(0, i - 3) : i])
                if any(marker in ctx for marker in allowed):
                    continue
                violations.append(f"{rel}:{i}: {line.strip()}")
    assert not violations, (
        "unaudited driver materialization site(s) — add to "
        "tests/test_driver_hops.py ALLOWED with a boundedness argument:\n"
        + "\n".join(violations)
    )
