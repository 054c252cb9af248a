"""Workload definitions: pinned query lists and input sizes.

A query workload runs declared queries (``registry.all_queries()``) by
name against a generated catalog at a fixed scale factor. The ``ml-fit``
workload runs the PCA and KMeans estimators on a dense matrix drawn
from the run's seed. Expected outputs live in ``expected.json`` (see
``pin.py``).
"""

from __future__ import annotations

import dataclasses
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float | None = None  # catalog scale factor (query workloads)
    queries: tuple[str, ...] = ()
    matrix: tuple[int, int, int] | None = None  # rows, cols, rank (ml-fit)
    # discarded passes in the set-up, and the fewest timed passes a run
    # makes even when --seconds runs out earlier
    warmup_passes: int = 1
    min_passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="headline-sf0.001",
            why=(
                "overhead-bound: one headline row per operator module at sf0.001, so plan "
                "building, job round-trips, catalog loads, commits and sink writes dominate"
            ),
            sf=0.001,
            # the cheapest bench=True row of each operator module; q1 and
            # sim_bruteforce_topk widen through catalog.load_wide, the sink
            # row writes parquet, the EWMA row commits state-store batches
            queries=(
                "array_explode_tokens",
                "dedup_exact_text",
                "graph_kcore_peeling",
                "join_broadcast_dim",
                "pipe_curate_budget_pack",
                "pca_covariance_matrix",
                "q1_pricing_summary",
                "sim_bruteforce_topk",
                "sink_lakehouse_lifecycle",
                "stream_stateful_ewma",
                "text_tfidf_top_terms",
                "asof_join_latest_order",
                "window_topk_per_group",
            ),
        ),
        Workload(
            name="ml-fit",
            why=(
                "the paper's capability, PCA fit/transform and KMeans fit on a dense matrix; "
                "the fit is Spark-overhead-bound: covariance stage ~85% of it, its GEMM under 1%"
            ),
            matrix=(20_000, 64, 8),
            # pass times still fall over the first two passes (JIT
            # compilation) and a pass is ~2.7 s: after one warm-up pass,
            # the ~3 passes of an 8 s window would sit on that slope.
            # Seven passes after two warm-up ones are past it and span
            # ~19 s of the host's swinging speed.
            warmup_passes=2,
            min_passes=7,
        ),
    )
}

# Not a benchmark workload: the traced run test_benchmark.py checks
# attribution on (a query with a commit thread pool, a query that fits KMeans)
SELF_TEST = Workload(
    name="attribution-selftest",
    why="attribution self-test",
    sf=0.001,
    queries=("sink_lakehouse_lifecycle", "sim_ivf_pq_hybrid_topk"),
)

# ml-fit estimator settings (the numpy oracle in worker.py uses the same)
PCA_K = 8
KMEANS_K = 16
KMEANS_ITERS = 2


def catalog_scales() -> list[float]:
    return sorted({w.sf for w in (*WORKLOADS.values(), SELF_TEST) if w.sf is not None})


def scale_dir(sf: float) -> str:
    return f"sf{sf:g}"


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {"fingerprints": {}, "digests": {}}
    with open(EXPECTED_PATH) as f:
        return json.load(f)
