"""Measure ANN recall@k vs the exact brute-force baseline at a given
scale: `SPARK_GRAFT_SF_DIR=... python tools/recall_probe.py [tiers...]`.

Prints one JSON line {"sf_dir": ..., "n_corpus": N, "recall": {tier:
mean_recall@5}, "wall": {tier: sec}} — the recall-vs-corpus-size
datapoint a 100 TB user asks for first (SCALING.md carries the curve).
The query set (vec_id < N_QUERIES) and k are the declared queries' own,
so these numbers describe exactly what ships.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("recall")
    spark.sparkContext.setLogLevel("ERROR")

    from spark_rapids_ml_spark.operators import similarity as sim
    from spark_rapids_ml_spark.sources.catalog import load

    tiers = {
        "lsh": sim.sim_lsh_bucketed_topk,
        "ivf": sim.sim_ivf_topk,
        "pq_adc": sim.sim_pq_adc_topk,
        "quantized": sim.sim_quantized_topk,
        "ivf_pq": sim.sim_ivf_pq_hybrid_topk,
        "ivf_sq": sim.sim_ivf_sq_hybrid_topk,
        "filtered_ivf": sim.sim_filtered_ivf_topk,
    }
    # filtered tiers are measured against the FILTERED exact baseline
    truth_for = {"filtered_ivf": sim.sim_filtered_bruteforce_topk}
    wanted = sys.argv[1:] or list(tiers)

    n_corpus = load(spark, sf_dir, "embeddings").count()

    def topk_sets(fn):
        out: dict[int, set[int]] = {}
        with query_run(spark, fn.__name__) as run:
            for r in fn(spark, sf_dir).collect():
                out.setdefault(r["qid"], set()).add(r["vec_id"])
        return out, round(run.wall_s, 2)

    truth, exact_wall = topk_sets(sim.sim_bruteforce_topk)
    truths = {sim.sim_bruteforce_topk: truth}
    recall: dict[str, float] = {}
    wall: dict[str, float] = {"bruteforce": exact_wall}
    for name in wanted:
        tfn = truth_for.get(name, sim.sim_bruteforce_topk)
        if tfn not in truths:
            tsets, tdt = topk_sets(tfn)
            truths[tfn] = tsets
            wall[f"truth:{name}"] = tdt
        truth = truths[tfn]
        got, dt = topk_sets(tiers[name])
        rs = [
            len(got.get(q, set()) & hits) / len(hits) for q, hits in truth.items()
        ]
        recall[name] = round(sum(rs) / len(rs), 4)
        wall[name] = dt
        print(f"# {name}: recall@5={recall[name]} wall={dt}s", file=sys.stderr)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_corpus": n_corpus,
                "n_queries": len(truth),
                "recall_at_5": recall,
                "wall_sec": wall,
            }
        )
    )


if __name__ == "__main__":
    main()
