"""Mini-bench for A/B measurement of individual queries: time the
named queries exactly the way bench.py does (fn() + consume-every-
column hash aggregate, release_caches between runs), N times each in
ONE session, and print one JSON line with raw samples + the CPU canary
so runs from adjacent sessions (old vs new code) can be compared with
host drift visible.

Usage: SPARK_GRAFT_SF_DIR=... python tools/ab_query.py N name1 name2 ...
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canary() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((2000, 2000))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ a).sum()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.operators.dedup import release_caches
    from spark_rapids_ml_spark.registry import all_queries
    from spark_rapids_ml_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = int(sys.argv[1])
    names = sys.argv[2:]
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    def run_once(name: str) -> float:
        spec = specs[name]
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        hashable = [
            F.to_json(c) if t.typeName() in ("map",) else F.col(c)
            for c, t in ((f.name, f.dataType) for f in df.schema.fields)
        ]
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*hashable).cast("decimal(28,0)")).alias("h"),
        ).collect()
        dt = round(time.perf_counter() - t0, 3)
        release_caches()
        return dt

    out: dict = {"samples": {}, "medians": {}}
    for name in names:
        run_once(name)  # warm-up, discarded
    for name in names:
        ts = [run_once(name) for _ in range(n)]
        out["samples"][name] = ts
        out["medians"][name] = round(statistics.median(ts), 3)
    out["canary"] = _canary()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
