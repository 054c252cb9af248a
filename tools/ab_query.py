"""Mini-bench for A/B measurement of individual queries: time the
named queries with bench.py's own timed run (fn() + consume-every-
column hash aggregate), N times each in ONE session and each run in
its own query scope, and print one JSON line with raw samples, the
Spark job count of each run and the CPU canary so runs from adjacent
sessions (old vs new code) can be compared with host drift visible.

Usage: SPARK_GRAFT_SF_DIR=... python tools/ab_query.py N name1 name2 ...
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_canary, _time_query
from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.registry import all_queries
from spark_rapids_ml_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = int(sys.argv[1])
    names = sys.argv[2:]
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    def run_once(name: str) -> tuple[float, int]:
        with query_run(spark, name) as run:
            dt = _time_query(spark, sf_dir, specs[name])
        return dt, len(run.job_ids)

    out: dict = {"samples": {}, "medians": {}, "jobs": {}}
    for name in names:
        run_once(name)  # warm-up, discarded
    for name in names:
        ts, jobs = zip(*(run_once(name) for _ in range(n)))
        out["samples"][name] = list(ts)
        out["medians"][name] = round(statistics.median(ts), 3)
        out["jobs"][name] = list(jobs)
    out["canary"] = _cpu_canary()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
