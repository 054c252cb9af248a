"""Run the harness compare (Spark vs DuckDB oracle) for a subset of
queries: `python tools/check_queries.py name1 name2 ...` or with no
args, every declared query. Each query runs in its own query scope, so
a query that raises frees its caches before the next one starts. Exits
nonzero on any mismatch."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_rapids_ml_spark.harness import compare
from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.registry import all_queries
from spark_rapids_ml_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("check", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    names = sys.argv[1:] or list(specs)
    bad = 0
    for name in names:
        try:
            with query_run(spark, name) as run:
                ok, details = compare(spark, specs[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 — one query must not kill the sweep
            ok, details = False, f"{type(exc).__name__}: {exc}"
            print(f"ERR  {name}: {str(details)[:500]}", flush=True)
            bad += 1
            continue
        status = "OK " if ok else "FAIL"
        # the wall= suffix makes every sweep log a per-query time profile
        print(f"{status} {name}: {details} wall={run.wall_s:.1f}s", flush=True)
        bad += 0 if ok else 1
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
