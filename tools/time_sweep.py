"""Time every declared query (Spark side + DuckDB oracle side) at sf0.01.

Emits one JSON line per query to stderr-progress and a final JSON file
tools/sweep_times.json sorted by total cost, so we can see what the
driver's correctness budget is spent on. Each query runs in its own
query scope, so a failing query's caches are freed before the next.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_rapids_ml_spark.harness import duckdb_connect
from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.registry import all_queries
from spark_rapids_ml_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_queries()
    con = duckdb_connect(sf_dir)
    out: dict[str, dict] = {}
    # warm-up
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    for name, spec in specs.items():  # registration order == driver order
        err = None
        with query_run(spark, name) as run:
            try:
                nrows = len(spec.fn(spark, sf_dir).toPandas())
            except Exception as e:  # noqa: BLE001
                err = f"{type(e).__name__}: {e}"[:200]
                nrows = -1
        t_spark = run.wall_s
        t1 = time.perf_counter()
        if spec.oracle is not None and err is None:
            try:
                con.execute(spec.oracle).df()
            except Exception as e:  # noqa: BLE001
                err = f"oracle {type(e).__name__}: {e}"[:200]
        t_oracle = time.perf_counter() - t1
        out[name] = {
            "spark_s": round(t_spark, 3),
            "oracle_s": round(t_oracle, 3),
            "rows": nrows,
            "err": err,
        }
        print(f"{name}: spark={t_spark:.2f}s oracle={t_oracle:.2f}s rows={nrows} {err or ''}",
              file=sys.stderr, flush=True)

    total_spark = sum(v["spark_s"] for v in out.values())
    total_oracle = sum(v["oracle_s"] for v in out.values())
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "sweep_times.json"), "w") as f:
        json.dump({"total_spark_s": round(total_spark, 1),
                   "total_oracle_s": round(total_oracle, 1),
                   "n": len(out), "queries": out}, f, indent=1)
    print(json.dumps({"total_spark_s": round(total_spark, 1),
                      "total_oracle_s": round(total_oracle, 1), "n": len(out)}))


if __name__ == "__main__":
    main()
