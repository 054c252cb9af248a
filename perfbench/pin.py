"""Pin the benchmark's expected outputs into ``expected.json``.

    python3 perfbench/pin.py

For every catalog scale the workloads use: generate the catalog, record
its fingerprint (per-table row count and file hash), then for every
pinned query confirm the Spark result against an independent oracle
before recording its digest (row count plus xxhash64 row-hash sum):

a query must pass ``harness.compare`` against its DuckDB oracle; a query
without an oracle, or a mismatch, is reported and left unpinned, so the
benchmark counts it as failed.

The ``ml-fit`` workload needs no pins: each run checks it against numpy
oracles built from the run's own generated matrix.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import EXPECTED_PATH, SELF_TEST, WORKLOADS, catalog_scales, scale_dir  # noqa: E402


def main() -> int:
    from worker import QueryUnit, isolate_paths, new_session

    run_dir = os.path.join(WORK, "pin")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_GRAFT_DRIVER_MEM="3g",
    )
    sys.path.insert(0, ROOT)
    from spark_rapids_ml_spark.harness import compare
    from spark_rapids_ml_spark.operators.dedup import release_caches
    from spark_rapids_ml_spark.registry import all_queries

    isolate_paths(run_dir)
    specs = all_queries()
    spark = new_session(run_dir, trace=False)
    expected = {"fingerprints": {}, "digests": {}, "confirmed_by": {}}
    ok_all = True
    for sf in catalog_scales():
        tag = scale_dir(sf)
        sf_dir = os.path.join(WORK, "data", tag)
        shutil.rmtree(sf_dir, ignore_errors=True)
        datagen.write_catalog(sf_dir, sf)
        expected["fingerprints"][tag] = datagen.fingerprint(sf_dir)
        names = sorted({q for w in (*WORKLOADS.values(), SELF_TEST) if w.sf == sf for q in w.queries})
        for name in names:
            spec = specs[name]
            if spec.oracle is not None:
                ok, details = compare(spark, spec, sf_dir)
                how = f"harness.compare: {details}"
            else:
                ok, how = False, "no oracle"
            print(f"{'OK ' if ok else 'BAD'} {tag} {name}: {how}", flush=True)
            if not ok:
                ok_all = False
                continue
            unit = QueryUnit(spec, sf_dir, None)
            expected["digests"].setdefault(tag, {})[name] = unit.action(spark, unit.build(spark))
            release_caches()
            expected["confirmed_by"].setdefault(tag, {})[name] = how
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
