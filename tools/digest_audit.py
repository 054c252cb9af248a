"""Sample-audit digest-mode PASSes with the pandas compare (ADVICE r12).

Digest mode's M/L/H float tiers (|x| >= 8e12) compare at ~7
significant digits relative tolerance, looser than pandas mode's
%.6f which is near-ULP-exact at those magnitudes — so in auto mode a
large-magnitude discrepancy below the tier granularity passes
silently. This tool closes that gap empirically:

1. SELECT phase (DuckDB only, cheap): run every declared query's
   oracle SQL wrapped in max(abs(col)) over its float columns; flag
   queries whose results actually reach |x| >= 8e12 at this sf.
2. AUDIT phase: run each flagged query through harness.compare in
   "pandas" mode — the authoritative row-level compare — and report.

Usage:
  SPARK_GRAFT_SF_DIR=/root/repo/testdata_sf10 python tools/digest_audit.py [names...]

With explicit names, skips the select phase and audits those queries
directly. Exits nonzero on any pandas-mode failure. Writes one line
per query; pipe to an AUDIT_* artifact for the round record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_rapids_ml_spark.harness import _classify_duck, compare, duckdb_connect
from spark_rapids_ml_spark.registry import all_queries

TIER_BOUND = 8e12  # S-tier upper bound: below this digest matches 6dp


def flagged_queries(sf_dir: str) -> list[tuple[str, float]]:
    """Queries whose oracle result carries a float with |x| >= 8e12."""
    specs = all_queries()
    con = duckdb_connect(sf_dir)
    out: list[tuple[str, float]] = []
    try:
        for name, spec in specs.items():
            if spec.oracle is None:
                continue
            try:
                desc = con.execute(f"DESCRIBE ({spec.oracle})").fetchall()
                fcols = [d[0] for d in desc if _classify_duck(d[1]) == "float"]
                if not fcols:
                    continue
                terms = ", ".join(
                    f'max(abs(CAST("{c}" AS DOUBLE)))' for c in fcols
                )
                row = con.execute(
                    f"SELECT greatest({terms}) FROM ({spec.oracle})"
                    if len(fcols) > 1
                    else f"SELECT {terms} FROM ({spec.oracle})"
                ).fetchone()
                mx = row[0]
                if mx is not None and mx >= TIER_BOUND:
                    out.append((name, float(mx)))
            except Exception as exc:  # selection is best-effort per query
                print(f"SELECT-ERR {name}: {exc}", flush=True)
    finally:
        con.close()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:]
    if names:
        targets = [(n, float("nan")) for n in names]
    else:
        print(f"# select phase: scanning oracle float magnitudes at {sf_dir}",
              flush=True)
        targets = flagged_queries(sf_dir)
        print(f"# {len(targets)} queries reach |x| >= {TIER_BOUND:g}", flush=True)
    if not targets:
        print("# nothing to audit at this sf")
        return
    from spark_rapids_ml_spark.session import get_spark

    spark = get_spark("digest_audit", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    bad = []
    for name, mx in targets:
        t0 = time.time()
        try:
            ok, details = compare(spark, specs[name], sf_dir, mode="pandas")
        except Exception as exc:
            ok, details = False, {"error": str(exc)[:300]}
        dt = time.time() - t0
        status = "OK" if ok else "FAIL"
        print(f"{status} {name} maxabs={mx:.3g} {dt:.1f}s "
              f"{'' if ok else details}", flush=True)
        if not ok:
            bad.append(name)
    if bad:
        print(f"# AUDIT FAILURES: {bad}")
        sys.exit(1)
    print(f"# audit clean: {len(targets)} large-magnitude queries pandas-green")


if __name__ == "__main__":
    main()
