"""Vacuum regenerable run artifacts: `.tmp` had grown to 5.8 GB and
kept growing across rounds/sfs because per-invocation artifacts
outlive their runs.

What goes (all regenerated on demand by the queries that need them):
  - stream_queries._CHECKPOINT_ROOT (tmpfs when /dev/shm exists,
    else .tmp/checkpoints) — streaming checkpoints. Every run removes
    its own when it ends, also when the query raised, so only a killed
    process leaves one behind. (548 leaked dirs, 1.6 GB were
    observed before runs removed their own.)
  - .tmp/stream_src*, .tmp/stream_cdc, .tmp/stream_dedup — micro-
    batch staging dirs, rewritten at the start of each run.
  - .tmp/sinks/* — streaming/lakehouse sink outputs incl. the ANN
    ingest indexes; every producing query rmtree's and rebuilds its
    own sink, so nothing here is reread across runs without being
    rebuilt first.

What stays:
  - spark-warehouse/ — the persisted bucketed-join tables and the
    content-addressed sim/dedup index tables ARE reread across runs
    (tableExists fast path); dropping them only forces retraining.
    Bounded by construction: one db per (kind, sf tag).

Run it after a sweep (tools/sweep_runner.sh does) or standalone:
  python tools/vacuum_artifacts.py          # vacuum
  python tools/vacuum_artifacts.py --dry    # report only

NEVER run while a sweep/pytest/bench is executing — a live stream's
checkpoint or a mid-rebuild sink would be yanked from under it.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spark_rapids_ml_spark.operators.sources_io import SINK_ROOT  # noqa: E402
from spark_rapids_ml_spark.streaming.stream_queries import (  # noqa: E402
    _CHECKPOINT_ROOT,
    _STAGE_ROOT as TMP,
)

VICTIM_GLOBS = [
    _CHECKPOINT_ROOT,
    os.path.join(TMP, "stream_src*"),
    os.path.join(TMP, "stream_cdc"),
    os.path.join(TMP, "stream_dedup"),
    SINK_ROOT,
]


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def main() -> None:
    dry = "--dry" in sys.argv
    freed = 0
    for pat in VICTIM_GLOBS:
        for path in sorted(glob.glob(pat)):
            sz = du(path)
            freed += sz
            print(f"{'would remove' if dry else 'removing'} {path} "
                  f"({sz / 1e6:.0f} MB)")
            if not dry:
                shutil.rmtree(path, ignore_errors=True)
    left = du(TMP) if os.path.isdir(TMP) else 0
    print(f"freed {freed / 1e9:.2f} GB; .tmp now {left / 1e9:.2f} GB")


if __name__ == "__main__":
    main()
