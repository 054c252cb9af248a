"""CI guard (no Spark): one owner for each query's cross-cutting state.

- The cache registry is ``query_run``'s; no module-global cache list
  comes back. Frames are cached, checkpoint-registered and freed only
  through it (``cache``/``checkpoint``/``release``): no bare
  ``.cache()``/``.persist(``/``.unpersist(`` and no checkpoint-RDD
  handle elsewhere in the package.
- Job groups and job descriptions are set only by ``query_run`` (the
  query's tag) and ``plans/profiling.span`` (the phase label).
- Conf restore lives only in ``session.scoped_conf``, the one place that
  unsets a key.
"""

from __future__ import annotations

import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark_rapids_ml_spark"
)

# banned name -> package files (relative) allowed to contain it
RULES = {
    "_SESSION_CACHES": (),
    ".cache()": ("query_run.py",),
    ".persist(": ("query_run.py",),
    ".unpersist(": ("query_run.py",),
    "_checkpoint_rdd": ("query_run.py",),
    "setJobGroup": ("query_run.py", os.path.join("plans", "profiling.py")),
    "setJobDescription": ("query_run.py", os.path.join("plans", "profiling.py")),
    "conf.unset(": ("session.py",),
}


def test_one_owner_per_query_policy():
    files = sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))
    assert files
    hits = []
    for path in files:
        rel = os.path.relpath(path, PKG)
        with open(path) as f:
            for i, line in enumerate(f, 1):
                hits += [
                    f"{rel}:{i}: {name}"
                    for name, allowed in RULES.items()
                    if name in line and rel not in allowed
                ]
    assert not hits, "second owner of a query-scoped policy:\n" + "\n".join(hits)
