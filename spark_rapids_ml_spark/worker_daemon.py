"""Python worker daemon: ``pyspark.daemon`` with stat-gated zip caches.

``session.get_spark`` selects this module as ``spark.python.daemon.module``.
It changes one thing before handing over to ``pyspark.daemon.manager()``:
``zipimport.zipimporter.invalidate_caches``.

Why: at the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Below CPython 3.13 that makes
every zipimporter re-read its archive's central directory, and a worker
holds about 16 of them over ``pyspark.zip`` (1,328 files): 0.2 s of
fixed cost per task, even on a reused worker.

The rule: an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken at its last read; otherwise the importer
takes the directory of that read. A rewritten archive, or one that
cannot be stat-ed, goes through the stock method, so files added to a
running job are still noticed. Workers are forked from this daemon and
inherit the change. CPython 3.13 re-reads lazily and is left alone.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size) before the read, directory read)
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    seen = _read_at.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate_caches(self)
    if stamp is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = (stamp, self._files)


def main() -> None:
    if sys.version_info < (3, 13):  # 3.13+ re-reads lazily already
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # one read per archive here, so forked workers start with its stamp
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the imported module, so the installed method is named
    # spark_rapids_ml_spark.worker_daemon.invalidate_caches, not __main__'s
    from spark_rapids_ml_spark.worker_daemon import main as _main

    _main()
