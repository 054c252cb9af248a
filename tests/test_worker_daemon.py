"""The Python worker daemon (spark_rapids_ml_spark/worker_daemon.py).

The invalidation rule is checked on a temporary zip without Spark; the
Spark tests check that workers run under the daemon and that a driver
started outside the repository, with no PYTHONPATH, can still run a
Python UDF.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from spark_rapids_ml_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """A temporary archive on sys.path, imported through the daemon's
    invalidate_caches; yields (path, read counter)."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_mod_a": "X = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.setattr(sys, "path", [path] + sys.path)
    yield path, reads
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    worker_daemon._read_at.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_path):
    path, reads = zip_path
    assert importlib.import_module("wd_mod_a").X == 1
    importer = sys.path_importer_cache[path]
    importer.invalidate_caches()  # first call: reads and stamps
    n = len(reads)
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n
    assert importlib.import_module("wd_mod_a").X == 1


def test_rewritten_archive_is_reread(zip_path):
    path, reads = zip_path
    importlib.import_module("wd_mod_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("wd_mod_b")
    _write_zip(path, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("wd_mod_b").Y == 2


def test_workers_run_under_the_daemon(spark):
    @F.pandas_udf("string")
    def invalidate_name(s):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return s.map(lambda _: f"{f.__module__}.{f.__qualname__}")

    got = {r[0] for r in spark.range(4).select(invalidate_name("id")).collect()}
    if sys.version_info < (3, 13):
        assert got == {"spark_rapids_ml_spark.worker_daemon.invalidate_caches"}
    else:
        assert got == {"zipimport.zipimporter.invalidate_caches"}


def test_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    """The daemon module reaches the workers through
    spark.executorEnv.PYTHONPATH, not through the driver's cwd or env."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from spark_rapids_ml_spark.session import get_spark
        spark = get_spark("foreign-cwd", cpus=1)
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        print("RESULT", sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT [1, 2, 3]" in proc.stdout
