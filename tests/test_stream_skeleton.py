"""The micro-batch replay skeleton the streaming queries share
(streaming/stream_queries.py): ``_replay`` stages, ``_run_stream`` runs
under a checkpoint it owns, ``_versioned_fold`` folds.

Checkpoints: every query below runs twice with ``_CHECKPOINT_ROOT``
pointed at an empty dir, which must be empty again after each run —
one query per sink kind (memory, foreachBatch, file sink, Python data
source writer and reader, versioned fold) and more.

Job counts: the second run's ``len(run.job_ids)`` under ``query_run``
must not exceed the count pinned below, the count of the same protocol
before the queries shared one skeleton (local[8], sf0.001). The four
queries that re-inferred the staged files' schema are pinned one job
lower per staging. Streaming micro-batches run under their own job
group, so a count covers the query's batch jobs only.
"""

from __future__ import annotations

import os
import re

import pytest

from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.registry import all_queries
from spark_rapids_ml_spark.sources.catalog import table_path
from spark_rapids_ml_spark.streaming import stream_queries as sq
from tests.conftest import SF_SMALL as SF

# jobs per query before the shared skeleton, same protocol (local[8])
PARENT_JOBS = {
    "stream_stateful_ewma": 3,
    "stream_tumbling_window": 3,
    "stream_foreachbatch_sink": 5,
    "stream_file_sink_exactly_once": 5,
    "stream_incremental_dedup_lsh": 11,
    "stream_python_datasource_reader": 3,
    "stream_python_datasource_writer": 4,
    "stream_cdf_apply_replica": 16,
    "stream_topk_heavy_hitters": 7,
    "stream_incremental_covariance": 7,
    "stream_cusum_monitor": 12,
    "stream_ivf_index_ingest": 27,
}

# no schema-inference job on the staged files any more; the IVF ingest's
# KMeans fit is one job (was: a seed collect plus one job per iteration)
MAX_JOBS = dict(
    PARENT_JOBS,
    stream_topk_heavy_hitters=6,
    stream_incremental_covariance=6,
    stream_cusum_monitor=11,
    stream_ivf_index_ingest=23,
)

_RUNS: dict[str, tuple[int, list[list[str]]]] = {}


def _runs(spark, tmp_path_factory, name: str) -> tuple[int, list[list[str]]]:
    """(jobs of the second run, checkpoint-root listing after each of
    the two runs) of query ``name``; run once per session."""
    if name not in _RUNS:
        root = str(tmp_path_factory.mktemp("checkpoints"))
        fn = all_queries()[name].fn
        saved, sq._CHECKPOINT_ROOT = sq._CHECKPOINT_ROOT, root
        left = []
        try:
            for _ in range(2):
                with query_run(spark, name) as run:
                    fn(spark, SF).collect()
                left.append(sorted(os.listdir(root)))
        finally:
            sq._CHECKPOINT_ROOT = saved
        _RUNS[name] = (len(run.job_ids), left)
    return _RUNS[name]


@pytest.mark.parametrize("name", sorted(MAX_JOBS))
def test_stream_query_frees_its_checkpoints(spark, tmp_path_factory, name):
    _, left = _runs(spark, tmp_path_factory, name)
    assert left == [[], []], f"{name} left checkpoints behind: {left}"


@pytest.mark.parametrize("name", sorted(MAX_JOBS))
def test_stream_query_job_count(spark, tmp_path_factory, name):
    n, _ = _runs(spark, tmp_path_factory, name)
    print(f"JOBS {name} {n}")
    assert n <= MAX_JOBS[name], f"{name}: {n} jobs > {MAX_JOBS[name]}"


def test_run_stream_that_raises_frees_checkpoint_and_conf(spark, monkeypatch, tmp_path):
    """A foreachBatch that raises fails the run with its own error; the
    checkpoint is still removed and the session's shuffle width is
    restored."""
    monkeypatch.setattr(sq, "_CHECKPOINT_ROOT", str(tmp_path))
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert width != sq._STATE_SHUFFLE["spark.sql.shuffle.partitions"]

    def fail(batch, batch_id):
        raise ValueError(f"micro-batch {batch_id} refused")

    with pytest.raises(Exception, match="micro-batch 0 refused"):
        sq._run_stream(sq._read_stream(spark, SF).writeStream.foreachBatch(fail))
    assert os.listdir(tmp_path) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def _package_sources():
    pkg = os.path.dirname(os.path.dirname(sq.__file__))
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                with open(path) as f:
                    yield os.path.relpath(path, pkg), f.read()


def test_one_copy_of_each_stream_step():
    """Spark-free: the run, the staging and the scratch roots each have
    one owner."""
    with open(sq.__file__) as f:
        src = f.read()
    assert src.count("trigger(availableNow=True)") == 1  # _run_stream
    assert src.count('"maxFilesPerTrigger"') <= 2  # _read_stream, _replay
    assert src.count("os.utime") <= 2  # _replay, _staged_outer_src
    # _run_stream, and the Python data source reader's drain
    assert src.count('"checkpointLocation"') <= 2
    assert src.count("state_v{batch_id") == 2  # _versioned_fold
    # the sf_dir path tag; the identifier tags of warehouse tables also
    # replace "." and are not paths
    path_tag = re.compile(r'sf_dir\.strip\("/"\)\.replace\("/", "_"\)(?!\.replace)')
    # a string literal naming the .tmp scratch root
    tmp_root = re.compile(r'"(?:[^"]*/)?\.tmp(?:/[^"]*)?"')
    roots, tags = [], []
    for rel, text in _package_sources():
        roots += [
            f"{rel}: {ln.split('=')[0].strip()}"
            for ln in text.splitlines()
            if tmp_root.search(ln)
        ]
        tags += [rel for _ in path_tag.finditer(text)]
    assert sorted(roots) == [
        "operators/sources_io.py: SINK_ROOT",
        "streaming/stream_queries.py: _STAGE_ROOT",
    ], roots
    assert sorted(tags) == ["operators/sources_io.py", "streaming/stream_queries.py"], tags


def test_outer_join_staging_from_relative_sf_dir(monkeypatch, tmp_path):
    """Spark-free: the outer-join staging from a relative ``sf_dir``
    links the events file by its absolute path, and replaces the
    dangling relative link an earlier staging step left there."""
    monkeypatch.setattr(sq, "_STAGE_ROOT", str(tmp_path))
    monkeypatch.chdir(os.path.dirname(SF))
    rel = os.path.basename(SF)
    d = sq._stage_dir(rel, "stream_src_outer")
    link = os.path.join(d, "events_0.parquet")
    os.makedirs(d)
    os.symlink(table_path(rel, "events"), link)  # relative: resolves against d
    assert not os.path.exists(link)
    assert sq._staged_outer_src(rel) == d
    assert os.readlink(link) == os.path.abspath(table_path(rel, "events"))
    assert os.path.samefile(link, table_path(SF, "events"))
    assert sorted(os.listdir(d)) == ["events_0.parquet", "sentinel_1.parquet", "sentinel_2.parquet"]
