"""The query scope (``spark_rapids_ml_spark.query_run``).

- A scope frees exactly what was registered inside it: a nested scope
  and a scope open at the same time on another thread keep their cached
  frames when this one exits; the unscoped registry is freed only by
  ``release_caches()`` called outside any scope.
- It frees them also when the query raised, so ``harness.compare`` on a
  query that caches a frame and then fails leaves nothing persisted.
- ``release(df)`` frees one registered frame (a cached frame or a local
  checkpoint) at once, whichever thread registered it, and drops it
  from its registry, so the scope's exit does not free it again.
- Every job a query starts carries the scope's job group, including the
  commit jobs ``sink_lakehouse_lifecycle`` submits from a thread pool:
  the group's job count equals the job-ID delta across the query.
"""

from __future__ import annotations

import threading
import warnings

import pytest

from spark_rapids_ml_spark.harness import compare
from spark_rapids_ml_spark import query_run as qr
from spark_rapids_ml_spark.query_run import (
    _checkpoint_rdd,
    cache,
    checkpoint,
    query_run,
    release,
    release_caches,
)
from spark_rapids_ml_spark.registry import QuerySpec, all_queries
from tests.conftest import SF_SMALL as SF


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cached(spark, n: int) -> int:
    """Cache and materialize an n-row frame; the id of its new RDD."""
    before = _persisted(spark)
    cache(spark.range(n).selectExpr("id * 7 AS v")).count()
    (rdd,) = _persisted(spark) - before
    return rdd


def test_nested_scope_keeps_outer_frames(spark):
    with query_run(spark, "outer") as outer:
        a = _cached(spark, 10)
        with query_run(spark, "inner") as inner:
            b = _cached(spark, 11)
        assert b not in _persisted(spark)
        assert a in _persisted(spark)
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == outer.group
    assert a not in _persisted(spark)
    assert inner.job_ids and outer.job_ids
    assert not set(inner.job_ids) & set(outer.job_ids)


def test_concurrent_scopes_keep_each_others_frames(spark):
    # the threads take turns (one event per step), so each _cached sees
    # only its own new RDD; both scopes are open while the first closes
    cached: dict[str, object] = {}
    steps = [threading.Event() for _ in range(3)]
    errors: list[BaseException] = []

    def first():
        try:
            with query_run(spark, "first"):
                cached["first"] = _cached(spark, 12)
                steps[0].set()
                assert steps[1].wait(60)
        except BaseException as exc:  # noqa: BLE001 — reported by the main thread
            errors.append(exc)
        finally:
            steps[0].set()
            steps[2].set()

    def second():
        try:
            assert steps[0].wait(60)
            with query_run(spark, "second"):
                cached["second"] = _cached(spark, 13)
                steps[1].set()
                assert steps[2].wait(60)
                cached["second_alive"] = cached["second"] in _persisted(spark)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            steps[1].set()

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    assert cached["second_alive"], "closing one scope freed the other scope's frame"
    assert not {cached["first"], cached["second"]} & _persisted(spark)


def test_unscoped_registry_is_freed_outside_scopes_only(spark):
    a = _cached(spark, 14)
    with query_run(spark, "q"):
        release_caches()
        assert a in _persisted(spark)
    assert a in _persisted(spark)
    release_caches()
    assert a not in _persisted(spark)


def test_scope_frees_and_restores_when_the_query_raises(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "caller")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with query_run(spark, "raises"):
                a = _cached(spark, 15)
                raise RuntimeError("boom")
        assert a not in _persisted(spark)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_compare_frees_the_caches_of_a_failing_query(spark):
    def fails(spark, sf_dir):
        cache(spark.range(16)).count()
        raise RuntimeError("query failed after caching")

    before = _persisted(spark)
    for mode in ("digest", "pandas"):
        with pytest.raises(RuntimeError, match="after caching"):
            compare(spark, QuerySpec("fails_after_cache", fails, "SELECT 1"), SF, mode=mode)
    assert _persisted(spark) == before


def _registered(df) -> bool:
    with qr._LOCK:
        return any(f is df for reg in qr._OWNED.values() for f, _ in reg)


def test_release_frees_a_cached_frame_now(spark):
    with query_run(spark, "release-cache"):
        keep = cache(spark.range(17))
        keep.count()
        before = _persisted(spark)
        df = cache(spark.range(18).selectExpr("id * 5 AS v"))
        df.count()
        (rdd,) = _persisted(spark) - before
        release(df)
        assert rdd not in _persisted(spark)
        assert not _registered(df) and _registered(keep)
        release(df)  # already released: left as it is
        release(spark.range(3))  # never registered: left as it is
    assert not _registered(keep)


def test_release_frees_a_checkpoint_now(spark):
    jsc = spark.sparkContext._jsc.sc()
    with query_run(spark, "release-checkpoint"):
        ck = checkpoint(spark.range(1000).selectExpr("id * 3 AS y").localCheckpoint(eager=True))
        rdd_id = _checkpoint_rdd(ck).id()
        assert rdd_id in {i.id() for i in jsc.getRDDStorageInfo()}, "blocks not materialized"
        release(ck)
        assert rdd_id not in {i.id() for i in jsc.getRDDStorageInfo()}, "blocks not freed"
        assert not _registered(ck)


def test_release_frees_a_frame_registered_in_another_thread(spark):
    cached: dict[str, object] = {}
    registered, released = threading.Event(), threading.Event()
    errors: list[BaseException] = []

    def other():
        try:
            with query_run(spark, "other-thread"):
                before = _persisted(spark)
                cached["df"] = df = cache(spark.range(19).selectExpr("id * 11 AS v"))
                df.count()
                (cached["rdd"],) = _persisted(spark) - before
                registered.set()
                assert released.wait(60)
        except BaseException as exc:  # noqa: BLE001 — reported by the main thread
            errors.append(exc)
        finally:
            registered.set()

    t = threading.Thread(target=other)
    t.start()
    try:
        assert registered.wait(60)
        assert not errors, errors
        release(cached["df"])
        assert cached["rdd"] not in _persisted(spark)
        assert not _registered(cached["df"])
    finally:
        released.set()
        t.join(120)
    assert not errors, errors


def test_lifecycle_commit_jobs_carry_the_query_group(spark):
    name = "sink_lakehouse_lifecycle"
    fn = all_queries()[name].fn
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message="Spark session is not provided")
        with query_run(spark, name) as run:
            j0 = dag.nextJobId()
            fn(spark, SF).collect()
            j1 = dag.nextJobId()
    assert j1 - j0 > 5  # five commits plus the read-back
    assert len(run.job_ids) == j1 - j0
