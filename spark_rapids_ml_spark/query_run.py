"""One query's execution scope: its caches, checkpoints and job group.

Parity with the reference's self-closing profiler range (``NvtxRange``
is ``AutoCloseable``, NvtxRange.java:37-59, opened around each fit
stage at RapidsRowMatrix.scala:78,88,111,153,183,193)::

    with query_run(spark, "q1") as run:
        ...  # build the query and run its action
    run.wall_s, run.job_ids

On entry the scope sets a job group of its own, so every Spark job the
query runs is tagged with it. On exit, also when the query raised, it
frees the frames cached (``cache``) and the local checkpoints
registered (``checkpoint``) inside it, in reverse registration order,
restores the caller's job group and fills in the record.

``release(df)`` frees one registered frame before the scope closes.
An iterative loop registers each round and releases the previous round
once the next one has materialized, so a loop that raises mid-way
leaves nothing behind and one that finishes holds one round at a time.

Ownership follows the job group. A registration made on a thread whose
job group is an open scope's belongs to that scope; pool threads carry
the group when their target is wrapped with
``pyspark.inheritable_thread_target(spark)``. Two scopes, nested in one
thread or open at once in two threads, therefore never free each
other's frames. A registration made outside any scope goes to the
unscoped registry, which ``release_caches()`` called outside any scope
empties — what a caller that runs one query at a time (``perfbench``)
relies on. ``ContextCleaner`` remains the backstop for frames that stay
referenced lazily.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# the local properties SparkContext.setJobGroup writes
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

_LOCK = threading.Lock()
_SERIAL = itertools.count()
# job group of each open scope -> (frame, release call) of what it
# registered; None is the unscoped registry
_OWNED: dict[str | None, list[tuple[DataFrame, Callable[[], object]]]] = {None: []}


@dataclass
class QueryRun:
    """One scope's record. ``wall_s`` and ``job_ids`` (the jobs of its
    own group; an inner scope's jobs are the inner record's) are filled
    in on exit."""

    name: str
    group: str
    wall_s: float = 0.0
    job_ids: list[int] = field(default_factory=list)


def _owner() -> str | None:
    """The open scope this thread's job group names, else None."""
    sc = SparkContext._active_spark_context
    group = sc.getLocalProperty(_GROUP_PROPS[0]) if sc is not None else None
    return group if group in _OWNED else None


def _register(df: DataFrame, free: Callable[[], object]) -> DataFrame:
    owner = _owner()
    with _LOCK:
        _OWNED.get(owner, _OWNED[None]).append((df, free))
    return df


def _release(owner: str | None, close: bool = False) -> None:
    with _LOCK:
        todo = _OWNED.pop(owner, [])
        if not close:
            _OWNED[owner] = []
    for _, free in reversed(todo):
        free()


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, freed by ``release`` or when the current scope closes."""
    df = df.cache()
    return _register(df, df.unpersist)


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a localCheckpoint'ed DataFrame's blocks
    (the LogicalRDD plan's rdd). ``Dataset.unpersist()`` is a no-op
    for these (checkpoint blocks are not CacheManager entries):
    unpersisting this RDD is what frees the storage, after which the
    DataFrame cannot recompute (lineage was cut at the checkpoint)."""
    return df._jdf.queryExecution().analyzed().rdd()


def checkpoint(df: DataFrame) -> DataFrame:
    """Register a localCheckpoint'ed frame so its blocks are freed by
    ``release`` or with the current scope's caches. One-shot:
    materialize every consumer before the release."""
    rdd = _checkpoint_rdd(df)
    return _register(df, lambda: rdd.unpersist(False))


def release(df: DataFrame) -> None:
    """Free ``df``, registered with ``cache`` or ``checkpoint``, now and
    drop it from whichever registry holds it (any scope, any thread).
    A frame not registered, or already released, is left as it is."""
    with _LOCK:
        todo = [free for reg in _OWNED.values() for f, free in reg if f is df]
        for reg in _OWNED.values():
            reg[:] = [(f, free) for f, free in reg if f is not df]
    for free in todo:
        free()


def release_caches() -> None:
    """Free what the current scope registered so far; outside any scope,
    what was registered outside any scope."""
    _release(_owner())


@contextlib.contextmanager
def query_run(spark: SparkSession, name: str) -> Iterator[QueryRun]:
    """Run the enclosed block as query ``name`` (module docstring)."""
    sc = spark.sparkContext
    run = QueryRun(name, f"{name}#{next(_SERIAL)}")
    prev = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    with _LOCK:
        _OWNED[run.group] = []
    sc.setJobGroup(run.group, name)
    t0 = time.perf_counter()
    try:
        yield run
    finally:
        run.wall_s = time.perf_counter() - t0
        try:
            _release(run.group, close=True)
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            # job-start events reach the status store asynchronously
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            run.job_ids = sorted(sc.statusTracker().getJobIdsForGroup(run.group))
