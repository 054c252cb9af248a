"""Iterative loops and per-batch lineage cuts free what they persist.

Every loop (BFS, label propagation, HITS, modularity and the
distributed components of ``dedup_duplicate_clusters``) registers each
round with ``query_run.cache``/``checkpoint`` and releases the previous
round once the next one has materialized. A loop whose 2nd
``localCheckpoint`` raises therefore leaves no persistent RDD behind
once its ``query_run`` scope closed. k-core peeling runs no Spark loop:
it persists nothing at all. The streaming queries that cut a
micro-batch's lineage free the cut when their ``foreachBatch`` function
returns, so a finished run leaves none either.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from spark_rapids_ml_spark.operators import graph
from spark_rapids_ml_spark.operators.dedup import (
    _components_distributed,
    dedup_minhash_lsh_pairs,
)
from spark_rapids_ml_spark import query_run as qr
from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.streaming import stream_queries
from tests.conftest import SF_SMALL as SF


def _components(spark, sf_dir):
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _components_distributed(spark, pairs)


LOOPS = {
    "bfs": graph.graph_bfs_shortest_path,
    "lpa": graph.graph_label_propagation,
    "hits": graph.graph_hits_hubs_authorities,
    "modularity": graph.graph_community_modularity,
    "components": _components,
}


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_raising_mid_way_leaves_nothing_persistent(spark, monkeypatch, name):
    # pyspark.sql.DataFrame is the facade; the classic class is what runs
    real = ClassicDataFrame.localCheckpoint
    calls = itertools.count(1)

    def second_raises(self, *args, **kwargs):
        if next(calls) == 2:
            raise RuntimeError("2nd localCheckpoint failed")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", second_raises)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="2nd localCheckpoint failed"):
        with query_run(spark, name):
            LOOPS[name](spark, SF).collect()
    left = _persisted(spark) - before
    assert not left, f"{name} left persistent RDDs {sorted(left)} after its scope"


def test_kcore_persists_nothing(spark, monkeypatch):
    # the peel runs on the driver over one Arrow hop of the edge slice:
    # no round is cached, checkpointed or left behind
    real = ClassicDataFrame.localCheckpoint
    calls, registered = [], []

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    real_register = qr._register

    def recorded(df, free):
        registered.append(df)
        return real_register(df, free)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counted)
    monkeypatch.setattr(qr, "_register", recorded)
    before = _persisted(spark)
    with query_run(spark, "graph_kcore_peeling"):
        graph.graph_kcore_peeling(spark, SF).collect()
        during = _persisted(spark) - before
    assert not calls, f"{len(calls)} localCheckpoint call(s)"
    assert not registered, f"{len(registered)} frame(s) registered with cache/checkpoint"
    assert not during, f"persistent RDDs {sorted(during)} inside the scope"
    assert not _persisted(spark) - before


@pytest.mark.parametrize("name", ["stream_incremental_dedup_lsh", "stream_cdf_apply_replica"])
def test_stream_batch_cuts_are_freed(spark, name):
    before = _persisted(spark)
    with query_run(spark, name):
        getattr(stream_queries, name)(spark, SF).collect()
    left = _persisted(spark) - before
    assert not left, f"{name} left persistent RDDs {sorted(left)} after its scope"
