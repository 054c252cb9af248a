"""The IVF skeleton the ANN tiers share (operators/similarity.py).

Job counts: each query runs once at sf0.001 to build its persisted
index (and start the Python workers), then again in a query scope; the
second run's job count must not exceed the count pinned below, so
sharing the IVF steps between the tiers can never add a Spark job to any
of them. Streaming micro-batches run under their own job group, so the
stream query's count covers its batch jobs only.
"""

from __future__ import annotations

import shutil
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from spark_rapids_ml_spark.operators.similarity import (
    _index_tag,
    retrieval_rrf_filtered_fusion,
    sim_filtered_ivf_topk,
)
from spark_rapids_ml_spark.query_run import query_run, release_caches
from spark_rapids_ml_spark.registry import all_queries
from tests.conftest import SF_SMALL as SF

# jobs per query (local[8], second run) once a KMeans fit is one job; the
# tiers that train their quantizer in the run dropped 3 each (its seed
# collect and IVF_ITERS Lloyd jobs became one collective job)
MAX_JOBS = {
    "sim_ivf_topk": 14,
    "sim_quantized_topk": 16,
    "sim_ivf_persisted_probe": 16,
    "sim_filtered_ivf_topk": 19,
    "sim_pq_adc_topk": 13,
    "sim_ivf_pq_hybrid_topk": 17,
    "sim_ivf_sq_hybrid_topk": 20,
    "retrieval_rrf_filtered_fusion": 36,
    "stream_ann_rollback_probe": 24,
}


def _jobs(spark, name: str) -> int:
    fn = all_queries()[name].fn
    with query_run(spark, name):
        fn(spark, SF).collect()  # warm: index build, worker start
    with query_run(spark, name) as run:
        fn(spark, SF).collect()
    return len(run.job_ids)


@pytest.mark.parametrize("name", sorted(MAX_JOBS))
def test_ann_tier_job_count(spark, name):
    n = _jobs(spark, name)
    print(f"JOBS {name} {n}")
    assert n <= MAX_JOBS[name], f"{name}: {n} jobs > {MAX_JOBS[name]}"


@pytest.mark.parametrize(
    "query", [sim_filtered_ivf_topk, retrieval_rrf_filtered_fusion]
)
def test_filtered_probe_rejects_duplicate_doc_id(spark, query):
    """The filtered probe counts one document per vector. A repeated
    doc_id of a query vector (doc 6 passes the filter) would repeat
    that query and inflate the match count, so the shared filtered
    probe step raises, naming the id."""
    # the index database is named after the path: keep it identifier-safe
    sf = tempfile.mkdtemp(prefix="dupdoc_")
    try:
        for name in ("embeddings", "documents"):
            shutil.copy(f"{SF}/{name}.parquet", sf)
        docs = pq.read_table(f"{sf}/documents.parquet")
        dup = docs.filter(pc.equal(docs["doc_id"], 6))
        assert dup.num_rows == 1 and dup["lang"][0].as_py() == "en"
        pq.write_table(pa.concat_tables([docs, dup]), f"{sf}/documents.parquet")
        with pytest.raises(ValueError, match="duplicate doc_id 6 "):
            query(spark, sf)
    finally:
        release_caches()
        spark.sql(f"DROP DATABASE IF EXISTS simdb_{_index_tag(sf)} CASCADE")
        shutil.rmtree(sf)
