"""The benchmark's own tests:

    python3 -m pytest perfbench/test_benchmark.py -q

``test_traced_attribution`` starts Spark and takes one to two minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import SELF_TEST, WORKLOADS  # noqa: E402


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER)
    assert [m["unit"] for m in spec["per_layer"]] == list(PER_LAYER.values())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _span(i, name, start, end, parent=None, query=0):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "query": query}


def test_self_times_charge_each_instant_once():
    spans = [
        _span(0, "query", 0.0, 10.0),
        _span(1, "query.build", 0.0, 4.0, 0),
        _span(2, "catalog.load", 1.0, 2.0, 1),
        _span(3, "query.action", 4.0, 9.0, 0),
        # two overlapping children from a thread pool
        _span(4, "ml.kmeans.fit", 5.0, 7.0, 3),
        _span(5, "ml.kmeans.fit", 6.0, 8.0, 3),
    ]
    selfs = tracing.self_times(spans, spans[0])
    assert selfs == pytest.approx(
        {"query": 1.0, "query.build": 3.0, "catalog": 1.0, "query.action": 2.0, "ml.kmeans": 3.0}
    )
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(ROOT, "spark_rapids_ml_spark")), reason="program not present"
)
def test_traced_attribution(tmp_path, monkeypatch):
    """A traced run at sf0.001 of a query with a thread pool and a query
    that fits KMeans: every job is attributed to a query, KMeans.fit
    nests in its query span, and self times are >= 0 and sum to each
    query's wall time."""
    import datagen
    import worker

    data = tmp_path / "data"
    datagen.write_catalog(str(data / "sf0.001"), 0.001)
    run_dir = tmp_path / "run"
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    monkeypatch.setitem(worker.WORKLOADS, SELF_TEST.name, SELF_TEST)
    monkeypatch.setenv("PYTHONPATH", ROOT)
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(run_dir / "local"))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.syspath_prepend(ROOT)
    out, spans_path = tmp_path / "result.json", tmp_path / "spans.json"
    worker.main([
        "--workload", SELF_TEST.name, "--seed", "1", "--seconds", "0", "--trace", "1",
        "--data", str(data), "--run-dir", str(run_dir), "--out", str(out),
        "--spans", str(spans_path),
    ])
    res = json.loads(out.read_text())
    trace = json.loads(spans_path.read_text())
    spans, records = trace["spans"], trace["records"]
    by_id = {s["id"]: s for s in spans}

    # 1. every job of the session is inside one query's job-id window
    owned = {j for r in records for j in range(r["j0"], r["j1"])}
    seen = {int(j) for j in trace["jobs"]}
    assert seen, "the event log recorded no jobs"
    assert seen <= owned, f"unattributed jobs: {sorted(seen - owned)}"

    # 2. KMeans.fit spans nest inside the query span that called them
    fits = [s for s in spans if s["name"] == "ml.kmeans.fit"]
    assert fits, "sim_ivf_pq_hybrid_topk ran no traced KMeans.fit"
    for s in fits:
        q = by_id[s["query"]]
        assert q["name"] == "query" and q["query_name"] == "sim_ivf_pq_hybrid_topk"
        assert q["start"] <= s["start"] <= s["end"] <= q["end"]
        p = s
        while p["parent"] is not None:
            p = by_id[p["parent"]]
        assert p["id"] == q["id"]

    # 3. self times are >= 0 and sum to the query span's wall time
    queries = [s for s in spans if s["name"] == "query"]
    assert {q["query_name"] for q in queries} == set(SELF_TEST.queries)
    for q in queries:
        selfs = tracing.self_times(spans, q)
        assert min(selfs.values()) >= 0
        assert sum(selfs.values()) == pytest.approx(q["end"] - q["start"], abs=1e-9)

    assert res["failed"] == 0, res["errors"]
    assert res["layers"]["ml.kmeans.fit_calls"] >= 1
    assert res["layers"]["sink.output_rows"] > 0
