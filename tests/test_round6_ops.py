"""Semantic pins for the late round-6 operators beyond the hash
oracle: direction coverage and tolerance for the nearest as-of join,
window consistency for trailing distinct counts, batch-inference
parity with numpy, and the streaming data source's offset-replay
contract."""

from __future__ import annotations

import numpy as np

from spark_rapids_ml_spark.operators import sources_io
from spark_rapids_ml_spark.operators.timeseries import (
    events_sequence_pattern_match,
    join_asof_nearest_tolerance,
    window_trailing_distinct_users,
)
from spark_rapids_ml_spark.operators.udf_surface import (
    _MODEL_WEIGHTS,
    udf_iter_batch_inference,
)
from spark_rapids_ml_spark.sources.catalog import load
from spark_rapids_ml_spark.streaming.stream_queries import _make_stream_datasource

SF = "/root/testdata/sf0.001"


def test_asof_nearest_both_directions_within_tolerance(spark):
    rows = join_asof_nearest_tolerance(spark, SF).collect()
    assert rows
    # tolerance is a hard bound, and the testdata exercises BOTH
    # match directions (preceding and following clicks)
    assert all(abs(r.lag_us) <= 3_600_000_000 for r in rows)
    assert any(r.lag_us > 0 for r in rows), "no backward match exercised"
    assert any(r.lag_us < 0 for r in rows), "no forward match exercised"
    # one match per probe event
    assert len({r.event_id for r in rows}) == len(rows)


def test_trailing_distinct_window_consistency(spark):
    rows = window_trailing_distinct_users(spark, SF).collect()
    total_users = load(spark, SF, "events").select("user_id").distinct().count()
    for r in rows:
        assert 0 < r.n_active_1d <= r.n_active_7d <= total_users


def test_sequence_match_counts_consistent(spark):
    rows = events_sequence_pattern_match(spark, SF).collect()
    assert rows, "pattern should occur in the testdata"
    for r in rows:
        assert 1 <= r.n_users <= r.n_matches


def test_iter_udf_matches_numpy(spark):
    out = {r.vec_id: r.score for r in udf_iter_batch_inference(spark, SF).collect()}
    emb = load(spark, SF, "embeddings").orderBy("vec_id").limit(50).collect()
    w = np.asarray(_MODEL_WEIGHTS)
    for r in emb:
        expect = round(float(np.asarray(r.embedding, dtype=np.float64) @ w), 6)
        assert abs(out[r.vec_id] - expect) < 1e-9


def test_stream_datasource_offset_replay():
    """readBetweenOffsets must reproduce exactly the rows the original
    read() calls emitted for the same offset range — the exactly-once
    recovery contract, testable without a SparkSession."""
    cls = _make_stream_datasource()
    ds = cls(options={"n": "100", "chunk": "32"})
    reader = ds.simpleStreamReader("id bigint, bucket bigint, score bigint")
    seen, off = [], reader.initialOffset()
    for _ in range(10):
        rows, nxt = reader.read(off)
        rows = list(rows)
        if not rows and nxt == off:
            break
        # replay of this micro-batch from its offset pair is identical
        assert list(reader.readBetweenOffsets(off, nxt)) == rows
        seen.extend(rows)
        off = nxt
    assert [r[0] for r in seen] == list(range(100))


def test_manifest_pruning_skips_files(spark):
    """The manifest must actually prune: the selected file set for the
    3-month predicate is a strict subset of the range-clustered files."""
    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.operators.scale_patterns import (
        scale_manifest_file_pruning,
    )

    scale_manifest_file_pruning(spark, SF).collect()  # writes + reads
    path = sources_io._sink("orders_ranged", SF)
    files = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()
    )
    lo, hi = "1995-06-01", "1995-09-01"
    picked = [r for r in files if str(r.hi) >= lo and str(r.lo) < hi]
    assert len(files) > 1
    assert 0 < len(picked) < len(files), (
        f"pruning skipped nothing: {len(picked)}/{len(files)} files selected"
    )
