"""Streaming semantics beyond the single-batch oracle checks:

- multi-micro-batch incremental processing (maxFilesPerTrigger=1 over
  a multi-file source) must converge to the batch answer;
- append-mode watermarking must actually DROP late data that arrives
  after the watermark has passed (constructed out-of-order files).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_rapids_ml_spark.operators import sources_io

TMP = "/root/repo/.tmp/stream_sem"


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if "ts" in pdf.columns:
        # write microsecond timestamps: ns-precision parquet would read
        # back as raw longs under the session's nanosAsLong setting
        pdf = pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
    pdf.to_parquet(path, index=False)


@pytest.fixture()
def multi_file_source(spark):
    """events split over 4 files (by event_id range), timestamps in
    microseconds to sidestep the ns issue."""
    d = f"{TMP}/multi_{uuid.uuid4().hex[:8]}"
    from spark_rapids_ml_spark.sources.catalog import normalize_event_ts

    # normalize whatever encoding the generator used (int64-ns legacy
    # or timestamp[us] NTZ) instead of assuming raw nanos
    src = normalize_event_ts(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    pdf = src.select("event_id", "ts", "user_id", "event_type", "value").toPandas()
    for i in range(4):
        _write_parquet(pdf[pdf.event_id % 4 == i], f"{d}/part{i}.parquet")
    yield d, pdf
    shutil.rmtree(d, ignore_errors=True)


def test_incremental_multibatch_equals_batch(spark, multi_file_source):
    d, pdf = multi_file_source
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # forces 4 micro-batches
        .parquet(d)
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None
    got = {r["event_type"]: r["n"] for r in spark.table(name).collect()}
    expected = pdf.groupby("event_type").size().to_dict()
    assert got == expected


def test_watermark_drops_late_data(spark):
    """file 1: events up to 12:00 (watermark advances to 11:00);
    file 2: a late event at 09:00 → must be EXCLUDED from its window
    in append mode, while a fresh event is included."""
    d = f"{TMP}/late_{uuid.uuid4().hex[:8]}"
    base = pd.Timestamp("2024-03-01 08:00:00")
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [base, base + pd.Timedelta("1h"), base + pd.Timedelta("4h")],  # 8,9,12
            "value": [1.0, 1.0, 1.0],
        }
    )
    f2 = pd.DataFrame(
        {
            "event_id": [4, 5],
            # late: 09:30 (watermark is 11:00 after file 1) / fresh: 12:30
            "ts": [base + pd.Timedelta("1.5h"), base + pd.Timedelta("4.5h")],
            "value": [10.0, 1.0],
        }
    )
    _write_parquet(f1, f"{d}/f1.parquet")
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → TZ for watermark
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{d}/ckpt")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # wait for file 1 to be processed, then drop file 2 in
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("numInputRows", 0) >= 0 and p.get("batchId", -1) >= 1:
                break
            time.sleep(0.3)
        _write_parquet(f2, f"{d}/f2.parquet")
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = {
                r["window"]["start"].hour: (r["n"], r["v"])
                for r in spark.table(name).collect()
            }
            if 12 in rows:  # the 12:00 window finalized
                break
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(d, ignore_errors=True)
    rows = {
        r["window"]["start"].hour: (r["n"], r["v"]) for r in spark.table(name).collect()
    }
    # the 09:00 window must NOT contain the late event (v would be 11.0)
    assert rows.get(9) == (1, 1.0), rows
    assert rows.get(8) == (1, 1.0), rows


def test_event_time_timeout_evicts_state(spark):
    """EventTimeTimeout + state.remove() is the bounded-state pattern
    SCALING.md prescribes for keyed state that must not grow with the
    key space: an idle key must (1) fire its timeout once the
    watermark passes, (2) actually LOSE its store entry — re-arriving
    data starts from fresh state, not the old running count."""
    import time

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    d = f"{TMP}/evict_{uuid.uuid4().hex[:8]}"
    base = pd.Timestamp("2024-03-01 08:00:00")
    # f1: user 1 (2 events, idle afterwards) + user 2; f2 advances the
    # watermark past user 1's timeout; f3 re-touches user 1 AFTER the
    # eviction has been observed
    f1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": [base, base + pd.Timedelta("10min"), base + pd.Timedelta("30min")],
        }
    )
    f2 = pd.DataFrame({"user_id": [2], "ts": [base + pd.Timedelta("4h")]})      # 12:00
    f3 = pd.DataFrame({"user_id": [1], "ts": [base + pd.Timedelta("4.5h")]})    # 12:30
    _write_parquet(f1, f"{d}/f1.parquet")

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # REAL eviction; -1 marks the farewell row
            yield pd.DataFrame({"user_id": [key[0]], "n": [-1]})
            return
        n = state.get[0] if state.exists else 0
        mx_ms = 0
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx_ms = max(mx_ms, int(pdf["ts"].max().value // 1_000_000))
        state.update((n,))
        # evict after 2h of event-time silence
        state.setTimeoutTimestamp(mx_ms + 2 * 3600 * 1000)
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    stateful = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
        )
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stateful.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{d}/ckpt")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def rows():
        return [(r["user_id"], r["n"]) for r in spark.table(name).collect()]

    try:
        deadline = time.time() + 30
        while time.time() < deadline and (1, 2) not in rows():
            time.sleep(0.3)
        assert (1, 2) in rows(), f"initial state missing: {rows()}"
        _write_parquet(f2, f"{d}/f2.parquet")  # watermark -> 11:00 > user 1 timeout
        deadline = time.time() + 30
        while time.time() < deadline and (1, -1) not in rows():
            time.sleep(0.3)
        assert (1, -1) in rows(), f"timeout never fired: {rows()}"
        _write_parquet(f3, f"{d}/f3.parquet")  # user 1 returns after eviction
        deadline = time.time() + 30
        while time.time() < deadline and (1, 1) not in rows():
            time.sleep(0.3)
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(d, ignore_errors=True)
    got = rows()
    # fresh state after eviction: the re-arrival counts from 1 — a
    # surviving store entry would have produced (1, 3)
    assert (1, 1) in got, f"state not evicted (no fresh restart): {got}"
    assert (1, 3) not in got, f"state survived eviction: {got}"


def test_staged_sentinel_schema_matches_source():
    """Watermark-sentinel files written by _staged_outer_src must carry
    the SAME parquet schema as the source events file — the stream
    reads with the batch-inferred schema, so any encoding drift (e.g.
    int64-ns sentinels against a timestamp[us] source) crashes
    micro-batch 2 with PARQUET_COLUMN_DATA_TYPE_MISMATCH. Also pins
    the staleness guard: a cached sentinel written under a different
    ts encoding must be rewritten, not reused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_rapids_ml_spark.sources.catalog import table_path
    from spark_rapids_ml_spark.streaming.stream_queries import _staged_outer_src

    sf_dir = "/root/testdata/sf0.001"
    d = _staged_outer_src(sf_dir)
    src = pq.read_schema(table_path(sf_dir, "events"))
    for i in (1, 2):
        sent = pq.read_schema(f"{d}/sentinel_{i}.parquet")
        assert sent.field("ts").type == src.field("ts").type, (
            f"sentinel_{i} ts encoding {sent.field('ts').type} != "
            f"source {src.field('ts').type}"
        )
        assert set(sent.names) == set(src.names)

    # corrupt the cache with a wrong-encoding sentinel: the next call
    # must detect and rewrite it
    bad = pa.table(
        {
            "event_id": pa.array([-99], pa.int64()),
            "ts": pa.array([0], pa.int64()),
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    assert bad.schema.field("ts").type != src.field("ts").type
    pq.write_table(bad, f"{d}/sentinel_2.parquet")
    d2 = _staged_outer_src(sf_dir)
    assert pq.read_schema(f"{d2}/sentinel_2.parquet").field("ts").type == src.field("ts").type

    # sentinels must sit beyond the source horizon (they exist to push
    # the watermark past every real row) — in the SOURCE's units
    ts_max = pq.read_table(table_path(sf_dir, "events"), columns=["ts"]).column("ts")
    import pyarrow.compute as pc

    src_max = pc.max(ts_max.cast(pa.int64())).as_py()
    s1_min = pc.min(
        pq.read_table(f"{d}/sentinel_1.parquet", columns=["ts"]).column("ts").cast(pa.int64())
    ).as_py()
    assert s1_min > src_max


def test_incremental_dedup_batch_boundary_invariance(spark, monkeypatch):
    """The emitted dup_of must be invariant to micro-batch boundaries:
    every source of witnesses (persisted index, earlier batches'
    appended minima, within-batch window) contributes its MINIMUM
    earlier sharer, and min composes — so replaying the same stream as
    1 batch, 4 batches, or 7 batches yields byte-identical verdicts."""
    from spark_rapids_ml_spark.streaming import stream_queries as sq

    sf = "/root/testdata/sf0.001"
    results = {}
    for n_batches in (1, 4, 7):
        monkeypatch.setattr(sq, "DEDUP_STREAM_BATCHES", n_batches)
        rows = sq.stream_incremental_dedup_lsh(spark, sf).collect()
        results[n_batches] = [tuple(r) for r in rows]
    assert results[1] == results[4] == results[7]
    # and the stream actually found something (non-degenerate corpus)
    assert any(r[2] == 1 for r in results[1])


def test_cdf_apply_replica_batch_boundary_invariance(spark, monkeypatch):
    """The CDC replica's final state must be invariant to feed batch
    boundaries (key-ranged staging keeps a key's pre/post pair in one
    batch; each apply is per-key): replaying the same feed as 1 batch
    or 5 batches yields an identical replica, and that replica equals
    the independently computed source v2 row-for-row."""
    import os

    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.operators.sources_io import (
        CDF_DELETE_MOD,
        CDF_PRICE_BUMP,
        CDF_UPDATE_MOD,
    )
    from spark_rapids_ml_spark.sources.catalog import load
    from spark_rapids_ml_spark.streaming import stream_queries as sq

    sf = "/root/testdata/sf0.001"
    results = {}
    for n_batches in (1, 5):
        monkeypatch.setattr(sq, "CDC_APPLY_BATCHES", n_batches)
        rows = sq.stream_cdf_apply_replica(spark, sf).collect()
        results[n_batches] = [tuple(r) for r in rows]
        # snapshot the full final replica for the row-level check
        tag = sf.strip("/").replace("/", "_")
        root = f"/root/repo/.tmp/stream_cdc/{tag}"
        versions = sorted(
            int(d.rsplit("_v", 1)[1])
            for d in os.listdir(root)
            if d.startswith("replica_v")
        )
        replica = spark.read.parquet(
            os.path.join(root, f"replica_v{versions[-1]}")
        )
        o = load(spark, sf, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("prio"),
            F.col("o_totalprice").alias("price"),
        )
        v2 = o.where(F.col("k") % CDF_DELETE_MOD != 0).withColumn(
            "price",
            F.when(
                F.col("k") % CDF_UPDATE_MOD == 0,
                F.round(
                    F.col("price").cast("decimal(18,2)")
                    * F.lit(CDF_PRICE_BUMP).cast("decimal(4,2)"),
                    2,
                ).cast("double"),
            ).otherwise(F.col("price")),
        )
        assert replica.exceptAll(v2).count() == 0
        assert v2.exceptAll(replica).count() == 0
    assert results[1] == results[5]


def test_ivf_ingest_batch_boundary_invariance(spark, monkeypatch):
    """The incrementally-built IVF index must be invariant to
    micro-batch boundaries: cell assignment is a pure per-row function
    of the frozen bootstrap centroids, so replaying the corpus as 1 or
    4 batches must produce byte-identical index CONTENT (every
    (vec_id, cell) pair) and identical probe results."""
    import glob

    from spark_rapids_ml_spark.streaming import stream_queries as sq

    sf = "/root/testdata/sf0.001"
    index_dir = sources_io._sink("ivf_ingest_index", sf)
    results, contents, n_files = {}, {}, {}
    for n_batches in (1, 4):
        monkeypatch.setattr(sq, "IVFSTREAM_FILES", n_batches)
        rows = sq.stream_ivf_index_ingest(spark, sf).collect()
        results[n_batches] = [tuple(r) for r in rows]
        contents[n_batches] = sorted(
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(index_dir).select("vec_id", "cell").collect()
        )
        n_files[n_batches] = len(
            glob.glob(f"{index_dir}/cell=*/*.parquet")
        )
    assert results[1] == results[4]
    assert contents[1] == contents[4]
    assert len(contents[1]) == 500  # every corpus vector indexed exactly once
    # the 4-batch run genuinely appended across multiple commits
    assert n_files[4] > n_files[1]


def test_ann_lifecycle_below_threshold_keeps_v1_quantizer(spark):
    """The drift-retrain lifecycle's gate must be a real gate: with no
    injected drift (shift=0.0, the natural even/odd split) total PSI
    stays below PSI_RETRAIN_MICRO, the retrained flag is 0, and the
    SERVING quantizer is the v1 reference-trained model byte-for-byte
    (np.array_equal on the centroid matrix) — retraining must not
    happen silently."""
    import numpy as np

    from spark_rapids_ml_spark.ml.kmeans import KMeans
    from spark_rapids_ml_spark.operators.similarity import (
        IVF_ITERS,
        PSI_RETRAIN_MICRO,
        ivf_n_cells,
    )
    from spark_rapids_ml_spark.sources.catalog import load
    from spark_rapids_ml_spark.streaming.stream_queries import _ann_lifecycle

    sf = "/root/testdata/sf0.001"
    rows = _ann_lifecycle(spark, sf, shift=0.0).collect()
    assert rows, "lifecycle produced no probe results"
    assert all(r["retrained"] == 0 for r in rows)
    assert all(r["psi_micro"] <= PSI_RETRAIN_MICRO for r in rows)
    served = _ann_lifecycle.last_serving_model

    # independent v1 training: identical inputs -> identical centroids
    ed = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ref = ed.where(F.col("vec_id") % 2 == 0)
    v1 = KMeans(
        k=ivf_n_cells(ref.count()), feature_col="emb", id_col="vec_id",
        max_iter=IVF_ITERS, tol=0.0,
    ).fit(ref)
    assert np.array_equal(served.centroids, v1.centroids)


def test_ann_lifecycle_above_threshold_retrains(spark):
    """With the declared drift injected, the gate fires: retrained=1,
    PSI above the threshold, and the serving quantizer is NOT the v1
    model (it was retrained on the shifted current window)."""
    import numpy as np

    from spark_rapids_ml_spark.operators.similarity import PSI_RETRAIN_MICRO
    from spark_rapids_ml_spark.streaming.stream_queries import (
        _ann_lifecycle,
        stream_ann_drift_retrain_lifecycle,
    )

    sf = "/root/testdata/sf0.001"
    rows = stream_ann_drift_retrain_lifecycle(spark, sf).collect()
    assert rows
    assert all(r["retrained"] == 1 for r in rows)
    assert all(r["psi_micro"] > PSI_RETRAIN_MICRO for r in rows)
    served = _ann_lifecycle.last_serving_model
    # retrained on the SHIFTED window: centroids live in the shifted
    # cloud (mean coordinate ~ +1), nothing like the reference model's
    assert float(np.mean(served.centroids)) > 0.5


def test_ann_incremental_append_writes_only_delta(spark):
    """Round-13 incremental-maintenance pins, all on one no-drift run:

    1. DELTA-ONLY WRITES — the base dir's parquet file set (path,
       size, mtime) is byte-identical before and after the append
       tick; the delta dir holds exactly the delta window's rows.
    2. VERSIONED SERVING — manifest v1 = [base], manifest v2 =
       [base, delta], CURRENT points at 2, v1 manifest retained
       (rollback is re-pointing CURRENT).
    3. REBUILD EQUIVALENCE — the probe over base ∪ delta is row-equal
       to a probe over a from-scratch rebuild of the same grown
       corpus under the same quantizer: appending lost nothing.
    """
    import glob
    import os

    from spark_rapids_ml_spark.operators.similarity import ivf_nprobe
    from spark_rapids_ml_spark.sources.catalog import load
    from spark_rapids_ml_spark.streaming.stream_queries import (
        _ann_index_current,
        _ann_lifecycle,
        _probe_cell_index,
        _stream_build_cell_index,
    )

    sf = "/root/testdata/sf0.001"
    rows = _ann_lifecycle(spark, sf, shift=0.0).collect()
    root = _ann_lifecycle.last_index_root
    model = _ann_lifecycle.last_serving_model

    # 2. versioned serving: CURRENT -> v2 = [base, delta]; v1 retained
    import json
    cur_man = _ann_index_current(root)
    assert cur_man["version"] == 2 and cur_man["retrained"] == 0
    assert cur_man["dirs"] == ["data_base", "data_delta_v2"]
    with open(os.path.join(root, "manifest_v1.json")) as f:
        v1_man = json.load(f)
    assert v1_man["dirs"] == ["data_base"]

    # 1. delta-only writes: base files committed before the append
    # (their mtimes predate every delta file's) and never rewritten;
    # base dir holds exactly the even ids, delta dir the odd ids
    base_files = sorted(glob.glob(f"{root}/data_base/cell=*/*.parquet"))
    delta_files = sorted(glob.glob(f"{root}/data_delta_v2/cell=*/*.parquet"))
    assert base_files and delta_files
    newest_base = max(os.path.getmtime(p) for p in base_files)
    oldest_delta = min(os.path.getmtime(p) for p in delta_files)
    assert newest_base <= oldest_delta  # append touched no base file
    base_ids = {r["vec_id"] for r in
                spark.read.parquet(f"{root}/data_base").select("vec_id").collect()}
    delta_ids = {r["vec_id"] for r in
                 spark.read.parquet(f"{root}/data_delta_v2").select("vec_id").collect()}
    n = load(spark, sf, "embeddings").count()
    assert base_ids == {i for i in range(n) if i % 2 == 0}
    assert delta_ids == {i for i in range(n) if i % 2 == 1}

    # 3. rebuild equivalence: from-scratch index of the grown corpus
    # under the SAME quantizer serves the identical probe result
    import pyspark.sql.functions as F

    ed = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    rebuild_dir = f"{root}/data_rebuild_check"
    stage = f"/root/repo/.tmp/stream_src_ivf/append_equiv_check"
    _stream_build_cell_index(spark, ed, model, stage, rebuild_dir)
    qv = ed.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    n_probe = ivf_nprobe(len(model.centroids))
    got_appended = _probe_cell_index(
        spark, qv, model, [f"{root}/data_base", f"{root}/data_delta_v2"], n_probe
    ).collect()
    got_rebuilt = _probe_cell_index(spark, qv, model, rebuild_dir, n_probe).collect()
    key = lambda r: (r["qid"], r["rk"])
    assert sorted(map(tuple, got_appended), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, got_rebuilt), key=lambda t: (t[0], t[3])
    )
    assert rows  # the declared query itself produced probe output


def test_ann_lifecycle_retrain_branch_still_rebuilds(spark):
    """The drift branch must still FULL-REBUILD: manifest v2 names the
    single rebuilt dir (not base+delta), retrained=1, and the rebuilt
    index covers the whole grown corpus."""
    from spark_rapids_ml_spark.streaming.stream_queries import (
        ANN_DRIFT_SHIFT,
        _ann_index_current,
        _ann_lifecycle,
    )
    from spark_rapids_ml_spark.sources.catalog import load

    sf = "/root/testdata/sf0.001"
    _ann_lifecycle(spark, sf, shift=ANN_DRIFT_SHIFT).collect()
    root = _ann_lifecycle.last_index_root
    man = _ann_index_current(root)
    assert man["version"] == 2 and man["retrained"] == 1
    assert man["dirs"] == ["data_rebuild_v2"]
    n = load(spark, sf, "embeddings").count()
    assert spark.read.parquet(f"{root}/data_rebuild_v2").count() == n


def test_ann_compaction_tick_pins(spark):
    """Round-13 delete/compaction pins, all on one run of
    stream_ann_compaction_tick at sf0.001:

    1. PHYSICAL COMPACTION — the v4 dir holds exactly the surviving
       corpus (every base ∪ delta id except the tombstoned ones, each
       exactly once), and each cell compacted into ONE data file (the
       repartition-by-cell file merge IS the point of the tick).
    2. VIEW EQUIVALENCE — the query's served output (from its internal
       v4) row-equals a probe over an independently materialized
       base ∪ delta MINUS tombstones view under the same quantizer:
       compaction lost nothing and dropped exactly the deletes.
    3. ROLLBACK VIABILITY — base and delta file sets are byte-identical
       (path + size) to the pre-compaction witness the query captured;
       manifests v1..v4 all on disk; CURRENT -> 4; the v3 manifest
       carries the tombstone dir; v4 records compacted_from=3.
    """
    import glob
    import json
    import os
    import uuid as _uuid

    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.similarity import ivf_nprobe
    from spark_rapids_ml_spark.sources.catalog import load
    from spark_rapids_ml_spark.streaming.stream_queries import (
        _ann_index_current,
        _probe_cell_index,
        stream_ann_compaction_tick,
    )

    sf = "/root/testdata/sf0.001"
    rows = stream_ann_compaction_tick(spark, sf).collect()
    assert rows, "compaction tick produced no probe results"
    root = stream_ann_compaction_tick.last_index_root
    model = stream_ann_compaction_tick.last_serving_model

    n = load(spark, sf, "embeddings").count()
    tomb_ids = {i for i in range(n) if i % 7 == 3}
    surviving = set(range(n)) - tomb_ids
    assert all(r["n_before"] == n for r in rows)
    assert all(r["n_tombstoned"] == len(tomb_ids) for r in rows)
    assert all(r["n_after"] == len(surviving) for r in rows)

    # 1. physical compaction: exact surviving id set, once each; and
    # one data file per cell (small files merged)
    v4 = spark.read.parquet(f"{root}/data_compact_v4")
    v4_ids = [r["vec_id"] for r in v4.select("vec_id").collect()]
    assert len(v4_ids) == len(surviving)
    assert set(v4_ids) == surviving
    cell_dirs = glob.glob(f"{root}/data_compact_v4/cell=*")
    assert cell_dirs
    for d in cell_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    # 3. rollback viability: old dirs untouched, every version present
    post_stats = {}
    for d in ("data_base", "data_delta_v2"):
        droot = os.path.join(root, d)
        for dirpath, _dirs, files in os.walk(droot):
            for fn in files:
                p = os.path.join(dirpath, fn)
                post_stats[os.path.relpath(p, root)] = os.path.getsize(p)
    assert post_stats == stream_ann_compaction_tick.last_pre_compaction_stats
    cur_man = _ann_index_current(root)
    assert cur_man["version"] == 4
    assert cur_man["dirs"] == ["data_compact_v4"]
    assert cur_man["compacted_from"] == 3
    with open(os.path.join(root, "manifest_v3.json")) as f:
        v3_man = json.load(f)
    assert v3_man["tombstones"] == "tombstones_v3"
    assert v3_man["dirs"] == ["data_base", "data_delta_v2"]
    for v in (1, 2, 3, 4):
        assert os.path.exists(os.path.join(root, f"manifest_v{v}.json"))

    # 2. view equivalence: independent materialization of the v3 view
    # minus tombstones, probed under the same quantizer
    base = spark.read.parquet(f"{root}/data_base")
    delta = spark.read.parquet(f"{root}/data_delta_v2")
    tset = spark.read.parquet(f"{root}/tombstones_v3")
    view = base.unionByName(delta).join(tset, "vec_id", "left_anti")
    check_dir = f"{root}/data_view_check_{_uuid.uuid4().hex[:6]}"
    (view.repartition("cell").write.mode("overwrite")
         .partitionBy("cell").parquet(check_dir))
    ed = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    qv = ed.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    got_view = _probe_cell_index(
        spark, qv, model, check_dir, ivf_nprobe(len(model.centroids))
    ).collect()
    served = [(r["qid"], r["vec_id"], r["cosine"], r["rk"]) for r in rows]
    viewed = [(r["qid"], r["vec_id"], r["cosine"], r["rk"]) for r in got_view]
    assert served == viewed


def test_ann_rollback_is_pointer_only_and_reversible(spark):
    """Rollback pins (round 13): after stream_ann_rollback_probe,

    1. CURRENT points at v1 but the v2 manifest AND delta dir remain
       on disk (rollback destroyed nothing);
    2. the rollback wrote no new manifest (exactly v1 and v2 exist);
    3. ROLL-FORWARD is the same O(1) re-point: re-pointing CURRENT at
       v2 and probing serves the base ∪ delta view — row-equal to a
       probe over those dirs taken directly — and rolling back again
       reproduces the declared query's own v1 output.
    """
    import os

    import pyspark.sql.functions as F

    from spark_rapids_ml_spark.operators.similarity import ivf_nprobe
    from spark_rapids_ml_spark.sources.catalog import load
    from spark_rapids_ml_spark.streaming.stream_queries import (
        _ann_index_current,
        _ann_index_rollback,
        _probe_cell_index,
        stream_ann_rollback_probe,
    )

    sf = "/root/testdata/sf0.001"
    rows = stream_ann_rollback_probe(spark, sf).collect()
    assert rows and all(r["served_version"] == 1 for r in rows)
    root = stream_ann_rollback_probe.last_index_root
    model = stream_ann_rollback_probe.last_serving_model

    # 1 + 2: pointer-only, nothing destroyed, no extra manifest
    assert _ann_index_current(root)["version"] == 1
    assert os.path.exists(os.path.join(root, "manifest_v2.json"))
    assert os.path.isdir(os.path.join(root, "data_delta_v2"))
    manifests = sorted(
        f for f in os.listdir(root) if f.startswith("manifest_v")
    )
    assert manifests == ["manifest_v1.json", "manifest_v2.json"]

    # 3: roll forward -> v2 view serves base + delta
    _ann_index_rollback(root, 2)
    man2 = _ann_index_current(root)
    assert man2["version"] == 2
    ed = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    qv = ed.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    n_probe = ivf_nprobe(len(model.centroids))
    via_pointer = _probe_cell_index(
        spark, qv, model, [f"{root}/{d}" for d in man2["dirs"]], n_probe
    ).collect()
    direct = _probe_cell_index(
        spark, qv, model, [f"{root}/data_base", f"{root}/data_delta_v2"], n_probe
    ).collect()
    assert [tuple(r) for r in via_pointer] == [tuple(r) for r in direct]

    # ...and back: the v1 view again, identical to the query's output
    _ann_index_rollback(root, 1)
    again = _probe_cell_index(
        spark, qv, model,
        [f"{root}/{d}" for d in _ann_index_current(root)["dirs"]], n_probe,
    ).collect()
    served = [(r["qid"], r["vec_id"], r["cosine"], r["rk"]) for r in rows]
    got = [(r["qid"], r["vec_id"], r["cosine"], r["rk"]) for r in again]
    assert served == got
