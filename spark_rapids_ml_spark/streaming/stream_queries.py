"""Structured Streaming surface over the events table.

Each declared query actually runs a streaming pipeline and returns the
materialized result. The DuckDB oracle is the equivalent *batch*
query, i.e. every entry is a stream-vs-batch equivalence check (the
strongest determinism oracle streaming admits).

Every pipeline is built from the same four steps:

- stage: ``_read_stream`` streams the events file as it is;
  ``_replay`` writes any frame as N key-ranged parquet files and
  streams them back one file per micro-batch, in part order;
- stream: the query's own operators over that source;
- run: ``_run_stream`` runs the writer with trigger(availableNow) to
  completion under a checkpoint it owns and removes
  (``_run_to_memory`` is its memory-sink form);
- fold: ``_versioned_fold`` merges each micro-batch's partial
  aggregate into a versioned state table ``state_v{i}``.

Scale notes: these pipelines run unchanged against a real unbounded
source (kafka/files): watermarks bound state, window aggregations
shuffle on (window, key), and applyInPandasWithState keeps per-key
state in the state store. availableNow is the backfill trigger one
would use for reprocessing 100 TB of history with the same code.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.operators.sources_io import _sink
from spark_rapids_ml_spark.query_run import checkpoint, release
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.sources.catalog import (
    load,
    normalize_event_ts,
    table_path,
    table_schema,
)

# Root of the micro-batch staging dirs (see _stage_dir): the repo-local .tmp.
_STAGE_ROOT = os.path.abspath(os.path.join(__file__, "../../../.tmp"))

# A checkpoint lives only as long as the run that made it: _checkpoint
# removes it when the run ends, also when the query raised, so only a
# killed process leaves one behind. Its one role is the micro-batch
# commit protocol, so it goes on tmpfs when available: a
# one-micro-batch profile of the tumbling window at sf0.1 showed 904 ms
# addBatch vs ~160 ms of pure walCommit/commitOffsets/latestOffset file
# I/O on the local disk. A real deployment pins this to durable
# storage.
_CHECKPOINT_ROOT = (
    "/dev/shm/spark_graft_checkpoints"
    if os.path.isdir("/dev/shm")
    else os.path.join(_STAGE_ROOT, "checkpoints")
)

# Streaming state stores are per-shuffle-partition: every micro-batch
# commits one state file per partition, so a 32-partition session pays
# 32 state commits for kilobytes of data. The queries clamp the state
# shuffle width for the run (state partitioning is a *deployment*
# knob: a real 100 TB backfill sizes it to keys/executors, not to the
# session default) and restore the session conf afterwards.
_STATE_SHUFFLE = {"spark.sql.shuffle.partitions": "4"}


def _stage_dir(sf_dir: str, name: str) -> str:
    """The staging dir ``name`` of one dataset: <_STAGE_ROOT>/<name>/<tag>."""
    return os.path.join(_STAGE_ROOT, name, sf_dir.strip("/").replace("/", "_"))


def _link_events(d: str, name: str, sf_dir: str) -> str:
    """Make ``d/name`` a symlink to ``sf_dir``'s events file; returns
    the link."""
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, name)
    # absolute target: a RELATIVE sf_dir would otherwise produce a
    # symlink resolved against the link's own directory — broken, and
    # the file source silently reads zero rows
    target = os.path.abspath(table_path(sf_dir, "events"))
    if os.path.islink(link) and os.readlink(link) != target:
        os.remove(link)  # stale/broken link from a differently-spelled sf_dir
    if not os.path.exists(link):
        os.symlink(target, link)
    return link


def _stream_dir(sf_dir: str) -> str:
    """The file-stream source requires a *directory*; expose the single
    events.parquet through a symlinked dir under the staging root."""
    d = _stage_dir(sf_dir, "stream_src")
    _link_events(d, "events.parquet", sf_dir)
    return d


def _read_stream(
    spark: SparkSession,
    sf_dir: str,
    src_dir: str | None = None,
    one_file_per_trigger: bool = False,
) -> DataFrame:
    """Stream the events parquet with the catalog's memoized schema; ts
    normalized to TIMESTAMP whatever the writer used (see
    sources.catalog.normalize_event_ts).
    ``src_dir`` overrides the default single-file staging dir;
    ``one_file_per_trigger`` makes availableNow process the staged
    files as separate micro-batches in mtime order (needed whenever a
    query's emission depends on the watermark advancing *between*
    batches, e.g. outer-join null emission)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(table_schema(spark, table_path(sf_dir, "events")))
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.parquet(src_dir or _stream_dir(sf_dir))
    # ts arrives as int64 nanos OR timestamp[us] NTZ depending on the
    # generator's writer; normalize to TIMESTAMP (see sources.catalog)
    return normalize_event_ts(stream)


def _replay(
    spark: SparkSession,
    df: DataFrame,
    n_batches: int,
    key: str,
    stage: str,
    sort: tuple[str, ...] = (),
) -> DataFrame:
    """Stage ``df`` as ``n_batches`` ``key``-ranged parquet files under
    ``stage`` (rows ordered by ``sort`` within each file) and stream
    them back one file per micro-batch, lowest key range first.

    The write is distributed: repartitionByRange gives one contiguous
    key range per output partition (part-00000 = lowest range), so
    every row moves executor-side; the driver only pins the file mtimes
    to part order, because the file source takes micro-batches in
    mtime order. The stream reads with ``df``'s own schema, so no job
    re-infers it from the files. On a deployment the bus delivers
    arrival order; this is the finite replay of it."""
    ranged = df.repartitionByRange(n_batches, key)
    if sort:
        ranged = ranged.sortWithinPartitions(*sort)
    ranged.write.mode("overwrite").parquet(stage)
    parts = sorted(
        f for f in os.listdir(stage) if f.startswith("part-") and f.endswith(".parquet")
    )
    now = os.stat(os.path.join(stage, parts[0])).st_mtime if parts else 0
    for i, fname in enumerate(parts):
        os.utime(os.path.join(stage, fname), (now + 10 * i, now + 10 * i))
    return (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )


@contextlib.contextmanager
def _checkpoint():
    """A fresh checkpoint dir under _CHECKPOINT_ROOT (looked up at call
    time), removed on exit — also when the query raised."""
    ck = os.path.join(_CHECKPOINT_ROOT, uuid.uuid4().hex)
    try:
        yield ck
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def _run_stream(writer, checkpoint: str | None = None) -> None:
    """Run ``writer`` (a DataStreamWriter) with trigger(availableNow)
    to completion under the clamped state shuffle width. Without
    ``checkpoint`` the run gets a fresh one that is removed when it
    ends; a caller that restarts against the same checkpoint passes its
    own and owns its removal."""
    with contextlib.ExitStack() as stack:
        ck = checkpoint or stack.enter_context(_checkpoint())
        stack.enter_context(scoped_conf(writer._spark, _STATE_SHUFFLE))
        q = writer.option("checkpointLocation", ck).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()  # a no-op once terminated; never leave it writing to ck


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run into a memory sink; return the result table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    _run_stream(stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return stream_df.sparkSession.table(name)


def _versioned_fold(
    stream: DataFrame, state_root: str, partial, keys: list[str]
) -> DataFrame:
    """Fold ``stream`` into a VERSIONED state table, one version per
    micro-batch: state_v{i} = state_v{i-1} ∪ partial(batch), summed per
    value column by ``keys`` — the snapshot-commit discipline, so a
    retried batch rewrites its own version instead of double-counting.
    Returns the last committed version."""
    shutil.rmtree(state_root, ignore_errors=True)

    def fold(batch: DataFrame, batch_id: int) -> None:
        part = partial(batch)
        prev = os.path.join(state_root, f"state_v{batch_id - 1}")
        if os.path.isdir(prev):
            merged = batch.sparkSession.read.parquet(prev).unionByName(part)
            part = merged.groupBy(*keys).agg(
                *(F.sum(c).alias(c) for c in merged.columns if c not in keys)
            )
        part.write.mode("overwrite").parquet(os.path.join(state_root, f"state_v{batch_id}"))

    _run_stream(stream.writeStream.foreachBatch(fold))
    last = max(int(d.split("_v")[1]) for d in os.listdir(state_root) if d.startswith("state_v"))
    return stream.sparkSession.read.parquet(os.path.join(state_root, f"state_v{last}"))


@register(
    "stream_tumbling_window",
    tags=("streaming",),
    bench=True,
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY window_start, event_type
""",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts + sums with a 1h watermark —
    stream output must equal the batch date_trunc aggregation."""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    res = _run_to_memory(agg, "complete")
    return res.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("window_start", "event_type")


@register(
    "stream_tumbling_append_watermark",
    tags=("streaming", "watermark"),
    oracle="""
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n
FROM events, mx
GROUP BY date_trunc('hour', ts), mx.max_ts
-- append mode emits only FINALIZED windows: window_end <= watermark
-- (= max event time - 1h delay at end-of-stream)
HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= MAX(mx.max_ts) - INTERVAL 1 HOUR
ORDER BY window_start
""",
)
def stream_tumbling_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed aggregation: only windows sealed by the
    watermark (max_event_time − 1h) are emitted — the late-data
    contract itself, checked against a batch oracle that replicates
    the watermark cutoff. (complete-mode variant: stream_tumbling_window.)"""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = _run_to_memory(agg, "append")
    return res.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
    ).orderBy("window_start")


@register(
    "stream_sliding_window",
    tags=("streaming",),
    oracle="""
WITH starts AS (
  SELECT event_id, value,
         unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
  FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n,
       -- NOT rounded: both engines compute the identical IEEE division
       -- of the exact decimal sum; ROUND here is the cross-engine
       -- hazard (tie-break semantics differ on exact .5 boundaries)
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM starts
GROUP BY ws
ORDER BY window_start
""",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h window, 1h slide: every event lands in 2 windows;
    batch oracle materializes both window starts per event."""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))
            ).alias("avg_value"),
        )
    )
    res = _run_to_memory(agg, "complete")
    return res.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "avg_value",
    ).orderBy("window_start")


@register(
    "stream_session_window",
    tags=("streaming",),
    oracle="""
WITH ordered AS (
  SELECT user_id, ts,
         -- Spark's session window end is exclusive: a gap of exactly
         -- 30min starts a NEW session, hence >= not >
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM ordered
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, sess
ORDER BY user_id, session_start
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user — the stateful merging
    window operator; batch oracle is the classic lag/cumsum islands
    rewrite. Session semantics: a session extends while consecutive
    events are <= gap apart."""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = _run_to_memory(agg, "complete")
    return res.select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    ).orderBy("user_id", "session_start")


@register(
    "stream_static_join",
    tags=("streaming", "join"),
    oracle="""
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
ORDER BY c_mktsegment, event_type
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events enrich against a static
    dimension (customer) — the standard streaming-ETL enrichment shape.
    The static side is re-planned per micro-batch; broadcast keeps the
    stream side shuffle-free at any scale."""
    s = _read_stream(spark, sf_dir)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(F.broadcast(c), s.user_id == c.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    res = _run_to_memory(agg, "complete")
    return res.orderBy("c_mktsegment", "event_type")


@register(
    "stream_stream_interval_join",
    tags=("streaming", "join"),
    oracle="""
SELECT a.user_id, COUNT(*) AS n_pairs
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') a
JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
GROUP BY a.user_id
ORDER BY a.user_id
""",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join with an event-time interval condition: errors
    within 30 minutes after a click by the same user. Both sides are
    watermarked so the state store can expire buffered rows — the
    canonical funnel/attribution join.

    Scale: state is bounded by watermark horizon × arrival rate per
    key; the join shuffles both streams on user_id once.
    """
    s1 = _read_stream(spark, sf_dir).where(F.col("event_type") == "click")
    s2 = _read_stream(spark, sf_dir).where(F.col("event_type") == "error")
    a = s1.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    )
    b = s2.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
    )
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    res = _run_to_memory(joined.select(F.col("a_user")), "append")
    return (
        res.groupBy(F.col("a_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "stream_dedup",
    tags=("streaming", "dedup"),
    oracle="""
SELECT event_type, COUNT(*) AS n_unique_users
FROM (SELECT DISTINCT event_type, user_id FROM events)
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (event_type, user_id) then count —
    state-store dedup must equal batch DISTINCT."""
    s = _read_stream(spark, sf_dir)
    dedup = s.select("event_type", "user_id").dropDuplicates(["event_type", "user_id"])
    agg = dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_users"))
    res = _run_to_memory(agg, "complete")
    return res.orderBy("event_type")


@register(
    "stream_foreachbatch_sink",
    tags=("streaming", "sink"),
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE value > 100
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch is written to a parquet area
    keyed by batch id (the idempotent exactly-once pattern — a retry
    overwrites its own batch directory); the query re-reads the sink
    and aggregates, checked against batch SQL."""
    out_dir = _sink("foreachbatch_events", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        )

    s = _read_stream(spark, sf_dir).where(F.col("value") > 100)
    _run_stream(s.select("event_id", "event_type", "value").writeStream.foreachBatch(write_batch))
    back = spark.read.parquet(f"{out_dir}/batch=*")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_stateful_user_stats",
    tags=("streaming", "stateful"),
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       ROUND(MAX(value), 6) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE user_id <= 50
GROUP BY user_id
ORDER BY user_id
""",
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, max, sum) kept in the state store; final state
    must equal the batch aggregation.

    Scale: state is O(distinct users); the state store shuffles on
    user_id and checkpoints incrementally — the standard pattern for
    billions-of-keys running aggregates. NoTimeout is deliberate and
    correct ONLY because user_id is a bounded entity set — see
    SCALING.md "State-store growth math" for the sizing arithmetic and
    the EventTimeTimeout + state.remove() pattern (pinned live in
    tests/test_streaming_semantics.py::test_event_time_timeout_evicts_
    state) required when the key space is unbounded.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )
    import pandas as pd

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
            StructField("total_value_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mx", DoubleType()),
            StructField("tot_cents", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, mx, tot_cents = state.get if state.exists else (0, float("-inf"), 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                # exact money arithmetic in integer cents (mirrors the
                # engine-wide decimal discipline)
                tot_cents += int(round(float(pdf["value"].sum()) * 100))
        state.update((n, mx, tot_cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "total_value_cents": [tot_cents],
            }
        )

    s = _read_stream(spark, sf_dir).where(F.col("user_id") <= 50)
    stateful = s.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    res = _run_to_memory(stateful, "update")
    # keep the latest state per user (update mode appends each revision)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("max_value", 6).alias("max_value"),
            (F.col("total_value_cents").cast("double") / 100).alias("total_value"),
        )
        .orderBy("user_id")
    )


def _staged_outer_src(sf_dir: str) -> str:
    """Staging dir for the left-outer stream-stream join: the real
    events file plus two far-future sentinel files (reserved
    user_id = -1, one click + one error each, +30 / +60 days).

    Outer-join null rows are emitted only when a LATER micro-batch
    runs with a watermark past ``left.ts + interval``; on a finite
    file source the final rows' watermark never advances again, so
    without sentinels the unmatched tail would stay in state forever
    (batch-vs-stream would diverge). Two sentinel batches guarantee
    every real left row is finalized: batch 2 carries the +30d event
    time, and batch 3 runs with the watermark computed FROM it. On a
    real deployment the bus's ongoing traffic plays this role —
    sentinels make the finite replay faithful to it.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = _stage_dir(sf_dir, "stream_src_outer")
    link = _link_events(d, "events_0.parquet", sf_dir)
    # The sentinels MUST carry the same physical ts encoding as the
    # source file: the stream reads with the batch-inferred schema, so
    # an int64 sentinel against a timestamp[us] source (or vice versa)
    # fails micro-batch 2 with PARQUET_COLUMN_DATA_TYPE_MISMATCH. The
    # generator has shipped both encodings over time, so derive the
    # type from the file and invalidate any cached sentinels written
    # under a different one.
    ts_type = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    sentinel_2 = os.path.join(d, "sentinel_2.parquet")
    if os.path.exists(sentinel_2):
        if pq.read_schema(sentinel_2).field("ts").type == ts_type:
            return d
        for i in (1, 2):  # stale encoding: rewrite
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(d, f"sentinel_{i}.parquet"))
    if pa.types.is_timestamp(ts_type):
        per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
    else:  # legacy raw int64 epoch-nanos
        per_sec = 10**9
    events = pq.read_table(table_path(sf_dir, "events"), columns=["ts"])
    max_t = pc.max(events.column("ts").cast(pa.int64())).as_py()
    day = 86_400 * per_sec
    now = os.stat(link, follow_symlinks=True).st_mtime
    for i, horizon in enumerate((30 * day, 60 * day), start=1):
        t0 = max_t + horizon
        tbl = pa.table(
            {
                "event_id": pa.array([-2 * i, -2 * i - 1], pa.int64()),
                "ts": pa.array([t0, t0 + 600 * per_sec], pa.int64()).cast(ts_type),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["click", "error"]),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"]),
            }
        )
        path = os.path.join(d, f"sentinel_{i}.parquet")
        pq.write_table(tbl, path)
        # the file source takes micro-batches in mtime order; pin
        # events -> sentinel_1 -> sentinel_2 explicitly
        os.utime(path, (now + 10 * i, now + 10 * i))
    return d


@register(
    "stream_stream_left_outer_join",
    tags=("streaming", "join"),
    oracle="""
SELECT a.user_id,
       COUNT(*) AS n_rows,
       COUNT(b.event_id) AS n_matched
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') a
LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
GROUP BY a.user_id
ORDER BY a.user_id
""",
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click, joined to
    errors within the following 30 minutes, with clicks that saw no
    error emitted as null-extended rows once the watermark proves no
    match can still arrive — the attribution join where absence (no
    error after click) is itself the signal.

    Scale: state bounded exactly as the inner interval join (watermark
    horizon x per-key rate); the extra cost of LEFT OUTER is only the
    deferred emission buffer, which the watermark drains monotonically.
    The staged sentinel batches (see _staged_outer_src) make the
    finite replay emit the full outer result, so the batch LEFT JOIN
    oracle checks both the matched AND the null-extended sides.
    """
    src = _staged_outer_src(sf_dir)
    s1 = _read_stream(spark, sf_dir, src_dir=src, one_file_per_trigger=True)
    s2 = _read_stream(spark, sf_dir, src_dir=src, one_file_per_trigger=True)
    a = (
        s1.withWatermark("ts", "1 hour")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
            F.col("event_id").alias("a_id"),
        )
    )
    b = (
        s2.withWatermark("ts", "1 hour")
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_id"),
        )
    )
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    res = _run_to_memory(joined.select("a_user", "a_id", "b_id"), "append")
    return (
        res.where(F.col("a_user") >= 0)  # drop watermark sentinels
        .groupBy(F.col("a_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("b_id").alias("n_matched"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_rocksdb_state_window",
    tags=("streaming", "state", "scale"),
    oracle="""
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type, date_trunc('day', ts)
ORDER BY event_type, day
""",
)
def stream_rocksdb_state_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregation on the RocksDB state store — the
    production state backend for 100 TB backfills: state lives on
    executor local disk (bounded memory, changelog-checkpointed to the
    checkpoint location) instead of the default in-JVM-heap HDFS
    store, so per-key state can exceed executor heap. Same
    stream-vs-batch oracle discipline as every other streaming query;
    the provider conf is scoped to this query (captured at stream
    start) and restored afterwards.

    Scale: day-grain windows by (event_type, day) with per-window
    distinct users — the state shape (large keyspace, long-lived
    windows) that motivates a disk-backed store in the first place.
    """
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        s = _read_stream(spark, sf_dir)
        agg = (
            s.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("user_id").alias("_approx_users"),
            )
        )
        res = _run_to_memory(agg, "complete")
    base = res.select(
        F.col("event_type"),
        F.date_format("window.start", "yyyy-MM-dd").alias("day"),
        F.col("n"),
    )
    # distinct users per (event_type, day) from the same source, batch
    # side (exact), joined to the streamed counts: the streamed rows
    # carry the watermark/window semantics, the exact distinct keeps
    # the oracle deterministic (approx_count_distinct is not
    # cross-engine stable)
    users = load(spark, sf_dir, "events").groupBy(
        "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").alias("n_users"))
    return (
        base.join(users, ["event_type", "day"])
        .select("event_type", "day", "n", "n_users")
        .orderBy("event_type", "day")
    )


@register(
    "stream_file_sink_exactly_once",
    tags=("streaming", "sink", "scale"),
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(0 AS BIGINT) AS files_added_on_rerun
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet FILE sink with exactly-once replay
    protection: the filtered event stream is written to a parquet
    directory under a checkpoint, then the SAME pipeline is started a
    second time against the same checkpoint — the sink's transaction
    log must recognize all input as committed and add ZERO files. The
    measured second-run file delta is emitted as a column the oracle
    pins to 0, so the exactly-once property itself is hash-checked,
    alongside the data fidelity aggregate over the re-read sink.

    Scale: the file sink + checkpoint pair is how a 100 TB backfill
    lands in the lake idempotently — re-running a failed job appends
    nothing already committed; the _spark_metadata transaction log is
    the source of truth for readers.
    """
    import glob

    out = _sink("stream_events_sink", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    def _run_once(ck: str) -> int:
        s = _read_stream(spark, sf_dir).where(F.col("event_type").isin("click", "view"))
        sel = s.select("event_id", "event_type", "value")
        _run_stream(sel.writeStream.format("parquet").option("path", out), ck)
        return len(glob.glob(os.path.join(out, "*.parquet")))

    with _checkpoint() as ck:
        before = _run_once(ck)
        # identical restart: the committed batch must replay as no-op
        added = _run_once(ck) - before
    back = spark.read.parquet(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .withColumn("files_added_on_rerun", F.lit(added).cast("bigint"))
        .orderBy("event_type")
    )


# incremental dedup: doc_id % DEDUP_STREAM_MOD == 0 arrive as the
# stream (in doc_id order, DEDUP_STREAM_BATCHES micro-batches); the
# rest are the already-ingested base corpus behind the persisted index
DEDUP_STREAM_MOD = 5
DEDUP_STREAM_BATCHES = 4


def _incremental_dedup_oracle() -> str:
    from spark_rapids_ml_spark.operators.dedup import (
        _sql_bands_cte,
        _sql_minhash_cte,
    )

    return f"""
WITH {_sql_minhash_cte()},
{_sql_bands_cte()},
s AS (SELECT doc_id, band, band_key FROM bands
      WHERE doc_id % {DEDUP_STREAM_MOD} = 0),
m AS (
  SELECT s.doc_id, MIN(e.doc_id) AS dup_of
  FROM s JOIN bands e
    ON s.band = e.band AND s.band_key = e.band_key
   AND (e.doc_id % {DEDUP_STREAM_MOD} <> 0 OR e.doc_id < s.doc_id)
  GROUP BY s.doc_id
)
SELECT d.doc_id, m.dup_of,
       CAST(m.dup_of IS NOT NULL AS BIGINT) AS is_dup
FROM (SELECT DISTINCT doc_id FROM documents
      WHERE doc_id % {DEDUP_STREAM_MOD} = 0) d
LEFT JOIN m ON d.doc_id = m.doc_id
ORDER BY d.doc_id
"""


@register(
    "stream_incremental_dedup_lsh",
    tags=("streaming", "dedup", "minhash", "scale"),
    oracle=_incremental_dedup_oracle(),
)
def stream_incremental_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection on ingest — the continuous form
    of dedup_minhash_lsh_pairs, and the shape a production LLM-data
    pipeline actually runs: the corpus is already indexed, new
    documents arrive as a stream, and each micro-batch must answer
    "is this a near-duplicate of ANYTHING ingested before it?"
    without rescanning the corpus.

    The persisted index stores one row per (band, band_key): the
    BUCKET REPRESENTATIVE (min doc_id) — a dedup probe needs one
    witness, not the posting list, so the index is bounded by distinct
    buckets regardless of cohort sizes (the same skew argument as the
    batch path's bucket cap, taken to its limit). Each micro-batch:
    (1) computes band signatures for its docs (band_projection — the
    exact pipeline the batch query uses), (2) equi-joins them against
    the index for earlier-arrival witnesses, (3) resolves WITHIN-batch
    earlier witnesses with a window min over the same (band, band_key)
    partitioning, (4) appends its own bucket minima to the index, and
    (5) writes per-doc verdicts to a batch-id-keyed sink (the
    idempotent exactly-once pattern). Because every source contributes
    its MINIMUM earlier sharer and min composes, the emitted dup_of is
    invariant to micro-batch boundaries — pinned by the batch oracle,
    which computes the same "min earlier doc sharing any band bucket"
    with arrival order = (base corpus first, then streamed docs in
    doc_id order).

    Scale: the probe is an equi-join on (band, band_key) against a
    bucket-bounded index — no corpus rescan, no posting-list blowup;
    index maintenance is an append of per-batch bucket minima. On a
    real deployment the index lives in a bucketed table (see
    sim_lsh_persisted_probe for the zero-exchange probe shape) and the
    stream is a bus; availableNow over staged files is the same code
    path run as a backfill.
    """
    from pyspark.sql import Window

    from spark_rapids_ml_spark.operators.dedup import band_projection

    root = _stage_dir(sf_dir, "stream_dedup")
    shutil.rmtree(root, ignore_errors=True)
    src_dir, idx_dir, out_dir = (
        os.path.join(root, d) for d in ("src", "index", "verdicts")
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % DEDUP_STREAM_MOD != 0)
    incoming = docs.where(F.col("doc_id") % DEDUP_STREAM_MOD == 0)

    # write-once index build: bucket representatives of the base corpus
    (
        band_projection(base)
        .groupBy("band", "band_key")
        .agg(F.min("doc_id").alias("min_doc"))
        .write.mode("overwrite")
        .parquet(idx_dir)
    )

    # replay the incoming docs as doc_id-ordered range files. Replay
    # order must be ranged-ascending: the index-vs-window split assumes
    # "earlier batch" implies "smaller doc_id", matching the oracle's
    # arrival order.
    stream = _replay(
        spark, incoming, DEDUP_STREAM_BATCHES, "doc_id", src_dir, sort=("doc_id",)
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        # the batch's lineage cut lives as long as this call
        sig = checkpoint(band_projection(batch).localCheckpoint(eager=True))
        try:
            vs_index = (
                sig.join(spark.read.parquet(idx_dir), ["band", "band_key"])
                .groupBy("doc_id")
                .agg(F.min("min_doc").alias("dup_idx"))
            )
            w = Window.partitionBy("band", "band_key")
            within = (
                sig.withColumn("first_in_bucket", F.min("doc_id").over(w))
                .where(F.col("doc_id") > F.col("first_in_bucket"))
                .groupBy("doc_id")
                .agg(F.min("first_in_bucket").alias("dup_batch"))
            )
            verdicts = (
                batch.select("doc_id")
                .join(vs_index, "doc_id", "left")
                .join(within, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least("dup_idx", "dup_batch").alias("dup_of"),
                )
            )
            verdicts.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
            # index maintenance AFTER the probe: this batch's bucket minima
            # become witnesses for later batches only
            (
                sig.groupBy("band", "band_key")
                .agg(F.min("doc_id").alias("min_doc"))
                .write.mode("append")
                .parquet(idx_dir)
            )
        finally:
            release(sig)

    _run_stream(stream.writeStream.foreachBatch(process))

    return (
        spark.read.parquet(out_dir)
        .select(
            "doc_id",
            "dup_of",
            F.col("dup_of").isNotNull().cast("bigint").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


def _make_stream_datasource():
    """Streaming Python Data Source (Spark 4 SimpleDataSourceStreamReader):
    offset-tracked micro-batches over the same deterministic keyspace
    as the batch connector (operators/sources_io.py)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from spark_rapids_ml_spark.operators.sources_io import _SYNTH_MOD, _SYNTH_MULT

    class _SynthStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", 10000))
            self.chunk = int(options.get("chunk", 1000))

        def initialOffset(self):
            return {"pos": 0}

        def _rows(self, lo, hi):
            return [(i, i % 16, (i * _SYNTH_MULT) % _SYNTH_MOD) for i in range(lo, hi)]

        def read(self, start):
            pos = int(start["pos"])
            end = min(pos + self.chunk, self.n)
            return iter(self._rows(pos, end)), {"pos": end}

        def readBetweenOffsets(self, start, end):
            # replay contract: offsets alone reproduce the exact batch
            return iter(self._rows(int(start["pos"]), int(end["pos"])))

    class SynthStreamDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_stream"

        def schema(self):
            return "id bigint, bucket bigint, score bigint"

        def simpleStreamReader(self, schema):
            return _SynthStreamReader(self.options)

    return SynthStreamDataSource


_STREAM_DS_N = 12000


@register(
    "stream_python_datasource_reader",
    tags=("streaming", "source", "scale"),
    oracle=f"""
SELECT id % 16 AS bucket,
       COUNT(*) AS n,
       CAST(SUM((id * 2654435761) % 1000003) AS BIGINT) AS score_sum
FROM (SELECT unnest(generate_series(0, {_STREAM_DS_N - 1})) AS id)
GROUP BY bucket
ORDER BY bucket
""",
)
def stream_python_datasource_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via the Python Data Source API —
    the third tier of that surface next to the batch reader
    (source_python_datasource) and the committing writer
    (sink_python_datasource_writer): an offset-tracked source whose
    read(start) -> (rows, nextOffset) contract lets Structured
    Streaming checkpoint progress, and whose readBetweenOffsets
    replays any micro-batch exactly from its offset pair — the
    exactly-once recovery contract. The stream drains with
    processAllAvailable (availableNow snapshots a single read() for
    this reader tier), so the run genuinely spans n/chunk = 8
    micro-batches; the complete-mode aggregate must equal the batch
    oracle over the same keyspace.

    Scale: offsets are O(1) driver state (a position integer, the
    Kafka-offset shape); each micro-batch materializes only its chunk.
    The simple-reader tier reads on the driver by design (prefetch
    + distribute) — a partition-parallel streaming source would
    implement the full DataSourceStreamReader with partitions();
    this query pins the offset/replay semantics, which are identical
    across both tiers.
    """
    spark.dataSource.register(_make_stream_datasource())
    stream = (
        spark.readStream.format("synthetic_stream")
        .option("n", str(_STREAM_DS_N))
        .option("chunk", "1500")
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score").cast("bigint").alias("score_sum"),
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _checkpoint() as ck, scoped_conf(spark, _STATE_SHUFFLE):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()  # drain every offset chunk, then stop
        finally:
            q.stop()
        q.awaitTermination()
    return spark.table(name).orderBy("bucket")


@register(
    "stream_stream_full_outer_join",
    tags=("streaming", "join"),
    oracle="""
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN a.event_id IS NOT NULL AND b.event_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN b.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
       CAST(SUM(CASE WHEN a.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_error_only
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') a
FULL OUTER JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
GROUP BY COALESCE(a.user_id, b.user_id)
ORDER BY user_id
""",
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the declared
    stream-stream family (inner interval / left outer / full outer):
    clicks with no error AND errors attributable to no click are both
    emitted as null-extended rows once the watermark proves the other
    side can no longer arrive. The error-only rows are the ones a
    left-outer attribution silently drops — exactly the "orphan
    failures" an SRE view needs.

    Scale: state bounded identically on BOTH sides now (each buffers
    watermark-horizon x per-key rate); the same staged sentinel
    batches finalize both directions, so the batch FULL OUTER oracle
    checks matched, left-null, and right-null emission in one hash.
    """
    src = _staged_outer_src(sf_dir)
    s1 = _read_stream(spark, sf_dir, src_dir=src, one_file_per_trigger=True)
    s2 = _read_stream(spark, sf_dir, src_dir=src, one_file_per_trigger=True)
    a = (
        s1.withWatermark("ts", "1 hour")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
            F.col("event_id").alias("a_id"),
        )
    )
    b = (
        s2.withWatermark("ts", "1 hour")
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_id"),
        )
    )
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    )
    res = _run_to_memory(
        joined.select("a_user", "b_user", "a_id", "b_id"), "append"
    )
    return (
        res.where(F.coalesce(F.col("a_user"), F.col("b_user")) >= 0)  # drop sentinels
        .groupBy(
            F.coalesce(F.col("a_user"), F.col("b_user")).alias("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("a_id").isNotNull() & F.col("b_id").isNotNull()).cast("int")
            ).cast("bigint").alias("n_matched"),
            F.sum(F.col("b_id").isNull().cast("int")).cast("bigint").alias("n_click_only"),
            F.sum(F.col("a_id").isNull().cast("int")).cast("bigint").alias("n_error_only"),
        )
        .orderBy("user_id")
    )


def _make_jsonl_stream_sink_datasource():
    """Streaming-writer-side Python Data Source (Spark 4
    ``DataSourceStreamWriter``): per-micro-batch two-phase commit —
    each task stages its partition as a JSON-lines file and returns
    the path as its commit message; the driver's commit(batchId)
    publishes acknowledged files under a batch-stamped name and drops
    a ``_commit_<batchId>`` marker, and an already-markered batch is
    SKIPPED (idempotent replay — the exactly-once half the engine
    owes on top of the checkpoint's replay guarantee; cf.
    stream_file_sink_exactly_once for the built-in sink's version)."""
    import json as _json
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _FileMessage(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    class _JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.target = options["path"]
            self.staging = os.path.join(self.target, "_staging")

        def write(self, iterator):
            os.makedirs(self.staging, exist_ok=True)
            path = os.path.join(self.staging, f"part-{_uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict()) + "\n")
            return _FileMessage(path)

        def commit(self, messages, batchId):
            marker = os.path.join(self.target, f"_commit_{batchId}")
            if os.path.exists(marker):  # replayed batch: drop, don't double-publish
                for m in messages:
                    if os.path.exists(m.path):
                        os.remove(m.path)
                return
            for i, m in enumerate(messages):
                shutil.move(
                    m.path,
                    os.path.join(self.target, f"batch-{batchId:05d}-{i:04d}.json"),
                )
            with open(marker, "w") as f:
                f.write("committed\n")

        def abort(self, messages, batchId):
            shutil.rmtree(self.staging, ignore_errors=True)

    class JsonlStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):
            return _JsonlStreamWriter(self.options)

    return JsonlStreamSinkDataSource


@register(
    "stream_python_datasource_writer",
    tags=("streaming", "sink", "scale"),
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
""",
)
def stream_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING sink via the Python Data Source writer API —
    completes the connector matrix {batch, streaming} x {reader,
    writer} next to source_python_datasource /
    sink_python_datasource_writer / stream_python_datasource_reader:
    the events stream is filtered and written through a Python
    ``DataSourceStreamWriter`` whose per-micro-batch two-phase commit
    (staging + batch-stamped publish + idempotent replay marker) is
    the contract every custom feed sink — a webhook pusher, a
    search-index loader, a vector-DB upserter — must implement. The
    check re-reads ONLY committed files and matches the batch oracle
    over the original table: write-path fidelity through a real
    streaming commit protocol.

    Scale: write() streams each task partition (no driver
    materialization); commit cost is O(files/batch) renames on the
    driver — the same publish shape as the built-in file sink's
    manifest, expressed through the Python API.
    """
    path = _sink("events_jsonl_stream_pyds", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    spark.dataSource.register(_make_jsonl_stream_sink_datasource())
    s = _read_stream(spark, sf_dir)
    sel = s.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
    _run_stream(sel.writeStream.format("jsonl_stream_sink").option("path", path))
    back = spark.read.schema("event_id BIGINT, user_id BIGINT, value DOUBLE").json(
        os.path.join(path, "batch-*.json")
    )
    return (
        back.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


# CDC apply: the CONSUMER side of sink_change_data_feed — a replica
# maintained by applying the feed in ranged micro-batches.
CDC_APPLY_BATCHES = 3


def _cdc_apply_oracle():
    from spark_rapids_ml_spark.operators.sources_io import (
        CDF_DELETE_MOD,
        CDF_PRICE_BUMP,
        CDF_UPDATE_MOD,
    )

    return f"""
WITH v2 AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CASE WHEN o_orderkey % {CDF_UPDATE_MOD} = 0
              THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST({CDF_PRICE_BUMP} AS DECIMAL(4,2)), 2) AS DOUBLE)
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % {CDF_DELETE_MOD} <> 0
)
SELECT prio, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM v2 GROUP BY prio ORDER BY prio
"""


@register(
    "stream_cdf_apply_replica",
    tags=("streaming", "cdc", "sink", "composed"),
    oracle=_cdc_apply_oracle(),
)
def stream_cdf_apply_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC REPLICATION — the consumer half of sink_change_data_feed:
    a downstream replica starts at snapshot v1 and is maintained
    purely by applying the change feed (full-image insert / delete /
    update_pre+postimage rows, the Debezium/Delta-CDF row shape) in
    micro-batches via foreachBatch MERGE — the replica never reads
    the source table again. The feed is staged as key-ranged files by
    a distributed repartitionByRange write (micro-batches are
    key-disjoint, so a key's pre/post pair always travels together
    and the final replica state is invariant to batch boundaries);
    each batch applies deletes as an anti-join and upserts
    (inserts + postimages) as anti-join + union against the previous
    replica version, committing an immutable new version dir. The
    result aggregates the FINAL REPLICA's files only; the oracle
    computes the source's v2 state independently — hash equality IS
    the replication-correctness check (replica == source after feed
    exhaustion). tests/test_streaming_semantics.py replays the same
    feed at 1 and 5 batches and pins replica equality row-for-row.

    Scale: the feed is O(|changes|); each apply is one equi-anti-join
    + union on the key — at 100 TB the replica is partitioned on the
    key and MERGE rewrites only touched partitions (the
    sink_dynamic_partition_overwrite composition); versioned replica
    dirs give the consumer snapshot isolation + rollback for free.
    The apply loop is the exactly-once idempotent pattern: replaying
    a batch rewrites the same version dir to the same bytes.
    """
    from spark_rapids_ml_spark.operators.sources_io import (
        CDF_DELETE_MOD,
        CDF_INSERT_MOD,
        CDF_PRICE_BUMP,
        CDF_UPDATE_MOD,
    )

    root = _stage_dir(sf_dir, "stream_cdc")
    shutil.rmtree(root, ignore_errors=True)
    feed_dir = os.path.join(root, "feed")

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    v1 = o.where(F.col("k") % CDF_INSERT_MOD != 0)
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
    # replica bootstrap = v1
    v1.write.mode("overwrite").parquet(os.path.join(root, "replica_v0"))

    # full-image feed (the producer's job; here derived by snapshot
    # diff exactly as sink_change_data_feed does)
    d = (
        v1.select("k", F.col("prio").alias("old_prio"), F.col("price").alias("old_price"))
        .join(
            v2.select("k", F.col("prio").alias("new_prio"), F.col("price").alias("new_price")),
            "k",
            "full_outer",
        )
        .where(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )
    ins = d.where(F.col("old_price").isNull()).select(
        "k", F.col("new_prio").alias("prio"), F.col("new_price").alias("price"),
        F.lit("insert").alias("change_type"),
    )
    dele = d.where(F.col("new_price").isNull()).select(
        "k", F.col("old_prio").alias("prio"), F.col("old_price").alias("price"),
        F.lit("delete").alias("change_type"),
    )
    upd = d.where(F.col("old_price").isNotNull() & F.col("new_price").isNotNull())
    pre = upd.select(
        "k", F.col("old_prio").alias("prio"), F.col("old_price").alias("price"),
        F.lit("update_preimage").alias("change_type"),
    )
    post = upd.select(
        "k", F.col("new_prio").alias("prio"), F.col("new_price").alias("price"),
        F.lit("update_postimage").alias("change_type"),
    )
    feed = ins.unionAll(dele).unionAll(pre).unionAll(post)
    stream = _replay(
        spark, feed, CDC_APPLY_BATCHES, "k", feed_dir, sort=("k", "change_type")
    )
    latest = {"dir": os.path.join(root, "replica_v0"), "version": 0}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # the batch's lineage cut lives as long as this call
        b = checkpoint(batch.localCheckpoint(eager=True))
        try:
            replica = spark.read.parquet(latest["dir"])
            touched = (
                b.where(F.col("change_type").isin("insert", "delete", "update_postimage"))
                .select("k")
                .distinct()
            )
            upserts = b.where(
                F.col("change_type").isin("insert", "update_postimage")
            ).select("k", "prio", "price")
            new_state = replica.join(touched, "k", "left_anti").unionByName(upserts)
            nxt = os.path.join(root, f"replica_v{latest['version'] + 1}")
            new_state.write.mode("overwrite").parquet(nxt)
            latest["dir"], latest["version"] = nxt, latest["version"] + 1
        finally:
            release(b)

    _run_stream(stream.writeStream.foreachBatch(apply_batch))

    final = spark.read.parquet(latest["dir"])
    return (
        final.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total"),
            F.sum("k").cast("bigint").alias("key_sum"),
        )
        .orderBy("prio")
    )


# ------------------------------------------- stateful streaming EWMA

from spark_rapids_ml_spark.operators.timeseries import (  # noqa: E402
    EWMA_FRAME as EWMA_STATE_FRAME,
    EWMA_ORACLE as _EWMA_BATCH_ORACLE,
    EWMA_USER_MOD as EWMA_STATE_USER_MOD,
)


def _ewma_stateful_of(src: DataFrame) -> DataFrame:
    """applyInPandasWithState EWMA over any event stream frame keyed by
    user: state carries the trailing (frame-1) micro-integer values, so
    each event's EWMA is computed exactly once, in (ts, event_id)
    order, with the batch query's exact power-of-two integer
    arithmetic (the Python float division is the same IEEE op both
    engines run). Shared by the declared query and the multi-batch
    replay test."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ewma", DoubleType()),
        ]
    )
    # the trailing values packed as int64 bytes, not array<bigint>: the
    # state serializer of an array is a MapObjects loop whose lambda
    # variable takes a fresh id at every planning, so each run compiled
    # one new class that the codegen cache could never hit
    state_schema = StructType([StructField("hist", BinaryType())])
    frame = EWMA_STATE_FRAME

    def update(key, pdfs, state: GroupState):
        import math

        import numpy as np

        hist = np.frombuffer(state.get[0], np.int64).tolist() if state.exists else []
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], ignore_index=True)
        out_ids, out_ewma = [], []
        for _, r in rows.iterrows():
            x = float(r["value"]) * 1_000_000
            # half-away-from-zero, matching F.round / DuckDB round()
            iv = int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)
            hist.append(iv)
            if len(hist) > frame:
                hist = hist[-frame:]
            L = len(hist)
            num = 0
            for i, v in enumerate(hist):  # oldest -> newest
                num += v << (frame - L + i)
            den = (1 << frame) - (1 << (frame - L))
            out_ids.append(int(r["event_id"]))
            out_ewma.append(float(num) / float(den) / 1_000_000.0)
        state.update((np.asarray(hist[-(frame - 1) :], np.int64).tobytes(),))
        yield pd.DataFrame(
            {"user_id": [key[0]] * len(out_ids), "event_id": out_ids, "ewma": out_ewma}
        )

    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


@register(
    "stream_stateful_ewma",
    tags=("streaming", "stateful", "timeseries"),
    bench=True,  # round 10: the headline set lacked a stateful-streaming row
    oracle=_EWMA_BATCH_ORACLE,
)
def stream_stateful_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EWMA as a custom stateful operator: the state store
    carries each user's trailing {EWMA_STATE_FRAME - 1} micro-integer
    values; every arriving event is scored exactly once with the
    power-of-two decay arithmetic of timeseries_ewma_halflife — and
    the oracle IS that batch query's SQL, so the hash check pins
    stream ≡ batch on an ORDER-SENSITIVE statistic (a much stronger
    equivalence than for commutative aggregates: any batching or
    ordering bug shifts every subsequent EWMA). Batch-boundary
    invariance is separately pinned by a 1-vs-3-micro-batch replay
    test over time-split staging.

    Scale: state is O(users x frame) integers in the state store,
    shuffled on user_id and checkpointed incrementally; per-event cost
    is the bounded frame fold. NoTimeout is correct for the bounded
    user entity set (see stream_stateful_user_stats for the unbounded-
    key eviction pattern).
    """
    s = _read_stream(spark, sf_dir).where(
        F.col("user_id") % EWMA_STATE_USER_MOD == 7
    )
    res = _run_to_memory(_ewma_stateful_of(s), "update")
    return res.select("user_id", "event_id", "ewma").orderBy("event_id")


# --------------------------------------------- heavy-hitter maintenance

HH_TOP_K = 10
HH_STAGE_FILES = 4  # micro-batches the staged source replays


@register(
    "stream_topk_heavy_hitters",
    tags=("streaming", "stateful"),
    oracle=f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT {HH_TOP_K}
""",
)
def stream_topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k maintenance: the event stream replays as
    HH_STAGE_FILES (4) genuine micro-batches (distributed ranged staging,
    maxFilesPerTrigger=1); foreachBatch folds each batch's per-user
    partial counts into a VERSIONED state table (state_v{{i}} =
    state_v{{i-1}} + batch aggregate — the snapshot-commit discipline,
    so a retried batch rewrites its own version instead of
    double-counting). The final answer is the top-HH_TOP_K (10) heavy
    hitters from the last committed state, hash-equal to the batch
    GROUP BY because counts are exactly mergeable.

    Scale: per tick the work is O(batch) + a merge against per-key
    state that is CARDINALITY-bounded, not stream-length-bounded; at
    100 TB the state table caps with a Misra-Gries residual exactly
    like the batch agg_freq_items_merge, trading the long tail for a
    bounded error the summary reports. Merge order is irrelevant
    (integer sums commute) — batch-boundary invariance is pinned by
    the replay test.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    stream = _replay(
        spark, ev, HH_STAGE_FILES, "event_id", _stage_dir(sf_dir, "stream_src_hh")
    )
    final = _versioned_fold(
        stream,
        _sink("hh_state", sf_dir),
        lambda b: b.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events")),
        ["user_id"],
    )
    return (
        final.select("user_id", F.col("n_events").cast("bigint").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(HH_TOP_K)
    )


# --------------------------------------------- SCD2 stream enrichment


from spark_rapids_ml_spark.operators.timeseries import SCD2_PIT_ORACLE


@register(
    "stream_scd2_enrichment",
    tags=("streaming", "join"),
    oracle=SCD2_PIT_ORACLE,
)
def stream_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature SERVING on the stream: each arriving click is enriched
    with the SCD2 dimension version valid AT ITS OWN event time — a
    stream-static join whose condition is the half-open validity
    interval, not an equi-key (stream-static inner joins are
    stateless, so arbitrary conditions are allowed; this is the
    online dual of scd2_point_in_time_join, whose oracle it shares —
    stream ≡ batch on the no-future-leakage enrichment).

    Scale: the dimension is the STATIC side — at 100 TB it is the
    broadcast (or storage-partitioned) feature table republished by
    the batch SCD2 build, while the stream side never buffers state
    (no watermark needed; stateless per-row probe). Per-key version
    counts bound the join fan-out exactly as in the batch op.
    """
    from pyspark.sql import Window

    e_static = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e_static.where(
            F.col("event_type").isin("signup", "purchase") & (F.col("user_id") <= 30)
        )
        .select(
            F.col("user_id").alias("d_user"),
            F.col("ts").alias("valid_from"),
            F.col("event_type").alias("state"),
            F.row_number().over(w).cast("bigint").alias("version"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    clicks = _read_stream(spark, sf_dir).where(
        (F.col("event_type") == "click") & (F.col("user_id") <= 30)
    )
    joined = clicks.join(
        dim,
        (clicks["user_id"] == dim["d_user"])
        & (clicks["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (clicks["ts"] < dim["valid_to"])),
    ).select(
        "event_id",
        "user_id",
        "version",
        "state",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("probe_ts"),
    )
    return _run_to_memory(joined, "append").orderBy("event_id")


COVSTREAM_FILES = 4  # micro-batches for the incremental covariance fold


@register(
    "stream_incremental_covariance",
    tags=("streaming", "ml", "pca", "scale"),
    oracle="""
WITH elem AS (
  SELECT vec_id, u.pos, u.val
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings) e
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(emb))), unnest(emb)
  ) u(pos, val)
)
SELECT CAST(a.pos - 1 AS BIGINT) AS i, CAST(b.pos - 1 AS BIGINT) AS j,
       ROUND(covar_samp(a.val, b.val), 6) + 0 AS cov
FROM elem a JOIN elem b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY a.pos, b.pos
ORDER BY i, j
""",
)
def stream_incremental_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PCA statistics: the embedding corpus replays as
    COVSTREAM_FILES genuine micro-batches (distributed ranged staging,
    maxFilesPerTrigger=1); foreachBatch reduces each batch to the PCA
    estimator's own mergeable sufficient statistics (n, Σx, Σxxᵀ —
    the moments scan of ml/pca.py, batch twin
    pca_covariance_incremental_merge) and folds them into a VERSIONED
    flat-vector state table (d²+d+1 (idx, val) rows; state_v{i} =
    state_v{i-1} + batch partials, so a retried batch rewrites its own
    version instead of double-counting). The covariance derived from
    the LAST committed state is hash-equal to DuckDB's covar_samp over
    all rows at once — the "model statistics stay warm on the stream"
    contract: new data folds in, nothing is rescanned.

    Scale: per tick the work is one O(batch) linear scan producing an
    O(d²) partial; state is d²-bounded regardless of stream length;
    the final driver materialization is the same d²-sized vector the
    batch estimator collects. Merge order cannot shift the hash:
    ROUND(6) + the −0.0 normalization absorb float64 reassociation
    exactly as in the batch covariance oracle pair.
    """
    import numpy as np

    from spark_rapids_ml_spark.ml.pca import _partials, _unpack_moments
    from spark_rapids_ml_spark.ml_queries import _cov_df

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream = _replay(
        spark, e, COVSTREAM_FILES, "vec_id", _stage_dir(sf_dir, "stream_src_cov")
    )

    def partial(batch: DataFrame) -> DataFrame:
        return (
            _partials(batch, "embedding")
            .select(F.posexplode("packed").alias("idx", "val"))
            .groupBy("idx")
            .agg(F.sum("val").alias("val"))
        )

    state = _versioned_fold(stream, _sink("cov_state", sf_dir), partial, ["idx"])
    rows = state.collect()  # bounded: d^2 + d + 1 statistic cells, corpus-independent
    flat = np.zeros(len(rows))
    for r in rows:
        flat[r["idx"]] = r["val"]
    n, colsum, gram = _unpack_moments(flat)
    mean = colsum / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    return _cov_df(spark, cov)


CUSUMSTREAM_FILES = 5  # micro-batches the event log replays as


@register(
    "stream_cusum_monitor",
    tags=("streaming", "timeseries", "scale"),
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, COUNT(*) AS n_days, CAST(SUM(cents) AS BIGINT) AS total
  FROM daily GROUP BY 1
),
c AS (
  SELECT d.event_type, d.d, t.n_days,
         t.n_days * SUM(d.cents) OVER (PARTITION BY d.event_type ORDER BY d.d
                                       ROWS UNBOUNDED PRECEDING)
         - ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.d) * t.total
           AS cusum_x
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
r AS (
  SELECT event_type, d, n_days, cusum_x,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(cusum_x) DESC, d) AS rk
  FROM c
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS cp_day,
       CAST(n_days AS BIGINT) AS n_days,
       ROUND(CAST(cusum_x AS DOUBLE) / (100.0 * n_days), 6) + 0 AS cusum_peak
FROM r WHERE rk = 1
ORDER BY event_type
""",
)
def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING changepoint monitoring — the online twin of
    timeseries_cusum_changepoint: the event log replays as
    CUSUMSTREAM_FILES genuine micro-batches (ranged staging,
    maxFilesPerTrigger=1); foreachBatch reduces each batch to its
    per-(event_type, day) exact-cents partials and folds them into a
    VERSIONED state table (state_v{i} = state_v{i-1} + batch partials,
    so a retried batch rewrites its own version, never double-counts —
    the incremental-covariance discipline). The CUSUM changepoint
    derived from the LAST committed state is hash-equal to the batch
    oracle over all rows at once: the monitor stays warm on the
    stream, nothing is rescanned per tick.

    Scale: per tick the work is one O(batch) keyed reduce to
    (series × day) partial rows; state is bounded by series-count ×
    calendar days, independent of stream volume; exact-integer cents
    make the fold order-independent, so micro-batch boundaries cannot
    shift the hash (same contract the 1-vs-N replay tests pin for the
    EWMA and top-k monitors).
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    stream = _replay(
        spark, ev, CUSUMSTREAM_FILES, "event_id", _stage_dir(sf_dir, "stream_src_cusum")
    )
    daily = _versioned_fold(  # bounded: series x calendar-days rows
        stream,
        _sink("cusum_state", sf_dir),
        lambda b: b.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
            F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
        ),
        ["event_type", "d"],
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").cast("bigint").alias("total")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrow = Window.partitionBy("event_type").orderBy("d")
    c = daily.join(tot, "event_type").select(
        "event_type",
        "d",
        "n_days",
        (
            F.col("n_days") * F.sum("cents").over(wcum)
            - F.row_number().over(wrow).cast("bigint") * F.col("total")
        ).alias("cusum_x"),
    )
    wrk = Window.partitionBy("event_type").orderBy(F.abs(F.col("cusum_x")).desc(), "d")
    return (
        c.withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("cp_day"),
            F.col("n_days").cast("bigint").alias("n_days"),
            (
                F.round(F.col("cusum_x").cast("double") / (100.0 * F.col("n_days")), 6)
                + 0
            ).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


# --------------------------------------- streaming ANN index ingest

IVFSTREAM_FILES = 4  # micro-batches the corpus replays as
IVFSTREAM_ANCHOR_DEN = 4  # bootstrap slice: first 1/4 of ids (floor K_CELLS)


def _stream_build_cell_index(spark: SparkSession, df, model, stage: str,
                             index_dir: str) -> None:
    """The streaming ANN ingest core, shared by stream_ivf_index_ingest
    and the drift-retrain lifecycle: replay ``df`` (vec_id, emb) as
    IVFSTREAM_FILES ranged micro-batches; cell-assign each batch by the
    BROADCAST centroids (stateless pandas-UDF map — no state store);
    land in the cell-PARTITIONED parquet ``index_dir`` via the native
    streaming file sink, whose _spark_metadata transaction log makes
    ingest EXACTLY-ONCE under retry. The stage dir is removed
    afterwards; the index dir remains (probes and the plan/semantics
    tests read it)."""
    shutil.rmtree(index_dir, ignore_errors=True)
    assigned = model.transform(_replay(spark, df, IVFSTREAM_FILES, "vec_id", stage), "cell")
    _run_stream(
        assigned.writeStream.format("parquet").option("path", index_dir).partitionBy("cell")
    )
    shutil.rmtree(stage, ignore_errors=True)


def _ann_index_commit(index_root: str, version: int, dirs: list[str],
                      retrained: int, extra: dict | None = None) -> None:
    """Commit one serving-index version: write an immutable manifest
    (the data dirs this version comprises + which branch produced it)
    then ATOMICALLY swap the CURRENT pointer via os.replace — the
    sink_table_snapshots discipline. Older manifests are retained, so
    rollback is re-pointing CURRENT at a previous version; readers
    resolve CURRENT -> manifest -> dirs and never see a half-written
    version. ``extra`` merges additional manifest keys (e.g. the
    tombstone dir a delete tick attaches, or the source version a
    compaction collapsed)."""
    import json

    os.makedirs(index_root, exist_ok=True)
    manifest = {"version": version, "dirs": dirs, "retrained": retrained}
    if extra:
        manifest.update(extra)
    with open(os.path.join(index_root, f"manifest_v{version}.json"), "w") as f:
        json.dump(manifest, f)
    tmp = os.path.join(index_root, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(index_root, "CURRENT"))


def _ann_index_current(index_root: str) -> dict:
    """Resolve the CURRENT pointer to its manifest dict."""
    import json

    with open(os.path.join(index_root, "CURRENT")) as f:
        v = int(f.read().strip())
    with open(os.path.join(index_root, f"manifest_v{v}.json")) as f:
        return json.load(f)


def _probe_cell_index(spark: SparkSession, qv, model, index_dir,
                      n_probe: int) -> DataFrame:
    """Top-k of the queries ``qv`` (qid, qemb) over the n_probe nearest
    cells of ``model`` in a cell-partitioned on-disk index — the
    similarity._probe_index pruned scan. ``index_dir`` is one dir or a
    LIST of dirs: a versioned index's manifest names the base + delta
    dirs and the scan unions them (each still cell-partitioned, each
    still pruned)."""
    from spark_rapids_ml_spark.operators.similarity import (
        _probe_index,
        _topk,
        ivf_centroid_rows,
        ivf_probe,
    )

    probe = ivf_probe(qv, ivf_centroid_rows(spark, model), n_probe)
    dirs = [index_dir] if isinstance(index_dir, str) else list(index_dir)
    # one read per dir: each dir is its own partition-discovery root, so
    # each keeps its cell= partition column and its pruning
    return _topk(_probe_index(qv, probe, [spark.read.parquet(d) for d in dirs]))


def _ivf_ingest_oracle() -> str:
    from spark_rapids_ml_spark.operators.similarity import (
        _SQL_E,
        _sql_kmeans_cells,
        IVF_CELL_FLOOR,
        IVF_ITERS,
        K_CELLS,
        N_QUERIES,
        SQL_IVF_NPROBE,
        TOP_K,
    )

    return f"""
WITH e AS MATERIALIZED ({_SQL_E}),
acap AS (SELECT GREATEST({K_CELLS}, COUNT(*) // {IVFSTREAM_ANCHOR_DEN}) AS cap FROM e),
tr AS MATERIALIZED (SELECT * FROM e WHERE vec_id < (SELECT cap FROM acap)),
kc AS (SELECT GREATEST({IVF_CELL_FLOOR}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM tr),
{_sql_kmeans_cells(k_sql="(SELECT k FROM kc)", src="tr", assign_src="e")},
q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < {N_QUERIES}),
probe AS (
  SELECT qid, cl FROM (
    SELECT q.qid, c.cl,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY ROUND(list_cosine_similarity(q.qemb, c.cemb), 6) DESC, c.cl) AS prk
    FROM q CROSS JOIN cent{IVF_ITERS} c
  ) WHERE prk <= {SQL_IVF_NPROBE}
),
scored AS (
  SELECT q.qid, s.vec_id,
         ROUND(list_cosine_similarity(q.qemb, s.emb), 6) AS cosine
  FROM q JOIN probe p ON p.qid = q.qid
  JOIN cells s ON s.cl = p.cl AND s.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
"""


@register(
    "stream_ivf_index_ingest",
    tags=("streaming", "similarity", "ivf", "scale"),
    oracle=_ivf_ingest_oracle(),
)
def stream_ivf_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN index maintenance — the FAISS production workflow
    (train the coarse quantizer once on a bootstrap sample, then add
    vectors forever) on Structured Streaming: k-means cells are
    learned on the ANCHOR slice (first 1/IVFSTREAM_ANCHOR_DEN of ids,
    k = ceil(sqrt(anchor))); the corpus then replays as
    IVFSTREAM_FILES micro-batches and each batch is cell-assigned by
    the BROADCAST centroids (a stateless pandas-UDF map — no state
    store) and lands in the cell-PARTITIONED parquet index via the
    native streaming file sink, whose _spark_metadata transaction log
    makes ingest EXACTLY-ONCE under retry (the
    stream_file_sink_exactly_once contract). Probing the finished
    index prunes to the nprobe probed cell partitions, exactly like
    sim_ivf_persisted_probe.

    The DuckDB oracle re-runs the bootstrap training unrolled over the
    anchor slice (the _sql_kmeans_cells src/assign_src split), assigns
    the FULL corpus, and re-ranks — so the incrementally-built index
    is hash-checked end to end against an all-at-once build: batch
    boundaries provably don't change the index (cell assignment is a
    pure per-row function of the frozen centroids).
    tests/test_streaming_semantics.py additionally pins 1-vs-4-batch
    ingest equality on the index CONTENT.

    Scale: this is how a 100 TB embedding corpus keeps its ANN index
    warm — training cost is bounded by the anchor (never re-run),
    per-tick work is one stateless map + partitioned append, and the
    sink manifest makes restarts idempotent. Probes pay nprobe/k of
    the index bytes regardless of how many batches built it.
    """
    from spark_rapids_ml_spark.operators.similarity import (
        K_CELLS,
        N_QUERIES,
        _ivf_fit,
        ivf_nprobe,
    )

    index_dir = _sink("ivf_ingest_index", sf_dir)
    e = load(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    n = ed.count()
    anchor = ed.where(F.col("vec_id") < max(K_CELLS, n // IVFSTREAM_ANCHOR_DEN))
    model = _ivf_fit(anchor, anchor.count())

    # replay the corpus as ranged micro-batches through the ingest,
    # then probe the finished index (partition-pruned scan, the
    # sim_ivf_persisted_probe access path; shared centroid/probe
    # helpers keep the rank-and-tiebreak identical across tiers)
    _stream_build_cell_index(
        spark, ed, model, _stage_dir(sf_dir, "stream_src_ivf"), index_dir
    )
    qv = ed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    return _probe_cell_index(
        spark, qv, model, index_dir, ivf_nprobe(len(model.centroids))
    )


# ------------------------------- drift-gated retrain lifecycle (ANN)

# The drift simulated by the declared query: the current window is
# translated by +ANN_DRIFT_SHIFT per dimension (one exact FP add,
# identical in both engines). Translation preserves all pairwise
# Euclidean structure — k-means on the shifted window clusters
# identically to the unshifted one — but moves the cloud far from the
# reference-trained centroids, so the cell HISTOGRAM collapses and PSI
# trips the retrain gate, exactly the "new corpus from a different
# domain" event the lifecycle exists for.
# tests/test_streaming_semantics.py runs the same lifecycle with
# shift=0.0 (the natural even/odd split, no drift) and pins that the
# gate does NOT fire and the v1 quantizer is reused byte-for-byte.
ANN_DRIFT_SHIFT = 1.0


def _ann_lifecycle_oracle(shift: float = ANN_DRIFT_SHIFT) -> str:
    from spark_rapids_ml_spark.operators.similarity import (
        _SQL_E,
        _sql_kmeans_cells,
        psi_micro_sql,
        IVF_CELL_FLOOR,
        IVF_ITERS,
        IVF_NPROBE,
        IVF_PROBE_DEN,
        N_QUERIES,
        PSI_RETRAIN_MICRO,
        TOP_K,
    )

    return f"""
WITH e AS MATERIALIZED ({_SQL_E}),
ref AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE vec_id % 2 = 0),
cur AS MATERIALIZED (
  SELECT vec_id, list_transform(emb, x -> x + {shift!r}) AS emb
  FROM e WHERE vec_id % 2 = 1),
refcur AS MATERIALIZED (SELECT * FROM ref UNION ALL SELECT * FROM cur),
kc1 AS (SELECT GREATEST({IVF_CELL_FLOOR}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM ref),
{_sql_kmeans_cells(k_sql="(SELECT k FROM kc1)", src="ref", assign_src="refcur", prefix="v1_")},
w AS (SELECT s.cl AS cell, s.vec_id % 2 AS pop FROM v1_cells s),
c AS (SELECT pop, cell, COUNT(*) AS n FROM w GROUP BY 1, 2),
spine AS (SELECT cl AS cell FROM v1_cent{IVF_ITERS}),
tot AS (SELECT pop, SUM(n) AS t FROM c GROUP BY 1),
m AS (
  SELECT spine.cell, COALESCE(p.n, 0) AS n_ref, COALESCE(q2.n, 0) AS n_cur,
         (SELECT t FROM tot WHERE pop = 0) AS t_ref,
         (SELECT t FROM tot WHERE pop = 1) AS t_cur,
         (SELECT k FROM kc1) AS k
  FROM spine
  LEFT JOIN c p ON p.cell = spine.cell AND p.pop = 0
  LEFT JOIN c q2 ON q2.cell = spine.cell AND q2.pop = 1
),
gate AS (SELECT CAST(SUM({psi_micro_sql("k")}) AS BIGINT) AS psi FROM m),
kc2 AS (SELECT GREATEST({IVF_CELL_FLOOR}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM cur),
{_sql_kmeans_cells(k_sql="(SELECT k FROM kc2)", src="cur", assign_src="refcur", prefix="v2_")},
serve_cells AS MATERIALIZED (
  SELECT vec_id, emb, cl FROM v2_cells
  WHERE (SELECT psi FROM gate) > {PSI_RETRAIN_MICRO}
  UNION ALL
  SELECT vec_id, emb, cl FROM v1_cells
  WHERE (SELECT psi FROM gate) <= {PSI_RETRAIN_MICRO}),
serve_cent AS (
  SELECT cl, cemb FROM v2_cent{IVF_ITERS}
  WHERE (SELECT psi FROM gate) > {PSI_RETRAIN_MICRO}
  UNION ALL
  SELECT cl, cemb FROM v1_cent{IVF_ITERS}
  WHERE (SELECT psi FROM gate) <= {PSI_RETRAIN_MICRO}),
np AS (
  SELECT GREATEST({IVF_NPROBE}, (t.k + {IVF_PROBE_DEN} - 1) // {IVF_PROBE_DEN}) AS np
  FROM (SELECT CASE WHEN (SELECT psi FROM gate) > {PSI_RETRAIN_MICRO}
               THEN (SELECT k FROM kc2) ELSE (SELECT k FROM kc1) END AS k) t),
q AS (SELECT vec_id AS qid, emb AS qemb FROM cur WHERE vec_id < {2 * N_QUERIES}),
probe AS (
  SELECT qid, cl FROM (
    SELECT q.qid, c.cl,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY ROUND(list_cosine_similarity(q.qemb, c.cemb), 6) DESC, c.cl) AS prk
    FROM q CROSS JOIN serve_cent c
  ) WHERE prk <= (SELECT np FROM np)
),
scored AS (
  SELECT q.qid, s.vec_id,
         ROUND(list_cosine_similarity(q.qemb, s.emb), 6) AS cosine
  FROM q JOIN probe p ON p.qid = q.qid
  JOIN serve_cells s ON s.cl = p.cl AND s.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, cosine, rk,
       (SELECT psi FROM gate) AS psi_micro,
       CASE WHEN (SELECT psi FROM gate) > {PSI_RETRAIN_MICRO}
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS retrained
FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
"""


@register(
    "stream_ann_drift_retrain_lifecycle",
    tags=("streaming", "similarity", "ivf", "dq", "ml", "scale"),
    oracle=_ann_lifecycle_oracle(),
)
def stream_ann_drift_retrain_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ANN lifecycle, end to end: drift gate →
    retrain → streaming re-ingest → probe. The three pieces each exist
    as declared queries (dq_embedding_drift_psi, the ml/kmeans.py
    quantizer, stream_ivf_index_ingest); this query wires them into
    the operational loop a 100 TB embedding corpus actually runs:

    1. v1 quantizer: k-means trained on the REFERENCE window (even
       ids — the corpus the index was built for).
    2. Drift gate: PSI between the reference and CURRENT windows over
       the v1 learned-cell histogram (the dq_embedding_drift_psi
       monitor; the shared psi_micro_sql term). The current window is
       the odd ids translated by +ANN_DRIFT_SHIFT per dimension — a
       deterministic stand-in for "this month's corpus came from a
       different domain" (see ANN_DRIFT_SHIFT).
    3. Gate decision: total PSI above PSI_RETRAIN_MICRO (the classic
       0.25) → RETRAIN the quantizer on the current window; else keep
       v1. The branch condition is ONE bigint, computed identically
       in both engines (hash-checked per cell in the dq query), so
       driver-side control flow on it is cross-engine deterministic.
    4. Index maintenance under VERSIONED SERVING (round 13): the
       reference window's index exists first (version 1, built
       through the streaming ingest and committed via an immutable
       manifest + atomic CURRENT-pointer swap — the
       sink_table_snapshots discipline). The gate then picks the two
       halves of the FAISS add-vs-retrain workflow: fired → retrain
       and REBUILD the whole grown corpus (ref ∪ cur) into a fresh
       dir (cell geometry changed); quiet → APPEND-ONLY ingest of
       just the delta window under the v1 quantizer — base files
       never rewritten, delta-only writes pinned in tests. Version 2
       commits either way; the v1 manifest is retained for rollback.
       This declared query injects drift, so it takes the retrain/
       rebuild branch; stream_ann_incremental_append is the no-drift
       tick that takes the append branch, driver-checked on its own.
    5. Serve: resolve CURRENT → manifest → dirs, partition-pruned
       probe of the union of (still cell-partitioned) dirs, exact
       re-rank; psi_micro and the retrained flag ride along as proof
       of which path produced the answer.

    The DuckDB oracle re-runs BOTH trainings unrolled (the
    _sql_kmeans_cells prefix namespaces v1_/v2_) and takes the SAME
    gate via scalar-subquery-filtered branch CTEs, so the composed
    loop — binning, gate value, branch choice, retrained cells, final
    top-k — is hash-checked end to end.

    tests/test_streaming_semantics.py runs the below-threshold twin
    (shift=0.0): the gate must NOT fire and the v1 centroids must be
    reused byte-for-byte (np.array_equal on the serving model).

    Bounded driver state, per site: the PSI gate scalar (ONE bigint);
    k1/k2 cell counts (one bigint each); the probed-cell id set inside
    _probe_cell_index (≤ Q x nprobe ids). Scale: both trainings are
    fixed-iteration k-means over one window each; PSI costs one
    corpus scan + a ≤2k-row exchange; the rebuild is the bounded
    streaming ingest; the probe pays nprobe/k of the index bytes."""
    return _ann_lifecycle(spark, sf_dir, shift=ANN_DRIFT_SHIFT)


@register(
    "stream_ann_incremental_append",
    tags=("streaming", "similarity", "ivf", "scale"),
    oracle=_ann_lifecycle_oracle(shift=0.0),
)
def stream_ann_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NO-DRIFT tick of the ANN lifecycle — incremental index
    maintenance as a first-class declared query (round 13, closing
    the 'full rebuild every tick' gap): new vectors arrive (the odd-
    id window, unshifted), the PSI gate stays below threshold, and
    the serving index is maintained by APPENDING only the delta
    window through the streaming exactly-once ingest — the add-
    forever half of the FAISS workflow. The base index's files are
    never rewritten (pinned: tests/test_streaming_semantics.py
    asserts base-dir file stats are byte-identical across the append
    and that the delta dir holds exactly the delta rows); version 2
    commits by writing an immutable manifest naming [base, delta] and
    atomically swapping the CURRENT pointer; the v1 manifest stays on
    disk for rollback. The probe serves the union of the two cell-
    partitioned dirs, partition-pruned as ever, and is pinned
    hash-equal to a from-scratch rebuild of the same grown corpus
    under the same quantizer.

    The oracle is the SAME branch-gated lifecycle SQL with shift=0 —
    the gate value, the not-fired branch decision, v1-assignment of
    the grown corpus, and the final top-k are all hash-checked, so
    the append path is cross-engine verified end to end, not assumed.

    Scale: an append tick costs O(delta) ingest + one manifest write,
    vs O(corpus) for a rebuild tick — at 100 TB with a 0.1% daily
    delta that is the difference between a 100 GB job and a 100 TB
    job. Bounded driver state: the PSI gate bigint and the probed-
    cell id set, exactly as the drift branch."""
    return _ann_lifecycle(spark, sf_dir, shift=0.0)


def _ann_lifecycle(spark: SparkSession, sf_dir: str, shift: float):
    """The lifecycle with an injectable drift amount (shift=0.0 is the
    no-drift twin the below-threshold pytest pins). Returns the probe
    DataFrame; the chosen serving model is exposed on the function
    attribute ``last_serving_model`` for the byte-stability test."""
    from spark_rapids_ml_spark.operators.similarity import (
        N_QUERIES,
        PSI_RETRAIN_MICRO,
        _ivf_fit,
        _psi_cell_counts,
        ivf_nprobe,
        psi_micro_sql,
    )

    e = load(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    ref = ed.where(F.col("vec_id") % 2 == 0)
    cur = ed.where(F.col("vec_id") % 2 == 1).select(
        "vec_id", F.transform("emb", lambda x: x + F.lit(shift)).alias("emb")
    )

    # 1. v1 quantizer on the reference window, and the VERSION-1
    # serving index the corpus already has: the reference window
    # ingested through the streaming path, committed under the
    # versioned-manifest layout (round 13 — the index exists BEFORE
    # new data arrives, which is what makes an append meaningful)
    m1 = _ivf_fit(ref, ref.count())
    k1 = len(m1.centroids)
    variant = "drift" if shift else "nodrift"
    stage = f"{_stage_dir(sf_dir, 'stream_src_ivf')}_lifecycle_{variant}"
    index_root = _sink(f"ann_lifecycle_{variant}", sf_dir)
    shutil.rmtree(index_root, ignore_errors=True)  # deterministic per run
    base_dir = f"{index_root}/data_base"
    _stream_build_cell_index(spark, ref, m1, stage, base_dir)
    _ann_index_commit(index_root, 1, ["data_base"], retrained=0)

    # 2. drift gate: PSI over the v1 cell histogram (dq discipline)
    m = _psi_cell_counts(spark, m1, ref.unionByName(cur))
    # bounded driver state: the gate is ONE bigint (sum of k1 per-cell
    # micro terms), cross-engine deterministic by the dq discipline
    psi_total = int(
        m.agg(F.sum(F.expr(psi_micro_sql(str(k1)))).cast("bigint")).first()[0]
    )
    retrained = psi_total > PSI_RETRAIN_MICRO

    # 3/4. branch on the gate — the two halves of the FAISS workflow:
    #  - gate fired: RETRAIN the quantizer on the current window and
    #    REBUILD the whole grown corpus (ref ∪ cur) into a fresh dir
    #    (cell geometry changed; every vector must re-assign);
    #  - gate quiet: APPEND-ONLY — ingest JUST the delta window under
    #    the existing v1 quantizer into its own dir; the base files
    #    are never rewritten (delta-only writes pinned in tests).
    # Either way version 2 commits via the atomic manifest/pointer
    # swap; the v1 manifest stays on disk for rollback.
    if retrained:
        serve_model = _ivf_fit(cur, cur.count())
        rebuild_dir = f"{index_root}/data_rebuild_v2"
        _stream_build_cell_index(
            spark, ref.unionByName(cur), serve_model, stage, rebuild_dir
        )
        _ann_index_commit(index_root, 2, ["data_rebuild_v2"], retrained=1)
    else:
        serve_model = m1
        delta_dir = f"{index_root}/data_delta_v2"
        _stream_build_cell_index(spark, cur, serve_model, stage, delta_dir)
        _ann_index_commit(
            index_root, 2, ["data_base", "data_delta_v2"], retrained=0
        )
    _ann_lifecycle.last_serving_model = serve_model
    _ann_lifecycle.last_index_root = index_root

    # 5. serve: resolve CURRENT -> manifest -> dirs, partition-pruned
    # probe + exact re-rank, with the gate value and branch flag as
    # output columns
    serve_dirs = [
        f"{index_root}/{d}" for d in _ann_index_current(index_root)["dirs"]
    ]
    qv = cur.where(F.col("vec_id") < 2 * N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    out = _probe_cell_index(
        spark, qv, serve_model, serve_dirs, ivf_nprobe(len(serve_model.centroids))
    )
    return out.select(
        "qid",
        "vec_id",
        "cosine",
        "rk",
        F.lit(psi_total).cast("bigint").alias("psi_micro"),
        F.lit(1 if retrained else 0).cast("bigint").alias("retrained"),
    ).orderBy("qid", "rk")


def _ann_compaction_oracle() -> str:
    from spark_rapids_ml_spark.operators.similarity import (
        _SQL_E,
        _sql_kmeans_cells,
        IVF_CELL_FLOOR,
        IVF_ITERS,
        IVF_NPROBE,
        IVF_PROBE_DEN,
        N_QUERIES,
        TOP_K,
    )

    return f"""
WITH e AS MATERIALIZED ({_SQL_E}),
ref AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE vec_id % 2 = 0),
cur AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE vec_id % 2 = 1),
kc1 AS (SELECT GREATEST({IVF_CELL_FLOOR}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM ref),
{_sql_kmeans_cells(k_sql="(SELECT k FROM kc1)", src="ref", assign_src="e", prefix="v1_")},
tomb AS (SELECT vec_id FROM e WHERE vec_id % 7 = 3),
live AS MATERIALIZED (SELECT vec_id, emb, cl FROM v1_cells WHERE vec_id % 7 <> 3),
nb AS (SELECT COUNT(*) AS n FROM e),
nt AS (SELECT COUNT(*) AS n FROM tomb),
np AS (SELECT GREATEST({IVF_NPROBE}, ((SELECT k FROM kc1) + {IVF_PROBE_DEN} - 1) // {IVF_PROBE_DEN}) AS np),
q AS (SELECT vec_id AS qid, emb AS qemb FROM cur WHERE vec_id < {2 * N_QUERIES}),
probe AS (
  SELECT qid, cl FROM (
    SELECT q.qid, c.cl,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY ROUND(list_cosine_similarity(q.qemb, c.cemb), 6) DESC, c.cl) AS prk
    FROM q CROSS JOIN v1_cent{IVF_ITERS} c
  ) WHERE prk <= (SELECT np FROM np)
),
scored AS (
  SELECT q.qid, s.vec_id,
         ROUND(list_cosine_similarity(q.qemb, s.emb), 6) AS cosine
  FROM q JOIN probe p ON p.qid = q.qid
  JOIN live s ON s.cl = p.cl AND s.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, cosine, rk,
       (SELECT n FROM nb) AS n_before,
       (SELECT n FROM nt) AS n_tombstoned,
       (SELECT n FROM nb) - (SELECT n FROM nt) AS n_after
FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
"""


@register(
    "stream_ann_compaction_tick",
    tags=("streaming", "similarity", "ivf", "scale"),
    oracle=_ann_compaction_oracle(),
)
def stream_ann_compaction_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONED DELETES + COMPACTION — the remaining half of index
    maintenance (round 13; completes the CRUD story the append tick
    started). A production vector index must support deletes (the
    right-to-be-forgotten requirement a 100 TB training corpus
    actually carries) and must periodically fold its accumulated
    append deltas back into large base files (the FAISS/Lucene merge
    step) — both WITHOUT a from-scratch retrain.

    The tick sequence, every version an immutable manifest + atomic
    CURRENT-pointer swap (the sink_table_snapshots discipline):

      v1  base index: the reference window (even ids) ingested through
          the streaming exactly-once path under the v1 quantizer.
      v2  append tick: the delta window (odd ids) ingested into its
          own dir — stream_ann_incremental_append's no-drift half.
      v3  deletes arrive as TOMBSTONES: the doomed ids (vec_id%7==3,
          spanning base AND delta) written as a parquet id set and
          attached to the manifest — an O(deletes) metadata commit;
          no data file is touched, readers anti-join the tombstones.
      v4  COMPACTION: one batch job reads base ∪ delta, anti-joins the
          tombstone ids, and rewrites the survivors into a single
          cell-partitioned dir REUSING the STORED cell column — pure
          IO, no model evaluation, no retrain; the quantizer is
          untouched. CURRENT swaps to v4; v1–v3 manifests and their
          data dirs stay on disk, so rollback to the pre-delete or
          pre-compaction view is re-pointing CURRENT.

    The probe then serves v4: partition-pruned cell scan + exact
    re-rank, with (n_before, n_tombstoned, n_after) as output columns
    so the delete arithmetic itself is hash-checked. The oracle
    re-runs the v1 training unrolled (the _sql_kmeans_cells chain,
    assign over the full corpus), drops the tombstoned ids, and
    probes the surviving cells — so "compacted index ≡ logical view
    minus deletes" is cross-engine verified end to end, not assumed.
    tests/test_streaming_semantics.py additionally pins: the physical
    v4 dir holds exactly n_after rows and NO tombstoned id; probe
    over v4 row-equals probe over the v3 view (base ∪ delta with the
    tombstone anti-join); and the base/delta file stats are
    byte-identical across the compaction (rollback stays viable).

    Scale: the tombstone commit is O(deletes) metadata; the compaction
    is ONE shuffle of the surviving corpus (repartition by cell so
    each cell lands as one large file — that file-merge IS the point),
    amortized over the many O(delta) append ticks it absorbs; probes
    pay the tombstone anti-join only BETWEEN compactions (v3 reads),
    never after. Bounded driver state: three scalar counts and the
    probed-cell id set (the sim_ivf_persisted_probe contract).

    Reference contract: the write-once/maintain-forever index shape of
    RapidsRowMatrix.scala:177-199's batched scan discipline, extended
    with the FAISS remove_ids/merge workflow the ingest docstring
    cites."""
    from spark_rapids_ml_spark.operators.similarity import (
        N_QUERIES,
        _ivf_fit,
        ivf_nprobe,
    )

    e = load(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    ref = ed.where(F.col("vec_id") % 2 == 0)
    cur = ed.where(F.col("vec_id") % 2 == 1)

    n_ref = ref.count()
    m1 = _ivf_fit(ref, n_ref)

    stage = f"{_stage_dir(sf_dir, 'stream_src_ivf')}_compaction"
    index_root = _sink("ann_compaction", sf_dir)
    shutil.rmtree(index_root, ignore_errors=True)  # deterministic per run
    base_dir = f"{index_root}/data_base"
    delta_dir = f"{index_root}/data_delta_v2"

    # v1: the base index the corpus already has
    _stream_build_cell_index(spark, ref, m1, stage, base_dir)
    _ann_index_commit(index_root, 1, ["data_base"], retrained=0)

    # v2: the append tick (no retrain — the add-forever half)
    _stream_build_cell_index(spark, cur, m1, stage, delta_dir)
    _ann_index_commit(index_root, 2, ["data_base", "data_delta_v2"], retrained=0)

    # v3: deletes arrive — an O(deletes) tombstone commit, zero data
    # files rewritten
    tomb = ed.where(F.col("vec_id") % 7 == 3).select("vec_id")
    tomb.coalesce(1).write.mode("overwrite").parquet(
        f"{index_root}/tombstones_v3"
    )
    _ann_index_commit(index_root, 3, ["data_base", "data_delta_v2"],
                      retrained=0, extra={"tombstones": "tombstones_v3"})

    # pre-compaction file stats: the rollback-viability pin's witness
    # (base/delta must be byte-identical after the compaction)
    pre_stats = {}
    for d in ("data_base", "data_delta_v2"):
        droot = os.path.join(index_root, d)
        for dirpath, _dirs, files in os.walk(droot):
            for fn in files:
                p = os.path.join(dirpath, fn)
                pre_stats[os.path.relpath(p, index_root)] = os.path.getsize(p)
    stream_ann_compaction_tick.last_pre_compaction_stats = pre_stats

    # v4: compaction — pure IO over the STORED assignments (the
    # quantizer is never evaluated): read base ∪ delta (each dir its
    # own partition-discovery root), anti-join the tombstone ids, one
    # shuffle by cell so each cell compacts into large files
    man3 = _ann_index_current(index_root)
    live = None
    for d in man3["dirs"]:
        part = spark.read.parquet(f"{index_root}/{d}")
        live = part if live is None else live.unionByName(part)
    tomb_ids = spark.read.parquet(f"{index_root}/{man3['tombstones']}")
    survivors = live.join(tomb_ids, "vec_id", "left_anti")
    compact_dir = f"{index_root}/data_compact_v4"
    (
        survivors.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(compact_dir)
    )
    _ann_index_commit(index_root, 4, ["data_compact_v4"], retrained=0,
                      extra={"compacted_from": 3})
    stream_ann_compaction_tick.last_index_root = index_root
    stream_ann_compaction_tick.last_serving_model = m1

    n_before = ed.count()
    n_tomb = tomb.count()

    # serve v4: resolve CURRENT -> manifest -> dirs, pruned probe
    serve_dirs = [
        f"{index_root}/{d}" for d in _ann_index_current(index_root)["dirs"]
    ]
    qv = cur.where(F.col("vec_id") < 2 * N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    out = _probe_cell_index(spark, qv, m1, serve_dirs, ivf_nprobe(len(m1.centroids)))
    return out.select(
        "qid",
        "vec_id",
        "cosine",
        "rk",
        F.lit(n_before).cast("bigint").alias("n_before"),
        F.lit(n_tomb).cast("bigint").alias("n_tombstoned"),
        F.lit(n_before - n_tomb).cast("bigint").alias("n_after"),
    ).orderBy("qid", "rk")


def _ann_index_rollback(index_root: str, version: int) -> None:
    """ROLLBACK = re-point CURRENT at a retained older manifest — a
    pointer-only atomic swap (os.replace), NO manifest written and NO
    data dir touched: the operation the retained-manifest discipline
    exists for. Rolling FORWARD again is the same call with a newer
    retained version."""
    if not os.path.exists(os.path.join(index_root, f"manifest_v{version}.json")):
        raise ValueError(f"no retained manifest_v{version} under {index_root}")
    tmp = os.path.join(index_root, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(index_root, "CURRENT"))


def _ann_rollback_oracle() -> str:
    from spark_rapids_ml_spark.operators.similarity import (
        _SQL_E,
        _sql_kmeans_cells,
        IVF_CELL_FLOOR,
        IVF_ITERS,
        IVF_NPROBE,
        IVF_PROBE_DEN,
        N_QUERIES,
        TOP_K,
    )

    return f"""
WITH e AS MATERIALIZED ({_SQL_E}),
ref AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE vec_id % 2 = 0),
cur AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE vec_id % 2 = 1),
kc1 AS (SELECT GREATEST({IVF_CELL_FLOOR}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM ref),
{_sql_kmeans_cells(k_sql="(SELECT k FROM kc1)", src="ref", assign_src="ref", prefix="v1_")},
ni AS (SELECT COUNT(*) AS n FROM ref),
np AS (SELECT GREATEST({IVF_NPROBE}, ((SELECT k FROM kc1) + {IVF_PROBE_DEN} - 1) // {IVF_PROBE_DEN}) AS np),
q AS (SELECT vec_id AS qid, emb AS qemb FROM cur WHERE vec_id < {2 * N_QUERIES}),
probe AS (
  SELECT qid, cl FROM (
    SELECT q.qid, c.cl,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY ROUND(list_cosine_similarity(q.qemb, c.cemb), 6) DESC, c.cl) AS prk
    FROM q CROSS JOIN v1_cent{IVF_ITERS} c
  ) WHERE prk <= (SELECT np FROM np)
),
scored AS (
  SELECT q.qid, s.vec_id,
         ROUND(list_cosine_similarity(q.qemb, s.emb), 6) AS cosine
  FROM q JOIN probe p ON p.qid = q.qid
  JOIN v1_cells s ON s.cl = p.cl AND s.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, cosine, rk,
       CAST(1 AS BIGINT) AS served_version,
       (SELECT n FROM ni) AS n_index
FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
"""


@register(
    "stream_ann_rollback_probe",
    tags=("streaming", "similarity", "ivf", "scale"),
    oracle=_ann_rollback_oracle(),
)
def stream_ann_rollback_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPERATIONAL ROLLBACK — the incident-response half of versioned
    serving (round 13, completing the story the retained manifests
    exist for): after a v2 append tick, quality monitoring rejects
    the new data, and serving is rolled back to version 1 by an
    ATOMIC pointer-only re-point (os.replace of CURRENT) — no
    manifest written, no data dir touched, O(1) regardless of corpus
    size. New-data queries (the delta window's own vectors, the
    realistic incident shape: fresh traffic probing the restored old
    index) then serve against the v1 base view. The v2 manifest and
    delta dir REMAIN on disk, so rolling forward is the same O(1)
    re-point — pinned in tests/test_streaming_semantics.py: the
    roll-forward probe is row-equal to the pre-rollback v2 probe.

    (served_version, n_index) ride as output columns so the oracle
    hash-checks WHICH version served and how many vectors the
    restored view holds — the rollback decision itself is
    cross-engine verified, not assumed. The oracle re-runs the v1
    training unrolled over the reference window only (src=ref,
    assign_src=ref — the base index's exact content).

    Scale: the rollback is two filesystem metadata ops on the
    manifest dir; the probe is the standard partition-pruned cell
    scan + exact re-rank. Bounded driver state: the probed-cell id
    set (the sim_ivf_persisted_probe contract)."""
    from spark_rapids_ml_spark.operators.similarity import (
        N_QUERIES,
        _ivf_fit,
        ivf_nprobe,
    )

    e = load(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    ref = ed.where(F.col("vec_id") % 2 == 0)
    cur = ed.where(F.col("vec_id") % 2 == 1)

    n_ref = ref.count()
    m1 = _ivf_fit(ref, n_ref)

    stage = f"{_stage_dir(sf_dir, 'stream_src_ivf')}_rollback"
    index_root = _sink("ann_rollback", sf_dir)
    shutil.rmtree(index_root, ignore_errors=True)  # deterministic per run

    # v1 base, v2 append — the history the incident interrupts
    _stream_build_cell_index(spark, ref, m1, stage, f"{index_root}/data_base")
    _ann_index_commit(index_root, 1, ["data_base"], retrained=0)
    _stream_build_cell_index(spark, cur, m1, stage, f"{index_root}/data_delta_v2")
    _ann_index_commit(index_root, 2, ["data_base", "data_delta_v2"], retrained=0)

    # the incident: serving rolls back to v1 — pointer-only, atomic
    _ann_index_rollback(index_root, 1)
    stream_ann_rollback_probe.last_index_root = index_root
    stream_ann_rollback_probe.last_serving_model = m1

    man = _ann_index_current(index_root)
    serve_dirs = [f"{index_root}/{d}" for d in man["dirs"]]
    qv = cur.where(F.col("vec_id") < 2 * N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    out = _probe_cell_index(spark, qv, m1, serve_dirs, ivf_nprobe(len(m1.centroids)))
    return out.select(
        "qid",
        "vec_id",
        "cosine",
        "rk",
        F.lit(man["version"]).cast("bigint").alias("served_version"),
        F.lit(n_ref).cast("bigint").alias("n_index"),
    ).orderBy("qid", "rk")
