"""Distributed-scan primitives: global cumulative sums, row ranks and
NTILE over a TOTAL order without a single-task global-sort window.

A naive ``Window.orderBy(...)`` with no ``partitionBy`` makes Spark
funnel every row through ONE task (`Exchange SinglePartition`) — fine
at 10^5 rows, a named scale-killer at 10^9. The textbook fix is the
two-pass distributed scan:

1. ``repartitionByRange`` on the order key — contiguous, disjoint key
   ranges, all partitions scanned IN PARALLEL;
2. a per-partition window (partitionBy the physical partition id)
   computes the local prefix quantity;
3. per-partition totals — an ``n_partitions``-row driver reduction —
   become broadcast exclusive offsets added back per row.

The result is identical to the single-task window at ANY partition
count (partition-invariance pinned in tests/test_partition_invariance
for every consumer), and no stage in the plan carries an
``Exchange SinglePartition`` (pinned in tests/test_plans.py).

The partition layout is pinned with ``localCheckpoint`` because both
the totals job and the main plan must observe ONE
``repartitionByRange`` sampling outcome; the checkpoint handle is
registered with the query scope, freed after the caller materializes
(``query_run.checkpoint`` one-shot semantics).

First factored here from ``operators/llm_pipeline._pack_token_counts``
(the sequence-packing scan) so RFM NTILE scoring, token-budget
admission and any future global-rank consumer share one audited
implementation. Lives in ``functions/`` per the repo convention:
anything multiple operator modules need must not import from an
operator module at decoration time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_rapids_ml_spark.query_run import checkpoint

SCAN_PARTITIONS = 16  # floor for the range-partition width of the scan


def _scan_width(df: DataFrame, num_partitions: int | None) -> int:
    """Resolve the scan's range-partition width: an explicit caller
    value wins; otherwise follow the session's shuffle parallelism
    (floored at SCAN_PARTITIONS) — a fixed constant would itself
    become the bottleneck the scan exists to remove once rows/width
    outgrows one task's comfort. The offsets map the driver holds is
    one entry per partition either way."""
    if num_partitions is not None:
        return num_partitions
    try:
        conf = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf = SCAN_PARTITIONS
    return max(SCAN_PARTITIONS, conf)

_PID = "_scan_pid"


def _pin_ranged(df: DataFrame, order_by: list, num_partitions: int | None) -> DataFrame:
    """Range-partition ``df`` on the total order and PIN the layout.

    ``repartitionByRange`` samples the key distribution, so two
    evaluations of the same lineage may choose different boundaries —
    the totals job and the downstream window must see the same one.
    Rows with equal keys always co-locate (boundary lookup is a pure
    function of the key), and partition ids ascend in the order of the
    given sort expressions, so ``sorted(pids)`` IS the global order.
    """
    t = df.repartitionByRange(_scan_width(df, num_partitions), *order_by).withColumn(
        _PID, F.spark_partition_id()
    )
    return checkpoint(t.localCheckpoint(eager=False))


def _offset_expr(per_pid: dict[int, int]) -> tuple[Column, int]:
    """(broadcast map lookup pid -> exclusive running offset, grand
    total) from per-partition totals — the scan's tiny middle step."""
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(per_pid):
        offsets[pid] = acc
        acc += per_pid[pid] or 0
    if not offsets:  # empty input: a never-matching 1-entry map
        return F.lit(0), 0
    return (
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col(_PID),
        ),
        acc,
    )


def ranged_cumsum(
    df: DataFrame,
    value_col: str,
    order_by: list,
    cum_col: str = "cum",
    num_partitions: int | None = None,
    totals_out: dict | None = None,
) -> DataFrame:
    """``df`` + inclusive running sum of ``value_col`` over the total
    order ``order_by`` — the distributed equivalent of
    ``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``.

    ``totals_out``: optional dict the scan fills with the exact grand
    total (``"sum"``) and row count (``"count"``) it already computes
    for the offsets — a caller needing SUM(v)/COUNT(*) over the same
    frame (e.g. a token-budget threshold) reads them here instead of
    paying a second full aggregation pass over the input lineage.
    """
    t = _pin_ranged(df, order_by, num_partitions)
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = (
        t.groupBy(_PID)
        .agg(F.sum(value_col).alias("_s"), F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    per_pid = {r[_PID]: r["_s"] for r in rows}
    off, total = _offset_expr(per_pid)
    if totals_out is not None:
        totals_out["sum"] = total
        totals_out["count"] = sum(r["_c"] for r in rows)
    return t.withColumn(cum_col, F.sum(value_col).over(w) + off).drop(_PID)


def ranged_row_number(
    df: DataFrame,
    order_by: list,
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + 1-based global ``ROW_NUMBER() OVER (ORDER BY ...)``
    via the same scan (local row_number + broadcast count offsets)."""
    t = _pin_ranged(df, order_by, num_partitions)
    w = Window.partitionBy(_PID).orderBy(*order_by)
    per_pid = {
        r[_PID]: r["_c"]
        for r in t.groupBy(_PID).agg(F.count(F.lit(1)).alias("_c")).collect()
    }
    off, _total = _offset_expr(per_pid)
    return t.withColumn(
        rn_col, (F.row_number().over(w).cast("bigint") + off).cast("bigint")
    ).drop(_PID)


def ranged_ntile(
    df: DataFrame,
    n_tiles: int,
    order_by: list,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + ``NTILE(n_tiles) OVER (ORDER BY ...)`` without the
    global sort: standard-SQL NTILE is a pure function of the 0-based
    global position p and the total count N — with q, r = divmod(N,
    n), the first r tiles hold q+1 rows — so the distributed
    row-number scan plus one broadcast N yields bit-identical tiles.

    The tile index is computed with bigint ``DIV`` (never float64
    division), so positions are exact for every representable row
    count — float floor-division would start misassigning boundary
    rows once a tile size exceeds ~2^51.
    """
    t = _pin_ranged(df, order_by, num_partitions)
    w = Window.partitionBy(_PID).orderBy(*order_by)
    per_pid = {
        r[_PID]: r["_c"]
        for r in t.groupBy(_PID).agg(F.count(F.lit(1)).alias("_c")).collect()
    }
    off, total = _offset_expr(per_pid)
    q, rem = divmod(total, n_tiles) if n_tiles > 0 else (0, 0)
    pos0 = F.row_number().over(w).cast("bigint") - 1 + off
    big_span = rem * (q + 1)  # rows covered by the first rem (q+1)-sized tiles
    t = t.withColumn("__pos0", pos0)
    tile = F.expr(
        f"CASE WHEN __pos0 < {big_span}L THEN __pos0 DIV {q + 1}L + 1L "
        f"ELSE {rem}L + (__pos0 - {big_span}L) DIV {max(q, 1)}L + 1L END"
    )
    return t.withColumn(out_col, tile.cast("bigint")).drop(_PID, "__pos0")
