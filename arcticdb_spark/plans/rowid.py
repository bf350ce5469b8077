"""Scalable global row-id assignment.

The reference addresses rows by position for ``head/tail/row_range``
(RowRangeClause, reference ``cpp/arcticdb/processing/clause.cpp:874-1018``) —
cheap there because the segment index stores per-segment row counts. Spark has
no global row order, so we reproduce the same trick distributively:

1. range-partition + sort by the index columns (often already true on read);
2. count rows per partition (tiny job — one long per partition);
3. per-partition ``row_number`` + the partition's cumulative offset.

This is the standard two-phase zipWithIndex for DataFrames: no global
single-partition window, so it scales to arbitrarily many executors. When the
data comes from a managed symbol we skip all of this — the writer persisted a
physical ``__row_id__`` column and Parquet min/max stats prune on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROW_ID = "__row_id__"
_PID = "__asdb_pid__"
_PIDK = "__asdb_pidk__"


def with_row_id(df: DataFrame, order_cols: list[str] | None = None,
                already_sorted: bool = False) -> DataFrame:
    """Attach a contiguous 0-based ``__row_id__`` following ``order_cols``.

    If ``order_cols`` is None the current partition order is used (matches
    RDD ``zipWithIndex`` semantics: partition-major, file order on a fresh
    parquet scan).
    """
    if ROW_ID in df.columns:
        return df
    if order_cols and not already_sorted:
        df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    # monotonically_increasing_id encodes (partition_id << 33) | local_index,
    # local_index in encounter order — use it for both the per-partition
    # counts and the final id so no window/sort is ever needed.
    part = df.withColumn(_PID, F.monotonically_increasing_id())
    pid = F.shiftright(F.col(_PID), 33).cast("long")
    # per-partition counts -> cumulative offsets, kept DISTRIBUTED: the
    # counts table is one row per partition, so the running-sum window and
    # the broadcast join stay tiny, and nothing is collected to the driver
    # or inlined into the plan (a create_map literal over hundreds of
    # thousands of partitions at 100 TB would bloat driver memory AND the
    # serialized plan).
    counts = (part.select(pid.alias(_PIDK))
              .groupBy(_PIDK).agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.orderBy(_PIDK).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _PIDK, F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("__asdb_off__"))
    local = F.col(_PID).bitwiseAND(F.lit((1 << 33) - 1)).cast("long")
    out = (part.withColumn(_PIDK, pid)
           .join(F.broadcast(offsets), _PIDK)
           .withColumn(ROW_ID, (F.col("__asdb_off__") + local).cast("long")))
    return out.drop(_PID, _PIDK, "__asdb_off__")


def prefix_sum(df: DataFrame, value_col: str, order_cols: list[str],
               out_col: str = "__prefix_sum__",
               already_sorted: bool = False) -> DataFrame:
    """Distributed inclusive running sum of ``value_col`` over the global
    ``order_cols`` order — the same two-phase scan as :func:`with_row_id`
    generalized from counts to sums:

    1. range-partition + sort by ``order_cols`` (skippable if already true);
    2. per-partition totals (one row per partition) -> cumulative offsets,
       computed with a window over the TINY partition-count table and
       broadcast back;
    3. within-partition running sum (window partitioned by the physical
       partition id — never a single-partition global window).

    Scales to any executor count; the only driver-independent state is one
    row per partition.
    """
    if order_cols and not already_sorted:
        df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    part = df.withColumn(_PID, F.monotonically_increasing_id())
    pid = F.shiftright(F.col(_PID), 33).cast("long")
    sums = (part.select(pid.alias(_PIDK), F.col(value_col))
            .groupBy(_PIDK).agg(F.sum(value_col).alias("psum")))
    w = Window.orderBy(_PIDK).rowsBetween(Window.unboundedPreceding, -1)
    offsets = sums.select(
        _PIDK, F.coalesce(F.sum("psum").over(w), F.lit(0)).alias("__asdb_off__"))
    local = F.col(_PID).bitwiseAND(F.lit((1 << 33) - 1)).cast("long")
    inner = (Window.partitionBy(pid).orderBy(local)
             .rowsBetween(Window.unboundedPreceding, 0))
    out = (part.withColumn(_PIDK, pid)
           .join(F.broadcast(offsets), _PIDK)
           .withColumn(out_col,
                       F.col("__asdb_off__") + F.sum(value_col).over(inner)))
    return out.drop(_PID, _PIDK, "__asdb_off__")
