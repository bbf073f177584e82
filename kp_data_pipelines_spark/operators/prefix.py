"""Distributed prefix sums (scan) — the scale-safe global cumulative sum.

A plain ``SUM() OVER (ORDER BY k)`` with no PARTITION BY collapses the
whole table into ONE WindowExec partition (Spark even warns), which is a
non-starter at 100 TB. The classic two-phase scan fixes it:

1. Range-partition by the ordering key, so partition *i* holds a
   contiguous key range and all of partition *i*'s keys precede all of
   partition *i+1*'s.
2. Per-partition local cumulative sum (each WindowExec partition is one
   task's data — bounded memory).
3. A tiny per-partition total table (one row per partition) is scanned on
   the driver to form exclusive offsets, broadcast, and added to each
   local cumsum.

The result is identical to the single-partition window for any unique
ordering key, but every stage is bounded by one partition's data. The
driver-side step handles one row per range partition (32), not billions.

No reference equivalent (pandas ``cumsum`` is single-process —
e.g. running balances in `Accruals Report.ipynb`); this is the
distributed re-expression of that pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    order_key: str | list[str],
    value: Column | str,
    out_col: str = "cum_sum",
) -> DataFrame:
    """Inclusive distributed cumulative sum of ``value`` in ``order_key``
    order, scanned over 32 range partitions. ``order_key`` (one column
    name or a list for a composite order) must define a total order — unique key(s); ``value`` should
    be integral or decimal for exact reassembly. With ``value=lit(1)``
    this is a distributed global row_number — the scale-safe rank."""
    keys = [order_key] if isinstance(order_key, str) else list(order_key)
    val = F.col(value) if isinstance(value, str) else value
    rp = df.repartitionByRange(32, *[F.col(k) for k in keys]).withColumn(
        "__pid", F.spark_partition_id()
    )
    # Local scan within each range partition.
    w = Window.partitionBy("__pid").orderBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Pin ONE realized layout before touching it from two jobs.
    # repartitionByRange samples its boundaries per materialization (the
    # reservoir seed differs per job), so without this the totals collect
    # and the final join could realize different partitionings and the
    # pid-keyed offsets would be silently wrong.
    local = rp.withColumn("__local", F.sum(val).over(w)).localCheckpoint(
        eager=True
    )
    # One row per partition: total + min key, tiny by construction.
    totals = (
        local.groupBy("__pid")
        .agg(
            F.sum(val).alias("__total"),
            F.min(F.struct(*keys)).alias("__min_key"),
        )
        .orderBy("__min_key")
        .collect()
    )
    # Exclusive running offset per partition, keyed by the (now pinned)
    # actual partition id. An all-NULL partition contributes 0.
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["__pid"]] = acc
        if r["__total"] is not None:
            acc += r["__total"]
    spark = df.sparkSession
    # Offset column type follows the summed value's type (bigint for
    # integral input, decimal(p+10,s) for decimal, double for float) so
    # decimal values neither break nor lose precision.
    sum_type = dict(local.dtypes)["__local"]
    if sum_type.startswith("decimal"):
        from decimal import Decimal

        coerce = lambda v: Decimal(v) if not isinstance(v, Decimal) else v
    elif sum_type in ("double", "float"):
        coerce = float
    else:
        coerce = int
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(k), coerce(v)) for k, v in offsets.items()],
            f"__pid int, __offset {sum_type}",
        )
    )
    return (
        local.join(off_df, "__pid")
        .withColumn(out_col, F.col("__local") + F.col("__offset"))
        .drop("__pid", "__local", "__offset")
    )
