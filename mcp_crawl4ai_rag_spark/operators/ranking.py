"""Scale-safe global rank assignment (dense 0-based row numbering).

A bare ``row_number().over(Window.orderBy(...))`` funnels every row through
ONE task — fine for driver-page-sized frames, a stall at 10^8 rows. The
two-stage shape here is the classic distributed rank:

1. range-repartition + sort within partitions on the order columns —
   partitions now hold contiguous, internally-sorted key ranges;
2. a mapInPandas pass appends each row's LOCAL index (order-preserving,
   no shuffle);
3. per-partition counts (tiny: one row per partition) become cumulative
   offsets on the driver, broadcast-joined back;
4. global rank = partition offset + local index.

The intermediate is cached and materialized before step 3: range
partitioning samples its boundaries per execution, so the counts job and
the consuming job must observe the SAME physical partitioning. Callers
unpersist the returned handle once the ranked frame has been consumed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from mcp_crawl4ai_rag_spark.frames import local_frame


def with_global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "__rank",
    npartitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Append a dense 0-based global rank ordered by ``order_cols``.

    Returns ``(ranked, pinned)``; ``pinned`` is the cached intermediate —
    call ``pinned.unpersist()`` after fully consuming ``ranked``.
    """
    spark = df.sparkSession
    n = npartitions or spark.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    out_schema = StructType(
        d.schema.fields + [StructField("__lidx", LongType(), False)]
    )

    def add_local_index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = 0
        for b in batches:
            b = b.copy()
            b["__lidx"] = range(i, i + len(b))
            i += len(b)
            yield b

    pinned = d.mapInPandas(add_local_index, out_schema).cache()
    counts = {
        r["__pid"]: r["n"]
        for r in pinned.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if offsets:
        off_df = local_frame(spark, offsets, "__pid int, __off long")
        ranked = (
            pinned.join(F.broadcast(off_df), "__pid")
            .withColumn(rank_col, F.col("__lidx") + F.col("__off"))
            .drop("__pid", "__lidx")
        )
    else:
        ranked = pinned.withColumn(rank_col, F.col("__lidx")).drop(
            "__pid", "__lidx"
        )
    return ranked, pinned


def with_global_cumsum(
    df: DataFrame,
    val_col: str,
    order_cols: list,
    cumsum_col: str = "__cumsum",
    npartitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Append the EXCLUSIVE global prefix sum of ``val_col`` in
    ``order_cols`` order (each row gets the sum of all values strictly
    before it) — the distributed prefix-sum twin of ``with_global_rank``:
    range partition + local cumsum, per-partition totals (one tiny row
    each) cumulated on the driver and broadcast back. Never a
    single-partition window.

    Returns ``(summed, pinned)``; unpersist ``pinned`` after consuming.
    """
    spark = df.sparkSession
    n = npartitions or spark.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    out_schema = StructType(
        d.schema.fields + [StructField("__lsum", LongType(), False)]
    )
    vcol = val_col

    def add_local_cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = 0
        for b in batches:
            b = b.copy()
            c = b[vcol].astype("int64").cumsum()
            b["__lsum"] = acc + c - b[vcol].astype("int64")  # exclusive
            acc += int(b[vcol].sum())
            yield b

    pinned = d.mapInPandas(add_local_cumsum, out_schema).cache()
    totals = {
        r["__pid"]: r["s"]
        for r in pinned.groupBy("__pid")
        .agg(F.sum(vcol).cast("long").alias("s"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += int(totals[pid] or 0)
    if offsets:
        off_df = local_frame(spark, offsets, "__pid int, __off long")
        summed = (
            pinned.join(F.broadcast(off_df), "__pid")
            .withColumn(cumsum_col, F.col("__lsum") + F.col("__off"))
            .drop("__pid", "__lsum")
        )
    else:
        summed = pinned.withColumn(cumsum_col, F.col("__lsum")).drop(
            "__pid", "__lsum"
        )
    return summed, pinned
