"""Pinned frames: a frame that several later plans read, held as a plan leaf.

``pin`` makes a local checkpoint. Every frame built on it analyses and
plans a leaf instead of the whole upstream tree, and its rows are
computed once: the pre-result stages run now, and the first action
computes the rows and keeps them on the executors, spilling to disk
rather than dropping them. A pinned frame is therefore never silently
recomputed (a crawl fetch or a chunk-and-embed pass runs exactly once);
a lost executor fails the action instead, and the caller redoes the
whole step. ``unpin`` releases the rows.

Used by the crawl round (popped batch, fetched pages) and by the chunk
processor (the new chunks of one batch, counted and appended).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """``df`` as a lazily filled local checkpoint. Release with ``unpin``."""
    return df.localCheckpoint(eager=False)


def unpin(df: DataFrame | None) -> None:
    """Drop a ``pin`` frame's rows: they are the blocks of the RDD under
    its LogicalRDD leaf, which DataFrame.unpersist does not reach."""
    if df is not None:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
