"""Processing pipeline: unprocessed-page scan → chunk → embed → chunk sink.

Re-expresses the reference's 3-task asyncio processor
(src/processor/core.py:84-208; SURVEY.md §3.2) as a single 4-stage
DataFrame job — no buffers, no advisory locks:

  documents ⟕̸ chunks (anti-join S6/J1, operations.py:138-149)
  → smart-chunk pandas UDF + posexplode (C1)
  → validity filter (P8)
  → hash-embedding pandas UDF (stub for the embedding API)
  → append to chunks (S7; the reference's delete+insert pair at
    processor/core.py:196-198 becomes one atomic snapshot commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.chunking import chunk_documents
from mcp_crawl4ai_rag_spark.functions.embedding import DEFAULT_DIM, make_hash_embed_udf
from mcp_crawl4ai_rag_spark.pins import pin, unpin


def unprocessed_documents(
    documents: DataFrame,
    chunks: DataFrame,
    scope_prefix: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """S6: pages with content and no chunks, newest first
    (operations.py:138-149). The anti-join shuffles only urls; with both
    tables bucketed by url it would be shuffle-free."""
    df = documents.where(
        F.col("content").isNotNull() & (F.col("content") != "")
    )
    if scope_prefix:
        df = df.where(
            F.col("url").startswith(scope_prefix)
            | (F.col("url") == scope_prefix.rstrip("/"))
        )
    df = df.join(chunks.select("url"), "url", "left_anti")
    if limit is not None:
        df = df.orderBy(F.desc("fetch_round"), F.desc("seq_in_round")).limit(limit)
    return df


def process_documents(
    documents: DataFrame,
    chunks: DataFrame,
    embed_dim: int = DEFAULT_DIM,
    scope_prefix: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The full processing micro-batch: returns new chunk rows
    (url, chunk_index, context, content, chunk_json, embedding)."""
    todo = unprocessed_documents(documents, chunks, scope_prefix, limit)
    chunked = chunk_documents(todo.select("url", "content"))
    embed = make_hash_embed_udf(embed_dim)
    return chunked.withColumn("embedding", embed(F.col("chunk_json")))


EMPTY_CHUNKS_SCHEMA = (
    "url string, chunk_index int, context string, content string, "
    "chunk_json string, embedding array<float>"
)


class ChunkStore:
    """Chunk-table maintenance over snapshot tables (S7 sink, S8 delete).

    The reference deletes + reinserts a url's chunks in two statements
    (processor/core.py:196-198); here both are one atomic snapshot commit.
    """

    def __init__(self, spark, workdir: str):
        from mcp_crawl4ai_rag_spark.plans.snapshots import SnapshotTable

        self.spark = spark
        self.tbl = SnapshotTable(workdir, "chunks")
        if self.tbl.current() is None:
            self.tbl.commit(spark.createDataFrame([], EMPTY_CHUNKS_SCHEMA))

    def read(self) -> DataFrame:
        return self.tbl.read(self.spark)

    def append(self, new_chunks: DataFrame) -> None:
        """S7: fast-append new chunk rows (new files only)."""
        self.tbl.commit(new_chunks, mode="append")

    def replace_urls(self, new_chunks: DataFrame) -> None:
        """S8 + S7 as one MERGE-like commit: drop existing chunks of the
        affected urls, insert the new rows."""
        urls = new_chunks.select("url").distinct()
        kept = self.read().join(urls, "url", "left_anti")
        self.tbl.commit(kept.unionByName(new_chunks))

    def delete_urls(self, urls: DataFrame) -> None:
        """S8: cascade chunk delete for dead urls (operations.py:212-225)."""
        self.tbl.commit(self.read().join(urls.select("url"), "url", "left_anti"))

    def process_round(
        self,
        documents: DataFrame,
        embed_dim: int = DEFAULT_DIM,
        scope_prefix: str | None = None,
        limit: int | None = None,
    ) -> int:
        """One processor micro-batch against the store; returns new-chunk
        count (the reference's batch manager loop, processor/core.py:160-208).

        The new chunks are pinned, so the unprocessed scan, the chunker and
        the embedder run once: the count computes them, the append writes
        the pinned rows."""
        new_chunks = pin(
            process_documents(documents, self.read(), embed_dim, scope_prefix, limit)
        )
        try:
            n = new_chunks.count()
            if n:
                self.append(new_chunks)
        finally:
            unpin(new_chunks)
        return n
