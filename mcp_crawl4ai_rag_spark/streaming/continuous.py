"""Continuous-mode ingestion via Structured Streaming.

The reference's crawler never terminates — its supplier polls forever
(core.py:268-269). Batch BFS rounds (operators/crawl.py) replay a crawl
deterministically; this module is the *continuous* complement: a stream of
discovered links (files of JSON lines — in production a Kafka topic of
fetcher output) is admitted into the crawl engine's frontier by the engine
itself, ``CrawlEngine.ingest_links``: the admission a round runs
(canonicalize, malformed, robots, first occurrence, dedup against
pending ∪ fetched, seqs from the checkpointed seq_counter) over the
checkpoint's pinned versions, then the engine's delta commit and
checkpoint. The engine is the frontier's only writer; after a micro-batch
the crawl continues with ``CrawlEngine.resume``.

foreachBatch (rather than a stateful streaming dedup) is deliberate: the
seen-set already lives in the frontier snapshot tables, and exactly-once
lives in the crawl checkpoint (``stream_epoch``, the last admitted epoch,
swapped in with the versions it admitted; a replayed epoch is a no-op)
instead of in opaque state stores. A watermark would only matter for
event-time windows, which frontier admission doesn't need.

Seq-ordering contract for streamed links (documented here because a stream
has no pop_rank): within an epoch, discovery order is (parent_url ASC,
link_pos ASC, url ASC), ranked with the same two-stage distributed rank the
batch engine uses for large batches — deterministic for a given epoch
content, no single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine

LINK_STREAM_SCHEMA = "href string, parent_url string, link_pos int, depth int"


def start_link_ingest(
    spark: SparkSession,
    links_dir: str,
    workdir: str,
    robots: DataFrame,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """readStream(json files) → foreachBatch(CrawlEngine.ingest_links).

    Admitted links land in ``frontier_pending_delta``, deduped against
    pending ∪ fetched at the versions the crawl checkpoint pins, so the
    orphan commits of a torn round stay out. One engine serves the query
    (``CrawlEngine.resume``, which builds the robots rules once); each
    micro-batch first restores it from the checkpoint, so a round run
    between micro-batches is seen. An epoch at or below the checkpoint's
    ``stream_epoch`` was admitted already and is skipped. Commits are
    optimistic (expected_version) — the ingest assumes a *quiesced* batch
    engine, mirroring the reference's supplier/worker alternation
    (core.py:268-276). After a micro-batch, ``CrawlEngine.resume`` sees
    the streamed links, the advanced seq_counter and, past the
    checkpointed probe_broadcast_threshold, the seen filter with the
    admitted url_hashes absorbed.

    Raises FileNotFoundError when ``workdir`` holds no crawl checkpoint:
    seed the crawl first.
    """
    # the stream never fetches, so its engine needs no corpus
    engine = CrawlEngine.resume(spark, None, robots, workdir)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        engine._restore(engine.checkpoint.load())
        engine.ingest_links(batch, epoch_id)

    stream = (
        spark.readStream.schema(LINK_STREAM_SCHEMA)
        .json(links_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        stream = stream.trigger(availableNow=True)
    return stream.start()
