"""Continuous-mode ingestion via Structured Streaming.

The reference's crawler never terminates — its supplier polls forever
(core.py:268-269). Batch BFS rounds (operators/crawl.py) replay a crawl
deterministically; this module is the *continuous* complement: a stream of
discovered links (files of JSON lines — in production a Kafka topic of
fetcher output) is canonicalized, filtered, deduplicated against the crawl
engine's frontier and admitted as merge-on-read 'add' rows in the pending
DELTA table — exactly the rows a batch round would have appended, so the
engine and the stream share one frontier.

foreachBatch (rather than a stateful streaming dedup) is deliberate: the
seen-set already lives in the frontier snapshot tables, and reusing the
batch dedup operator keeps exactly-once semantics in the snapshot commit
(the delta manifest records the last admitted epoch; replays of an epoch
are no-ops) instead of in opaque state stores. A watermark would only
matter for event-time windows, which frontier admission doesn't need.

Seq-ordering contract for streamed links (documented here because a stream
has no pop_rank): within an epoch, discovery order is (parent_url ASC,
link_pos ASC, url ASC), ranked with the same two-stage distributed rank the
batch engine uses — deterministic for a given epoch content, no
single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.urls import admit_urls
from mcp_crawl4ai_rag_spark.operators.crawl import (
    load_seen_filter,
    merge_on_read_pending,
    new_pending_rows,
)
from mcp_crawl4ai_rag_spark.operators.dedup import new_urls, update_seen_filter
from mcp_crawl4ai_rag_spark.operators.politeness import robots_allowed
from mcp_crawl4ai_rag_spark.operators.ranking import with_global_rank
from mcp_crawl4ai_rag_spark.plans.snapshots import CrawlCheckpoint, SnapshotTable

LINK_STREAM_SCHEMA = "href string, parent_url string, link_pos int, depth int"


def _pending_view(spark: SparkSession, base: SnapshotTable, delta: SnapshotTable) -> DataFrame:
    """The engine's merge-on-read pending view, reconstructed from the
    on-disk tables so the stream needs no live CrawlEngine object. Delegates
    to crawl.merge_on_read_pending — the SAME function the engine uses — so
    the equality-delete key (url, seq, attempts, priority) cannot drift
    between the two admission paths (a (url, seq, attempts)-only key would
    let a reprioritized row's own 'del' kill its re-'add', dropping the URL
    from the stream's seen set and double-admitting a rediscovery)."""
    return merge_on_read_pending(base.read(spark), delta.read(spark))


def admit_links_batch(
    batch: DataFrame,
    seen: DataFrame,
    robots: DataFrame,
    base_seq: int,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of raw links → frontier delta 'add' rows, in the
    projection (and host buckets) of the crawl engine's own new links.

    Returns (rows, pinned); unpersist ``pinned`` after committing rows.
    """
    # robots before the first-occurrence aggregate: its verdict, like the
    # host carried in the struct, is a function of the url
    cand = (
        robots_allowed(admit_urls(batch, "href"), robots)
        .groupBy("url")
        .agg(F.min(F.struct("parent_url", "link_pos", "depth", "host")).alias("f"))
        .select(
            "url",
            F.col("f.host").alias("host"),
            F.col("f.parent_url").alias("parent_url"),
            F.col("f.link_pos").alias("link_pos"),
            F.col("f.depth").alias("depth"),
        )
    )
    fresh = new_urls(cand, seen)
    ranked, pinned = with_global_rank(
        fresh, ["parent_url", "link_pos", "url"], rank_col="__r"
    )
    rows = new_pending_rows(
        ranked, seq=F.col("__r") + F.lit(base_seq), depth=F.col("depth") + 1
    ).withColumn("op", F.lit("add"))
    return rows, pinned


def start_link_ingest(
    spark: SparkSession,
    links_dir: str,
    workdir: str,
    robots: DataFrame,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """readStream(json files) → foreachBatch(admit + MOR delta append).

    Admitted links land in ``frontier_pending_delta`` — the same table a
    batch round appends to — deduped against pending ∪ fetched. Epoch
    replays are no-ops (the delta manifest pins the last admitted epoch;
    replayed URLs would also dedup away against the seen set). Commits are
    optimistic (expected_version) — the ingest assumes a *quiesced* batch
    engine, mirroring the reference's supplier/worker alternation
    (core.py:268-276), and keeps the engine's crawl checkpoint coherent so
    ``CrawlEngine.resume`` sees streamed links:

    - versions pointer + seq_counter advance to cover the admitted rows;
    - the seen-filter state file (bloom or cuckoo), present once the
      engine has crossed its probe_broadcast_threshold, absorbs the
      admitted url_hashes through the engine's own load and update path
      (a stale filter would let a re-discovered streamed URL skip the
      exact anti-join and double-insert). When the file does not load,
      or a cuckoo would fill up, the checkpoint drops it instead; below
      the threshold there is no file. Either way a resume above the
      threshold rebuilds the filter from the seen set.
    """
    base_tbl = SnapshotTable(workdir, "frontier_pending")
    delta_tbl = SnapshotTable(workdir, "frontier_pending_delta")
    fetched_tbl = SnapshotTable(workdir, "frontier_fetched")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        cur = delta_tbl.current()
        last = (cur.extra or {}).get("last_epoch") if cur else None
        if last is not None and epoch_id <= last:
            return  # epoch replay after restart: already admitted
        expected_v = cur.version if cur else 0
        pending = _pending_view(spark, base_tbl, delta_tbl)
        fetched = fetched_tbl.read(spark)
        seen = pending.select("url").unionByName(fetched.select("url"))
        # seq allocation: the engine's checkpoint seq_counter is the
        # authoritative allocator — max(seq) over pending ∪ fetched is NOT
        # (purge_host can remove the highest-seq rows, and reusing a purged
        # seq lets a historical 'del' at the same (url, seq, attempts,
        # priority) silently kill the new add). Fall back to max(seq)+1
        # only when no crawl checkpoint exists yet.
        ckp0 = CrawlCheckpoint(workdir).load()
        if ckp0 is not None and "seq_counter" in ckp0:
            base_seq = int(ckp0["seq_counter"])
        else:
            max_seq = (
                pending.select("seq")
                .unionByName(fetched.select("seq"))
                .agg(F.max("seq"))
                .collect()[0][0]
            )
            base_seq = int(max_seq) + 1 if max_seq is not None else 0
        rows, pinned = admit_links_batch(batch, seen, robots, base_seq)
        n = rows.count()
        info = delta_tbl.commit(
            rows,
            mode="append",
            expected_version=expected_v,
            extra={"last_epoch": epoch_id},
        )
        ckp = CrawlCheckpoint(workdir)
        ck = ckp.load()
        if ck is not None:
            ck["versions"][delta_tbl.name] = info.version
            ck["seq_counter"] = max(int(ck.get("seq_counter", 0)), base_seq + n)
            # fit-checked against the advanced seq_counter
            seen_filter = load_seen_filter(ck)
            ck.pop("filter_path", None)
            if seen_filter is not None:
                seen_filter = update_seen_filter(
                    spark, seen_filter, rows.select("url_hash")
                )
                ck["filter_path"] = ckp.save_filter(
                    ck["round_id"], seen_filter.to_bytes()
                )
            ckp.save(ck)
        pinned.unpersist()

    stream = (
        spark.readStream.schema(LINK_STREAM_SCHEMA)
        .json(links_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        stream = stream.trigger(availableNow=True)
    return stream.start()
