"""The BFS-round crawl engine — frontier scheduler + fetch + link pipeline.

One ``round()`` re-expresses one pass of the reference's asyncio
worker-pool loop (src/crawler/core.py:224-449; SURVEY.md §3.1). Each
round picks one of two regimes, which produce the same rows and commits:

- **Driver regime** (``_driver_round``), while ``seq_counter`` — an upper
  bound on pending ∪ fetched — is at most
  min(DRIVER_FRONTIER_MAX_URLS, probe_broadcast_threshold) and the robots
  rules compiled. The engine, the frontier's only writer, keeps the
  merged pending rows, the seen urls and the hosts table on the driver as
  Arrow tables, and updates them with every delta a driver round commits.
  The pop, page cleaning, link admission and seq assignment run in
  Arrow/Python (the twins of the Column trees below); the fetch is the
  round's one Spark job (the corpus filtered to the popped urls, or the
  injected fetcher over a local relation, then ``toArrow``); every commit
  is a pyarrow write through ``SnapshotTable.commit``. Every round runs
  1 Spark job, a compaction round included: the pending compaction
  writes the round's new copy, which has already folded the delta, as
  the partitioned base through ``commit_partitioned``'s pyarrow form,
  and ``compact_tail`` is a pyarrow rewrite. Any other writer (seeding,
  ``reprioritize``, ``purge_host``, ``ingest_links``, a Spark round) or a
  resumed engine leaves the copy's version stamp stale, and the next
  driver round rebuilds it with one ``toArrow`` per table.
- **Spark regime** (``_spark_round``), otherwise: the pipeline below.

The Spark regime runs five phases, one method each, and reports each
one's wall time in its ``phases``:

  pop (``_pop``): the merge-on-read pending view, host budgets refilled,
    and the budgeted window rank (W1), pinned
  → fetch (``_fetch``, ``_page_counts``): fetch join (J5; sandbox
    stand-in for the HTTP fetch S10 — pushdown filter on the corpus scan
    + broadcast join back), span cleaning (P6) + render, error split (P4:
    dead / retry / fetched), pinned; the round's O(batch) stats collect
    is the one job that materializes it
  → page commits (``_submit_page_commits``): documents fast-append,
    fetched fast-append, hosts charge (and link edges), on the commit
    pool, overlapping the next phase
  → links (``_links``): link explode (P5) → one Arrow admission pass:
    canonicalize (P1), malformed flag (P2), host/path → robots filter
    (J6, generalizing the scope filter P3) → anti-join dedup (J3 / S2),
    prefiltered by the seen filter past probe_broadcast_threshold →
    discovery-order seqs → the pending-delta commit (stand-in for an
    Iceberg MERGE)
  → maintain: seen-filter update (``_update_seen_filter``), pending
    compaction, metrics append and the commit barrier
    (``_finish_commits``), then tail fold, checkpoint and snapshot
    expiry (``_fold_and_checkpoint``).

Determinism contract (matched bit-for-bit by oracle/simulator.py):
frontier order is (priority DESC, discovered_seq ASC); new URLs get
discovered_seq by first occurrence in (pop_rank, link_pos) order.

Files per commit: documents, frontier_fetched and frontier_pending_delta
each append one parquet file per round (a version dir + its manifest; no
``_SUCCESS``/``.crc`` sidecars, see plans/snapshots.py); hosts rewrites
its small table and metrics appends one driver-written file. A steady
round writes about a dozen files.

Round frames (Spark regime): the popped batch and the fetched pages are
local checkpoints (``pins.pin``), so the plans built on them stay small
and the fetch runs exactly once; the stats collect is its one
materializing job and also yields the popped count. A steady round runs
18 Spark jobs in 7 SQL executions (perfbench's crawl_loop sizes): the
pop's checkpoint 4, the fetch's 3, the stats collect 1, the documents and
fetched appends 1 each, the hosts commit 2, the pending-delta commit (the
link pipeline) 6.

Seen side of the link dedup: pending ∪ fetched as pinned at round start,
minus this round's deaths — the pending view is the same merge-on-read
read the pop scans; nothing of this round's fetch but the dead URLs
enters it. The pending-delta commit is the link pipeline's only job; the
new-link count comes from the written file's parquet footer.

The engine is the frontier's only writer. The continuous-mode stream
(streaming/continuous.py) admits its links through ``ingest_links``: the
round's admission (``_admit_links``) over the checkpoint's pinned
versions, the same pinned-parent delta commit and the same checkpoint.

Scale notes (10^10 frontier / 1000 executors):
- the pop shuffles pending rows by host once; hot hosts are budget-bounded
  so the global top-k after the window is tiny (TakeOrderedAndProject);
- the fetch stage repartitions the popped batch by (host, salt) —
  ``salt = xxhash64(url) % SALT_BUCKETS`` — so one hot host spreads over
  many tasks while politeness accounting stays at host granularity
  (tokens are charged from per-host counts, not per-task);
- past probe_broadcast_threshold the seen set is scanned once with a
  broadcast candidate probe, never shuffled; the seen filter drops
  definitely-new candidates from that probe. It is a bloom, or a cuckoo
  whose deletes let dead URLs leave it (``seen_filter_kind``); either is
  built once where new_urls first reads it, then maintained and
  checkpointed each round, and a cuckoo is rebuilt at double size before
  it fills up. Below the threshold there is no filter, and Spark may
  auto-broadcast the (small) seen side;
- the pending frontier is merge-on-read (Iceberg v2 shape): a host-bucket-
  partitioned base + an append-only add/del delta; per-round commits are
  O(batch) equality-deletes + appends, the base is rewritten only by the
  amortized compaction every ``compact_every`` rounds;
  documents/metrics/fetched use true fast-appends (new files only);
- everything driver-side is O(batch) or O(bitmap), never O(frontier).

In production the fetch join becomes a ``mapInPandas`` partition fetcher
with per-partition browser/session reuse (apple_stealth_crawler.py:16-21);
the surrounding plan is unchanged.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructField, StructType

from mcp_crawl4ai_rag_spark.frames import local_frame
from mcp_crawl4ai_rag_spark.functions.markdown import (
    clean_spans,
    clean_spans_py,
    render_spans_text,
    render_spans_text_py,
)
from mcp_crawl4ai_rag_spark.functions.urls import (
    admit_arrow,
    admit_urls,
    is_error_page_py,
    is_permanent_error,
)
from mcp_crawl4ai_rag_spark.functions.xxh import host_bucket, spark_xxhash64_str
from mcp_crawl4ai_rag_spark.operators.dedup import (
    BloomFilter,
    ShardedCuckoo,
    build_bloom,
    maintain_sharded_cuckoo,
    new_urls,
    update_seen_filter,
)
from mcp_crawl4ai_rag_spark.operators.ranking import with_global_rank
from mcp_crawl4ai_rag_spark.operators.politeness import (
    budgeted_pop,
    budgeted_pop_arrow,
    charge_hosts,
    charge_hosts_arrow,
    init_hosts,
    refill_hosts,
    refill_hosts_arrow,
    build_robots_rules,
    compile_robots_predicate,
    robots_allowed,
    robots_evaluator,
    robots_rule_rows,
)
from mcp_crawl4ai_rag_spark.pins import pin, unpin
from mcp_crawl4ai_rag_spark.plans.snapshots import (
    CrawlCheckpoint,
    SnapshotInfo,
    SnapshotTable,
)

FETCH_RESULT_FIELDS = (
    "status_code int, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "out_links array<string>, fetch_session string, fetch_error string"
)


def fetch_with_partition_sessions(
    batch: DataFrame, fetcher_factory, max_retries: int = 2
) -> DataFrame:
    """S10 production fetch operator: a ``mapInPandas`` partition fetcher
    with per-partition session reuse — the Spark shape of the reference's
    ``crawl_pages_batch`` worker pool with one browser context per worker
    (apple_stealth_crawler.py:16-21, 266-320).

    ``fetcher_factory()`` is invoked lazily ONCE per non-empty partition and
    must return a session with ``fetch_batch(urls) -> list[tuple]`` and
    ``close()``. Each result tuple is ``(status_code, spans, out_links)``
    or ``(status_code, spans, out_links, error_class)`` with spans = list
    of {kind, text, media_ref, offset} dicts. ``error_class`` mirrors the
    reference's in-worker retry taxonomy (apple_stealth_crawler.py:286-311):

    - ``None``/``''`` — success; emitted as-is.
    - ``'transient'`` — a per-page failure (timeout, temporary error): the
      SAME session retries the url, up to ``max_retries`` in-partition
      attempts (the reference's "临时错误: 归还实例, 直接重试" branch).
    - ``'session'`` — the session itself is broken ('connection closed',
      'pipe closed', 'browsercontext.new_page'): the session is closed and
      a FRESH ``fetcher_factory()`` instance retries (the reference's
      recreate-instance branch). Subsequent rows use the new session.

    Rows still failing after ``max_retries`` are emitted with their final
    (status_code, error_class) and whatever spans/links came back — the
    engine's P4/attempt routing then treats them like any failed fetch
    (empty content → re-queued with attempts+1 until ``max_attempts``).

    The session's ``id`` tags every output row (``fetch_session``) so tests
    can assert per-partition reuse AND recreation-on-session-error; the
    engine drops fetch_session/fetch_error after the fetch stage.

    The input should already be repartitioned by (host, salt) — politeness
    stays at host granularity while hot hosts spread across tasks.

    Determinism: ``CrawlEngine.round`` computes the fetch output once (a
    local checkpoint) and reads it from several jobs; a round that fails
    is redone by ``CrawlEngine.resume``, which fetches the same URLs
    again. A session's result must therefore be a deterministic function
    of (url, round), or a resumed crawl is not bit-for-bit the crawl an
    uninterrupted run would have made.
    """
    from pyspark.sql.types import StructType

    result_fields = StructType.fromDDL(FETCH_RESULT_FIELDS).fields
    out_schema = StructType(list(batch.schema.fields) + list(result_fields))

    def run(batches):
        import pandas as pd  # noqa: F401  (worker-side)

        session = None

        def fetch_with_retries(urls):
            """Returns (results, session) — one normalized 4-tuple per url,
            retrying transient rows on the live session and session-class
            rows on a recreated one."""
            nonlocal session
            if session is None:
                session = fetcher_factory()
            results = [None] * len(urls)
            todo = list(range(len(urls)))
            for attempt in range(max_retries + 1):
                res = session.fetch_batch([urls[i] for i in todo])
                failed = []
                session_broken = False
                sid = getattr(session, "id", "")
                for i, r in zip(todo, res):
                    err = r[3] if len(r) > 3 else None
                    results[i] = (r[0], r[1], r[2], err or "", sid)
                    if err == "session":
                        # a broken session must not survive into later rows/
                        # batches even when this row's retry budget is spent
                        # (with max_retries=0 the dead session would
                        # otherwise serve — and fail — every remaining row)
                        session_broken = True
                    if err and attempt < max_retries:
                        failed.append(i)
                if session_broken:
                    # reference: permanent (session) error → destroy the
                    # instance, recreate, retry on the fresh one
                    if hasattr(session, "close"):
                        session.close()
                    session = fetcher_factory()
                if not failed:
                    break
                todo = failed
            return results

        try:
            for b in batches:
                if len(b) == 0:
                    continue
                res = fetch_with_retries(list(b["url"]))
                b = b.copy()
                b["status_code"] = [r[0] for r in res]
                b["spans"] = [r[1] for r in res]
                b["out_links"] = [r[2] for r in res]
                # per-row: a mid-batch session recreation tags each row with
                # the session that actually served it
                b["fetch_session"] = [r[4] for r in res]
                b["fetch_error"] = [r[3] for r in res]
                yield b
        finally:
            if session is not None and hasattr(session, "close"):
                session.close()

    return batch.mapInPandas(run, out_schema)


FRONTIER_COLS = ["url", "url_hash", "host", "depth", "priority", "seq", "state", "attempts"]
FRONTIER_DDL = (
    "url string, url_hash long, host string, depth int, priority int, "
    "seq long, state string, attempts int"
)
# the pending table additionally carries its partition column: bucket =
# pmod(xxhash64(host), HOST_BUCKETS). Bucketing by host (not url) keeps a
# host's rows in one partition so host-scoped maintenance (recrawl, purge)
# prunes to 1/N of the table; hot hosts stay safe because the pop itself
# salt-spreads them (budgeted_pop). The count is fixed, not a setting:
# every writer (a round, a resumed engine, a streamed micro-batch) and
# purge_host's driver-side bucket must agree on it.
FRONTIER_COLS_PENDING = FRONTIER_COLS + ["bucket"]
HOST_BUCKETS = 16
# the pending delta's rows: a pending row plus its op, 'add' or 'del'
PENDING_DELTA_DDL = FRONTIER_DDL + ", bucket int, op string"
# the fetch stage repartitions the popped batch by (host, url salt)
SALT_BUCKETS = 8
METRICS_DDL = "round int, scope string, key string, value long"
DOCUMENTS_DDL = (
    "url string, host string, depth int, fetch_round int, seq_in_round int, "
    "status int, content string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
EDGES_DDL = "src string, dst string"
# Java's \s, the engine's blank-page test (_round_exprs' x_blank)
JAVA_WHITESPACE = " \t\n\x0b\f\r"
# The driver regime's bound on seq_counter, an upper bound on the URLs in
# pending ∪ fetched: at or below it (and below probe_broadcast_threshold)
# a round runs on a driver-resident Arrow copy of the frontier
# (CrawlEngine._driver_round). Measured with scripts/frontier_scale.py
# at the bound (generate_web's 3,000-page corpus seeded with filler urls
# up to 999,747 pending rows, batch 128, local[4] on 4 cores): the copy
# holds 172 MB, inside a 256 MiB budget, and a steady driver round takes
# 0.52 s against 5.7 s for a Spark-regime round on the same frontier
# (0.17 s against 3.1 s at 100k urls). The driver round's pop sort, seen
# probe and copy update grow with the frontier, not the batch. A
# compaction round (round 8) is 1 job, like a steady one: 0.61-0.73 s at
# the bound, 0.17 s of it the pyarrow write of the partitioned base
# (0.26 s at 100k), and the Python process peaks at 708 MB (VmHWM over 9
# rounds; 263 MB at 100k), of which about 115 MB is that write's queued
# copy of the base. At the default probe_broadcast_threshold (also 1M)
# this bound binds only when a caller raises that threshold.
DRIVER_FRONTIER_MAX_URLS = 1_000_000


def host_bucket_col(host_col: str = "host") -> Column:
    """The pending table's partition value of a host (``functions.xxh.
    host_bucket`` computes the same one on the driver)."""
    return F.pmod(F.xxhash64(host_col), F.lit(HOST_BUCKETS)).cast("int")


def new_pending_rows(
    df: DataFrame, seq: Column, depth: Column, priority: Column | None = None
) -> DataFrame:
    """Newly admitted URLs (``df``'s url and host) as FRONTIER_COLS_PENDING
    rows: state 'pending', no attempts, priority 0 unless given. The one
    projection a seed and admitted links (a round's or a stream's) share."""
    return df.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        "host",
        depth.cast("int").alias("depth"),
        (F.lit(0) if priority is None else priority).alias("priority"),
        seq.cast("long").alias("seq"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("attempts"),
        host_bucket_col().alias("bucket"),
    )

# Equality-delete key for the merge-on-read pending frontier. priority is
# part of the key so a reprioritized row (same url/seq/attempts, new
# priority) is not killed by its own delete; seq is never reused, so a dead
# URL re-discovered later (attempts restart at 0) cannot collide either.
# The keys compare null-safe: a seed may carry a null priority, and its
# popped row's delete must kill it (the driver regime drops it by position).
PENDING_DELETE_KEY = ["url", "seq", "attempts", "priority"]


def merge_on_read_pending(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge-on-read view of the pending frontier: base ∪ delta-adds, minus
    null-safe equality deletes on PENDING_DELETE_KEY. The delete set is
    bounded by compact_every × batch rows → broadcast anti-join, no
    shuffle of the base. CrawlEngine._read_pending reads it at the pinned
    versions."""
    adds = delta.where(F.col("op") == "add").drop("op")
    dels = delta.where(F.col("op") == "del").select(
        *(F.col(k).alias(f"__del_{k}") for k in PENDING_DELETE_KEY)
    )
    return base.unionByName(adds).join(
        F.broadcast(dels),
        [F.col(k).eqNullSafe(F.col(f"__del_{k}")) for k in PENDING_DELETE_KEY],
        "left_anti",
    )


# The seen-filter kinds: a bloom, which cannot forget (dead URLs stay in it
# as false positives), or the deletable sharded cuckoo.
SEEN_FILTERS = {"bloom": BloomFilter, "cuckoo": ShardedCuckoo}
# A cuckoo is rebuilt, at double size, before seq_counter (an upper bound
# on the keys it holds) passes this share of its slots: inserts into a
# fuller table start to fail.
CUCKOO_MAX_LOAD = 0.9


def _filter_fits(
    f: BloomFilter | ShardedCuckoo, bloom_bits: int, seq_counter: int
) -> bool:
    """Whether a seen filter still serves the crawl: a bloom of the
    configured size, or a cuckoo that ``seq_counter`` fills to at most
    CUCKOO_MAX_LOAD."""
    if isinstance(f, BloomFilter):
        return f.num_bits == bloom_bits
    return seq_counter <= CUCKOO_MAX_LOAD * f.slots


def load_seen_filter(ck: dict) -> BloomFilter | ShardedCuckoo | None:
    """The seen filter a crawl checkpoint points to; None when it has
    none, or its file is missing, torn, or no longer fits the checkpoint
    (``_filter_fits``). A bad file gives None, never an empty filter,
    which new_urls would read as "every candidate is new"; the engine
    rebuilds the filter exactly, from pending ∪ fetched, where it next
    reads it."""
    path = ck.get("filter_path")
    if not path or not os.path.exists(path):
        return None
    with open(path, "rb") as fh:
        blob = fh.read()
    try:
        f = SEEN_FILTERS[ck["seen_filter_kind"]].from_bytes(blob)
    except ValueError:
        return None
    return f if _filter_fits(f, ck["bloom_bits"], ck["seq_counter"]) else None


def _url_in(spark: SparkSession, urls: list) -> Column:
    """``url IN urls`` built on the JVM in one call: ``Column.isin`` makes
    one py4j literal per value, about 80 ms for a 128-url batch."""
    from pyspark.sql.classic.column import Column as ClassicColumn

    return ClassicColumn(
        spark._jvm.org.apache.spark.sql.functions.col("url").isInCollection(urls)
    )


def _with_op(rows: pa.Table, op: str) -> pa.Table:
    """Pending rows as pending-delta rows of ``op`` ('add' or 'del')."""
    return rows.append_column("op", pa.array([op] * rows.num_rows, pa.string()))


def _round_exprs(max_attempts: int | None) -> dict[str, Column]:
    """The round's fixed Column expressions, by name: the fetch salt, a
    page's status, clean spans, text and outcome (dead / retry /
    fetched), a page's 0-based position in the pop, and its distinct
    hrefs."""
    empty_spans = F.expr(
        "CAST(array() AS array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>)"
    )
    x_status = F.coalesce(F.col("status_code"), F.lit(404))
    x_clean = clean_spans(F.coalesce(F.col("spans"), empty_spans))
    x_text = render_spans_text(F.col("clean_spans"))
    # is_permanent_error is never NULL, so a blank page reaches the
    # later branches only when it is not a permanent error
    x_dead = is_permanent_error(F.col("status"), F.col("text"))
    # whitespace-equivalent to the oracle's str.strip() (F.trim only
    # strips ASCII spaces)
    x_blank = F.length(F.regexp_replace(F.col("text"), r"\s", "")) == 0
    x_outcome = (
        F.when(x_dead, F.lit("dead"))
        .when(
            x_blank
            & (
                F.lit(max_attempts is not None)
                & (F.col("attempts") + 1 >= F.lit(max_attempts or 0))
            ),
            F.lit("dead"),
        )
        .when(x_blank, F.lit("retry"))
        .otherwise(F.lit("fetched"))
    )
    return {
        "salt": F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)),
        "status": x_status,
        "clean_spans": x_clean,
        "text": x_text,
        "outcome": x_outcome,
        "seq_in_round": (F.col("pop_rank") - 1).cast("int"),
        # distinct hrefs of a fetched page (0 otherwise)
        "page_links": F.when(
            F.col("outcome") == "fetched",
            F.size(F.array_distinct(F.coalesce(F.col("out_links"), F.array()))),
        ).otherwise(F.lit(0)),
    }


@dataclass
class DriverFrontier:
    """The driver regime's copy of the frontier, as of the pinned versions
    ``stamp`` of (pending, pending delta, fetched, hosts): the merged
    pending rows (FRONTIER_COLS_PENDING), the seen urls (pending ∪
    fetched) and the hosts table with its Spark schema."""

    stamp: tuple
    pending: pa.Table
    seen: pa.ChunkedArray
    hosts: pa.Table
    hosts_schema: StructType

    @property
    def nbytes(self) -> int:
        """Driver memory the copy's buffers hold."""
        return self.pending.nbytes + self.seen.nbytes + self.hosts.nbytes


def _nullable(schema: StructType) -> StructType:
    """``schema`` with every top-level field nullable."""
    return StructType([StructField(f.name, f.dataType, True) for f in schema])


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        robots: DataFrame,
        hosts: DataFrame,
        workdir: str,
        batch_size: int = 20,
        max_attempts: int | None = 3,
        seen_filter_kind: str = "bloom",
        bloom_bits: int = 1 << 20,
        snapshot_keep: int = 8,
        compact_every: int = 8,
        fetcher=None,
        rank_window_threshold: int = 10_000,
        probe_broadcast_threshold: int = 1_000_000,
        track_link_graph: bool = False,
    ):
        self.spark = spark
        self.corpus = corpus
        self.robots = robots
        # static rules table: aggregate + regex-translate once, cache —
        # every round's robots join reads this instead of re-shuffling.
        # Small tables additionally compile ONCE to a literal codegen
        # predicate (no per-round join, no interpreted rule fold); a
        # too-large table leaves _robots_pred None and every round takes
        # the join+fold path with no re-probing.
        self._robots_rules = build_robots_rules(robots).cache()
        rule_rows = robots_rule_rows(self._robots_rules)
        self._robots_pred = (
            None if rule_rows is None else compile_robots_predicate(rule_rows)
        )
        # the same rules for the driver regime, which needs them compiled
        self._robots_ok = None if rule_rows is None else robots_evaluator(rule_rows)
        self.batch_size = batch_size
        self.max_attempts = max_attempts
        # the seen filter's kind, a key of SEEN_FILTERS; checkpointed
        if seen_filter_kind not in SEEN_FILTERS:
            raise ValueError(f"unknown seen_filter_kind {seen_filter_kind!r}")
        self.seen_filter_kind = seen_filter_kind
        self.bloom_bits = bloom_bits
        self.snapshot_keep = snapshot_keep
        self.compact_every = compact_every
        # S10 seam: None → sandbox corpus broadcast join; a factory →
        # fetch_with_partition_sessions (the production HTTP/browser shape;
        # its fetches must be deterministic per (url, round), see there)
        self.fetcher = fetcher
        # batches at or below this use the bounded window for link-seq
        # assignment; above it, the two-stage distributed rank
        self.rank_window_threshold = rank_window_threshold
        # seen sets at or below this (upper-bounded by seq_counter, the
        # total URLs ever admitted) use the plain anti-join for URL-seen
        # dedup (one job wave; Spark may auto-broadcast the small seen
        # side); above it, the probe-broadcast shape that never shuffles
        # or driver-broadcasts the frontier (new_urls docstring). Same
        # size-aware-dispatch design as rank_window_threshold; both paths
        # are output-identical (tests/test_crawl_e2e.py pins bit-for-bit
        # equality with the threshold forced to 0).
        self.probe_broadcast_threshold = probe_broadcast_threshold

        # Frontier layout (the Iceberg v2 merge-on-read design at 10^10
        # scale): `pending` = host-bucket-partitioned BASE (rewritten only
        # at compaction) + flat append-only DELTA of 'add'/'del' rows;
        # `fetched` is append-only. A 'del' is an equality delete on
        # (url, seq, attempts): seq is assigned once per insertion and never
        # reused (a re-discovered dead URL gets a fresh seq) and attempts is
        # monotone within a lineage (a retry re-appends at attempts+1), so a
        # delete record can never collide with a later live row version.
        # Per-round write cost is O(batch); compaction every
        # ``compact_every`` rounds folds the delta into the base
        # (amortized O(pending / compact_every) per round, and bounds the
        # read-side anti-join to compact_every × batch delete rows).
        self.pending_tbl = SnapshotTable(workdir, "frontier_pending")
        self.pending_delta_tbl = SnapshotTable(workdir, "frontier_pending_delta")
        self.fetched_tbl = SnapshotTable(workdir, "frontier_fetched")
        self.documents_tbl = SnapshotTable(workdir, "documents")
        self.hosts_tbl = SnapshotTable(workdir, "hosts")
        self.metrics_tbl = SnapshotTable(workdir, "metrics")
        # opt-in accumulated (src, dst) edge list of fetched pages — the
        # input to the PageRank -> reprioritize() adaptive-scheduling
        # policy (run(reprioritize_every=k)); costs one distinct + append
        # per round, so off by default
        self.track_link_graph = track_link_graph
        self.edges_tbl = SnapshotTable(workdir, "link_edges")
        # every table the engine commits to, for expiry: the ones
        # rewritten in place, then the append-only ones, whose per-round
        # files compact_tail folds every compact_every rounds
        self._append_only = (self.fetched_tbl, self.documents_tbl, self.metrics_tbl)
        if track_link_graph:
            self._append_only += (self.edges_tbl,)
        self._tables = (
            self.pending_tbl, self.pending_delta_tbl, self.hosts_tbl
        ) + self._append_only
        self.checkpoint = CrawlCheckpoint(workdir)
        self._hosts_init = hosts

        self.round_id = 0
        self.seq_counter = 0
        self.versions: dict[str, int] = {}
        self._pool: ThreadPoolExecutor | None = None
        # the seen filter is read only in the probe-broadcast regime
        # (seq_counter > probe_broadcast_threshold): it stays None below
        # it, and link admission builds it from pending ∪ fetched where it
        # first reads it (_admit_links)
        self.seen_filter: BloomFilter | ShardedCuckoo | None = None
        # the last streamed epoch admitted (ingest_links), None before any;
        # checkpointed with the versions it admitted
        self.stream_epoch: int | None = None
        # wall seconds per phase of the running round (_phase); round()
        # returns them as its "phases"
        self._phases: dict[str, float] = {}
        # Reusable unresolved Column trees for the round's fixed
        # expressions. Column objects are immutable, name-resolved
        # per-plan, and safe to share across rounds; building them once
        # removes ~hundreds of py4j round-trips of driver-side plan
        # construction per round (measured ~1.5 s/round of the profile's
        # untimed 'other' at bench scale).
        self._rx = _round_exprs(max_attempts)
        # the driver regime's frontier copy (None until a driver round
        # builds it) and the Spark schemas of the tables it commits
        self._frontier: DriverFrontier | None = None
        self._schemas = {
            name: DataType.fromDDL(ddl)
            for name, ddl in (
                ("pending", FRONTIER_DDL + ", bucket int"),
                ("delta", PENDING_DELTA_DDL),
                ("fetched", FRONTIER_DDL),
                ("documents", DOCUMENTS_DDL),
                ("edges", EDGES_DDL),
            )
        }

    # -- state I/O ----------------------------------------------------------

    def _version(self, tbl: SnapshotTable) -> int | None:
        """The table's version this engine has pinned (None before its
        first commit)."""
        return self.versions.get(tbl.name)

    def _read(self, tbl: SnapshotTable) -> DataFrame:
        return tbl.read(self.spark, self._version(tbl))

    def _commit(self, tbl: SnapshotTable, df: DataFrame, **kw) -> SnapshotInfo:
        # appends extend the engine's PINNED version, not the manifest's
        # current — orphan versions from a torn (crashed) round stay out of
        # the lineage after resume instead of being resurrected
        if kw.get("mode") == "append":
            kw.setdefault("parent_version", self._version(tbl))
        info = tbl.commit(df, **kw)
        self.versions[tbl.name] = info.version
        return info

    def _commit_pool(self) -> "ThreadPoolExecutor":
        """Shared executor for overlapping independent table commits within
        a round (lazily created, lives with the engine — rounds are
        sequential by contract, so at most one round's commits are ever in
        flight)."""
        if self._pool is None:
            self._pool = ThreadPoolExecutor(
                max_workers=4, thread_name_prefix="crawl-commit"
            )
        return self._pool

    def _commit_rows(self, tbl: SnapshotTable, rows: list, schema: str, **kw) -> None:
        """Driver-rows commit (no Spark job) — metrics/lineage side tables
        whose rows are O(hosts) and already live on the driver."""
        if kw.get("mode") == "append":
            kw.setdefault("parent_version", self._version(tbl))
        info = tbl.commit_rows(rows, schema, **kw)
        self.versions[tbl.name] = info.version

    def _commit_pending_base(self, rows: DataFrame | pa.Table) -> None:
        """Full rewrite of the pending BASE, partitioned by host bucket
        (seed + compaction only — never per round): a DataFrame, or the
        driver copy's pending rows, which pyarrow writes."""
        info = self.pending_tbl.commit_partitioned(
            rows, "bucket", changed=None, schema=self._schemas["pending"]
        )
        self.versions[self.pending_tbl.name] = info.version

    def _read_pending(self) -> DataFrame:
        """Merge-on-read view of the pending frontier (see
        merge_on_read_pending for the key semantics)."""
        return merge_on_read_pending(
            self._read(self.pending_tbl), self._read(self.pending_delta_tbl)
        )

    def _compact_pending(self, copy: DriverFrontier | None = None) -> None:
        """Fold the delta into a fresh partitioned base (Iceberg rewrite/
        compaction). Amortized: runs every ``compact_every`` rounds, so the
        per-round cost stays O(pending / compact_every) + O(batch).

        The merged rows are a driver round's next ``copy``, which has
        already folded the delta, written by pyarrow with no Spark job;
        without a copy (the Spark regime) they are the merge-on-read view,
        read and rewritten by Spark."""
        self._commit_pending_base(
            self._read_pending().select(*FRONTIER_COLS_PENDING) if copy is None else copy.pending
        )
        self._commit_rows(self.pending_delta_tbl, [], PENDING_DELTA_DDL)

    def _save_checkpoint(self) -> None:
        state = {
            "round_id": self.round_id,
            "seq_counter": self.seq_counter,
            "versions": self.versions,
            "batch_size": self.batch_size,
            "bloom_bits": self.bloom_bits,
            "seen_filter_kind": self.seen_filter_kind,
            "max_attempts": self.max_attempts,
            "probe_broadcast_threshold": self.probe_broadcast_threshold,
            "stream_epoch": self.stream_epoch,
        }
        if self.seen_filter is not None:
            state["filter_path"] = self.checkpoint.save_filter(
                self.round_id, self.seen_filter.to_bytes()
            )
        self.checkpoint.save(state)
        # bounded disk: old per-round filter files are unreachable once the
        # checkpoint pointer moves — drop all but a small trailing window
        self.checkpoint.prune_filters(self.round_id, keep=2)

    @classmethod
    def resume(
        cls, spark: SparkSession, corpus: DataFrame, robots: DataFrame, workdir: str, **kw
    ) -> "CrawlEngine":
        """Rebuild an engine bit-for-bit from the last checkpoint: table
        reads are pinned to the checkpointed snapshot versions, counters
        restore, and above probe_broadcast_threshold the seen filter
        reloads from its state file (north rule resume-mid-crawl)."""
        ck = CrawlCheckpoint(workdir).load()
        if ck is None:
            raise FileNotFoundError(f"no checkpoint under {workdir}")
        hosts_placeholder = spark.createDataFrame(
            [], "host string, capacity double, refill_rate double"
        )
        # retry semantics and the seen-filter regime are part of the
        # checkpointed contract — a resume must not silently change them
        # unless the caller overrides (a checkpoint that predates a key
        # leaves the constructor's default)
        for key in ("max_attempts", "probe_broadcast_threshold"):
            if key in ck:
                kw.setdefault(key, ck[key])
        eng = cls(
            spark,
            corpus,
            robots,
            hosts_placeholder,
            workdir,
            batch_size=ck["batch_size"],
            bloom_bits=ck["bloom_bits"],
            seen_filter_kind=ck["seen_filter_kind"],
            **kw,
        )
        eng._restore(ck)
        return eng

    def _restore(self, ck: dict) -> None:
        """Take the crawl state of checkpoint ``ck``: round id, seq
        counter, pinned versions, the last streamed epoch (none when ``ck``
        has no ``stream_epoch``) and, above probe_broadcast_threshold, the
        seen filter from its state file."""
        self.round_id = ck["round_id"]
        self.seq_counter = ck["seq_counter"]
        self.versions = dict(ck["versions"])
        self.stream_epoch = ck.get("stream_epoch")
        self.seen_filter = (
            load_seen_filter(ck)
            if self.seq_counter > self.probe_broadcast_threshold
            else None
        )

    # -- seeding ------------------------------------------------------------

    def seed(self, seeds: list[tuple[str, int]]) -> int:
        """Seed the frontier from a driver-side list (S1: insert-if-not-
        exists semantics, operations.py:32-41)."""
        df = self.spark.createDataFrame(
            [(u, p, i) for i, (u, p) in enumerate(seeds)],
            "raw_url string, priority int, seed_idx long",
        )
        return self.seed_df(df, n_rows_hint=len(seeds))

    def seed_df(
        self,
        seeds_df: DataFrame,
        order_cols: list | None = None,
        n_rows_hint: int | None = None,
    ) -> int:
        """Seed the frontier from a DataFrame — the scale path for sitemap /
        url-list sources (sources/seeds.py): canonicalize → malformed →
        robots → first-occurrence dedup → seq assignment in ``order_cols``
        order (two-stage distributed rank, no single-task window, so a
        10^7-URL sitemap index seeds without a driver round-trip).

        seeds_df needs (raw_url, priority) plus the ``order_cols``
        (default ["seed_idx"]) defining seed order.

        ``n_rows_hint`` — an upper bound on the seed count when the caller
        knows it (the driver-list ``seed()`` path always does). Bounds at
        or below ``rank_window_threshold`` take the bounded single-window
        rank — the same size-aware dispatch as ``round()``'s link-seq
        assignment, identical total order, and several fewer jobs (no
        range-boundary sampling / local-index / counts passes) on
        driver-page-sized seed lists. No hint (or a large one) keeps the
        two-stage distributed rank so a 10^7-URL sitemap index never
        funnels through one task.

        Seeding starts a crawl: it rewrites every table, and drops the
        seen filter (the next read past probe_broadcast_threshold builds
        it from the seeded frontier).
        """
        order_cols = order_cols or ["seed_idx"]
        cand = admit_urls(seeds_df, "raw_url")
        w = Window.partitionBy("url").orderBy(*order_cols)
        cand = cand.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
        cand = robots_allowed(
            cand, prebuilt_rules=self._robots_rules,
            compiled=self._robots_pred, try_compile=False,
        )
        if n_rows_hint is not None and n_rows_hint <= self.rank_window_threshold:
            ranked = cand.withColumn(
                "__seed_rank",
                F.row_number().over(Window.orderBy(*order_cols)) - 1,
            )
            pinned = None
        else:
            ranked, pinned = with_global_rank(
                cand, order_cols, rank_col="__seed_rank"
            )
        rows = new_pending_rows(
            ranked, seq=F.col("__seed_rank"), depth=F.lit(0), priority=F.col("priority")
        ).cache()
        # materialize BEFORE fanning out: the two-stage rank's pinned
        # intermediate must be fully cached once so concurrent consumers
        # can't re-sample range boundaries into divergent seq orders.
        n = rows.count()
        self.seen_filter = None
        pool = self._commit_pool()
        futures = [
            pool.submit(self._commit_pending_base, rows),
            pool.submit(self._commit, self.hosts_tbl, init_hosts(self._hosts_init)),
            pool.submit(
                self._commit,
                self.documents_tbl,
                self.spark.createDataFrame([], DOCUMENTS_DDL),
            ),
        ]
        # empty flat-schema snapshots: driver fast path, no Spark job
        self._commit_rows(self.pending_delta_tbl, [], PENDING_DELTA_DDL)
        self._commit_rows(self.fetched_tbl, [], FRONTIER_DDL)
        self._commit_rows(self.metrics_tbl, [], METRICS_DDL)
        self.seq_counter = n
        for fut in futures:
            fut.result()
        if pinned is not None:
            pinned.unpersist()
        rows.unpersist()
        self._save_checkpoint()
        return n

    def reprioritize(
        self, priorities: DataFrame, url_col: str = "url", priority_col: str = "priority"
    ) -> int:
        """Update pending-frontier priorities mid-crawl in O(matched) rows —
        the adaptive-scheduling hook: feed it operators/graph.pagerank
        scores over the crawled link graph to shift from BFS order to
        importance-first ordering without touching the base table.

        Each matched row whose priority actually changes gets an equality
        'del' of its current version plus an 'add' at the new priority in
        the merge-on-read delta (priority is part of the delete key, so the
        new version survives the anti-join). Pop order (priority DESC, seq
        ASC) picks the change up on the next round; seq/attempts/state are
        untouched, so retry semantics and the determinism contract for
        everything except the intended reordering are preserved. The delta
        commit + checkpoint make it resume-safe like any round."""
        pr = priorities.select(
            F.col(url_col).alias("url"),
            F.col(priority_col).cast("int").alias("__new_priority"),
        )
        matched = (
            self._read_pending()
            .join(pr, "url")
            .where(F.col("priority") != F.col("__new_priority"))
            .cache()
        )
        n = matched.count()
        if n:
            dels = matched.select(*FRONTIER_COLS_PENDING).withColumn(
                "op", F.lit("del")
            )
            adds = (
                matched.withColumn("priority", F.col("__new_priority"))
                .select(*FRONTIER_COLS_PENDING)
                .withColumn("op", F.lit("add"))
            )
            self._commit(
                self.pending_delta_tbl,
                dels.unionByName(adds),
                mode="append",
                extra={"round": self.round_id, "reprioritized": n},
            )
            self._save_checkpoint()
        matched.unpersist()
        return n

    def purge_host(self, host: str) -> int:
        """Drop every PENDING url of one host in O(bucket) I/O — the
        partition-pruned maintenance path the host-bucket layout exists
        for (a host taken out of scope, gone dead, or newly disallowed).

        The host's bucket is computed driver-side with a pure-Python
        XXH64 (functions/xxh.py, parity-pinned against the JVM's
        xxhash64 — no 1-row Spark job); only that one partition directory
        of the base is scanned (SnapshotTable.read(partitions=[bucket])
        manifest pruning) before the merge-on-read view applies the delta,
        and only delta 'del' rows are written, O(matched).
        Fetched/documents history is untouched.
        Note: purged PENDING urls leave the seen set (the same delete
        semantics as dead URLs); to keep a purged host out permanently,
        also add a disallow rule to the robots table — admission filters
        on robots BEFORE dedup. Resume-safe like any delta commit."""
        from mcp_crawl4ai_rag_spark.functions.xxh import host_bucket

        bucket = host_bucket(host, HOST_BUCKETS)
        base = self.pending_tbl.read(
            self.spark, self._version(self.pending_tbl), partitions=[bucket]
        )
        delta = self._read(self.pending_delta_tbl)
        live = merge_on_read_pending(base, delta).where(F.col("host") == host).cache()
        n = live.count()
        if n:
            self._commit(
                self.pending_delta_tbl,
                live.select(*FRONTIER_COLS_PENDING).withColumn("op", F.lit("del")),
                mode="append",
                extra={"round": self.round_id, "purged_host": host, "dels": n},
            )
            self._save_checkpoint()
        live.unpersist()
        return n

    def ingest_links(self, batch: DataFrame, epoch: int) -> None:
        """Admit one micro-batch of streamed links (href, parent_url,
        link_pos, depth) into the pending frontier and checkpoint it
        (streaming/continuous.py).

        The round's admission (``_admit_links``) runs in discovery order
        (parent_url, link_pos, url) against pending ∪ fetched at the
        pinned versions, and the delta append extends the pinned version:
        the orphans of a torn round, or of a micro-batch that failed
        before its checkpoint, drop out of the lineage. The append raises
        CommitConflict when another writer committed to the delta since
        the call began. The checkpoint records ``epoch`` as
        ``stream_epoch`` in the same atomic swap as the versions it
        admitted; an epoch at or below it is a replay and admits nothing."""
        if self.stream_epoch is not None and epoch <= self.stream_epoch:
            return
        expected = self.pending_delta_tbl.current().version
        release: list = []
        try:
            rows, _ = self._admit_links(
                batch, ["parent_url", "link_pos", "url"], None,
                self._read_pending(), self._read(self.fetched_tbl), release,
            )
            delta = self._commit(
                self.pending_delta_tbl, rows, mode="append",
                expected_version=expected, extra={"stream_epoch": epoch},
            )
        finally:
            for free in release:
                free()
        seq0 = self.seq_counter
        self.seq_counter += delta.rows
        self._update_seen_filter(delta, seq0)
        self.stream_epoch = epoch
        self._save_checkpoint()

    # -- one BFS round --------------------------------------------------------
    # (the seen filter lives only past probe_broadcast_threshold. Each round
    # absorbs its new links and deaths after the delta commit, in one
    # distributed job: update_seen_filter — per-partition bitmaps OR-merged
    # on the driver for a bloom, per-shard deletes-then-inserts in executor
    # tasks for a cuckoo, so dead URLs leave it before link insertion.)

    def _build_seen_filter(
        self, pending: DataFrame, fetched: DataFrame
    ) -> BloomFilter | ShardedCuckoo:
        """The seen filter over the exact seen set, pending ∪ fetched —
        built where new_urls first reads it (_admit_links): when the
        threshold is crossed, on a resume above it without a usable state
        file (load_seen_filter), or after a cuckoo reached CUCKOO_MAX_LOAD.
        A cuckoo is sized from seq_counter, an upper bound on the keys it
        will hold, at most half full."""
        seen_hashes = pending.select("url_hash").unionByName(
            fetched.select("url_hash")
        )
        if self.seen_filter_kind == "bloom":
            return build_bloom(seen_hashes, "url_hash", self.bloom_bits)
        return maintain_sharded_cuckoo(
            self.spark, ShardedCuckoo.for_keys(self.seq_counter), seen_hashes
        )

    @contextmanager
    def _phase(self, name: str):
        """Time the block as the running round's phase ``name``."""
        t = time.perf_counter()
        yield
        self._phases[name] = time.perf_counter() - t

    def round(self) -> dict:
        """Run one crawl round; returns the round's metrics dict
        (popped == 0 ⇒ frontier drained).

        The round runs in one of two regimes, chosen per round
        (``_driver_regime``): on the driver-resident Arrow frontier
        (``_driver_round``) while the frontier is small, else as the Spark
        pipeline (``_spark_round``). Both produce the same rows and
        commits. The phases run in order: pop, fetch, page commits
        (submitted to the commit pool), links (ending in the pending-delta
        commit), then maintenance: seen filter, pending compaction,
        metrics, the commit barrier, tail fold, checkpoint and expiry.
        ``phases`` maps each timed phase to its wall seconds; ``other`` is
        the rest of the round.

        A round that raises has joined every Spark job it submitted and
        has not advanced the checkpoint; its in-memory state is then
        stale, so continue with ``CrawlEngine.resume``."""
        t0 = time.perf_counter()
        self._phases = {}
        self.round_id += 1
        compacts = bool(self.compact_every) and self.round_id % self.compact_every == 0
        driver = self._driver_regime()
        if not driver:
            self._frontier = None  # frees the copy; a later driver round rebuilds
        futures: list = []
        release: list = []
        try:
            out = (self._driver_round if driver else self._spark_round)(futures, release)
            if out is None:
                self.round_id -= 1
                return {"round": self.round_id + 1, "popped": 0}
            m, host_popped, copy = out
            self._finish_commits(m, host_popped, futures, compacts, copy)
        except BaseException:
            # a failed round leaves none of its jobs running on the shared
            # pool: drop what has not started, wait out the rest
            for fut in futures:
                fut.cancel()
            wait(futures)
            raise
        finally:
            # every reader of these frames has been joined
            for free in release:
                free()
        self._fold_and_checkpoint(compacts)
        if copy is not None:
            # every commit of the round has landed; compaction and the
            # tail fold change versions, not rows
            copy.stamp = self._stamp()
            self._frontier = copy
        self._phases["other"] = time.perf_counter() - t0 - sum(self._phases.values())
        m["phases"] = self._phases
        return m

    def _spark_round(self, futures: list, release: list) -> tuple | None:
        """The Spark regime's pop, fetch, page commits and links, up to the
        seen-filter update. Returns (metrics, popped per host, None), or
        None when nothing was popped."""
        with self._phase("pop"):
            pending, hosts, popped = self._pop()
        release.append(partial(unpin, popped))
        with self._phase("fetch"):
            enriched = self._fetch(popped)
            release.append(partial(unpin, enriched))
            m, host_popped = self._page_counts(enriched)
        if m["popped"] == 0:
            return None
        fetched_old = self._submit_page_commits(futures, enriched, hosts, host_popped)
        seq0 = self.seq_counter
        with self._phase("links"):
            delta, dead = self._links(
                enriched, popped, pending, fetched_old, m["popped"], release
            )
            m["links_inserted"] = delta.rows - m["popped"] - m["retried"]
            self.seq_counter += m["links_inserted"]
        self._update_seen_filter(delta, seq0, dead.select("url_hash"))
        return m, host_popped, None

    # -- the driver regime ----------------------------------------------------
    # (below DRIVER_FRONTIER_MAX_URLS the round's rows are computed on the
    # driver from an Arrow copy of the frontier that the engine, the
    # frontier's only writer, carries from round to round; the fetch is
    # the round's one Spark job, on compaction rounds too: the pending
    # base is written from the copy and the tail fold is pyarrow.)

    def _driver_regime(self) -> bool:
        """Whether this round runs on the driver: seq_counter, an upper
        bound on pending ∪ fetched, is within DRIVER_FRONTIER_MAX_URLS and
        probe_broadcast_threshold (so no seen filter exists and the
        checkpoints of both regimes are alike), and the robots rules
        compiled."""
        bound = min(DRIVER_FRONTIER_MAX_URLS, self.probe_broadcast_threshold)
        return self._robots_ok is not None and self.seq_counter <= bound

    def _stamp(self) -> tuple:
        """The pinned versions a driver copy is valid for."""
        return tuple(
            self._version(t)
            for t in (self.pending_tbl, self.pending_delta_tbl, self.fetched_tbl, self.hosts_tbl)
        )

    def _driver_frontier(self) -> DriverFrontier:
        """The frontier copy at the pinned versions. A commit by any other
        writer (seeding, reprioritize, purge_host, ingest_links, a Spark
        round) or a resumed engine leaves the stamp stale, and the copy is
        rebuilt with one toArrow per table."""
        if self._frontier is not None and self._frontier.stamp == self._stamp():
            return self._frontier
        self._frontier = None
        pending = (
            self._read_pending().select(*FRONTIER_COLS_PENDING).toArrow()
            .cast(to_arrow_schema(self._schemas["pending"]))
        )
        fetched = self._read(self.fetched_tbl).select("url").toArrow()
        hosts_df = self._read(self.hosts_tbl)
        hosts_schema = _nullable(hosts_df.schema)
        hosts = hosts_df.toArrow().cast(to_arrow_schema(hosts_schema))
        seen = pa.chunked_array(
            pending["url"].chunks + fetched["url"].cast(pa.string()).chunks, pa.string()
        )
        return DriverFrontier(self._stamp(), pending, seen, hosts, hosts_schema)

    def _driver_round(self, futures: list, release: list) -> tuple | None:
        """A round on the driver copy: the same rows as budgeted_pop,
        _fetch and _admit_links, and the same commits, written by pyarrow.
        Returns (metrics, popped per host, the next copy, unstamped), or
        None when nothing was popped."""
        with self._phase("pop"):
            fr = self._driver_frontier()
            hosts = refill_hosts_arrow(fr.hosts) if self.round_id > 1 else fr.hosts
            order = budgeted_pop_arrow(fr.pending, hosts, self.batch_size)
            popped = fr.pending.take(order)
        if not len(order):
            return None
        with self._phase("fetch"):
            pages = self._fetch_pages(popped)
        rows = popped.to_pylist()
        m = {"round": self.round_id, "popped": len(rows), "fetched": 0, "dead": 0,
             "retried": 0, "links_seen": 0}
        docs, dead, retries = [], [], []
        links: dict = {"depth": [], "href": []}
        for rank, (row, page) in enumerate(zip(rows, pages)):
            outcome = page["outcome"]
            m["retried" if outcome == "retry" else outcome] += 1
            if outcome == "dead":
                dead.append(row["url"])
            elif outcome == "retry":
                a = row["attempts"]
                retries.append({**row, "attempts": None if a is None else a + 1})
            else:
                out_links = page["out_links"] or []
                m["links_seen"] += len(set(out_links))
                docs.append((row, rank, page))
                # posexplode order: (pop_rank, link_pos)
                for href in out_links:
                    if href is not None:
                        links["depth"].append(row["depth"])
                        links["href"].append(href)
        retried = pa.Table.from_pylist(retries, schema=popped.schema)
        host_popped = Counter(r["host"] for r in rows)
        hosts_next = charge_hosts_arrow(hosts, host_popped)
        self._submit_driver_commits(futures, docs, hosts_next, fr.hosts_schema)
        with self._phase("links"):
            seen = fr.seen
            if dead:
                seen = pc.filter(seen, pc.invert(pc.is_in(seen, value_set=pa.array(dead))))
            fresh = self._admit_links_arrow(
                pa.table(links, schema=pa.schema([("depth", pa.int32()), ("href", pa.string())])),
                seen,
            )
            delta = self._commit(
                self.pending_delta_tbl,
                pa.concat_tables(
                    [_with_op(popped, "del"), _with_op(retried, "add"), _with_op(fresh, "add")]
                ),
                mode="append",
                schema=self._schemas["delta"],
                extra={"round": self.round_id, "dels": m["popped"]},
            )
            m["links_inserted"] = delta.rows - m["popped"] - m["retried"]
            self.seq_counter += m["links_inserted"]
        keep = np.ones(fr.pending.num_rows, dtype=bool)
        keep[order] = False
        pending_next = pa.concat_tables([fr.pending.filter(pa.array(keep)), retried, fresh])
        seen_next = pa.chunked_array(seen.chunks + fresh["url"].chunks, pa.string())
        if pending_next["url"].num_chunks > 16:
            pending_next = pending_next.combine_chunks()
        if seen_next.num_chunks > 16:
            seen_next = pa.chunked_array([seen_next.combine_chunks()])
        return m, host_popped, DriverFrontier(
            None, pending_next, seen_next, hosts_next, fr.hosts_schema
        )

    def _fetch_pages(self, popped: pa.Table) -> list[dict]:
        """The driver round's fetch, its one Spark job, and each popped
        page's status, clean spans, text and outcome, computed with the
        Python twins of _round_exprs' Column trees.

        Sandbox: the corpus filtered to the popped urls. A fetcher: the
        popped rows as a local relation through the (host, salt)
        repartition and fetch_with_partition_sessions."""
        urls = popped["url"].to_pylist()
        if self.fetcher is None:
            got = (
                self.corpus.where(_url_in(self.spark, urls))
                .select("url", "status_code", "spans", "out_links").toArrow()
            )
            by_url = {r["url"]: r for r in got.to_pylist()}
            fetched = [by_url.get(u) for u in urls]
        else:
            batch = local_frame(
                self.spark, zip(range(len(urls)), urls, popped["host"].to_pylist()),
                "i int, url string, host string",
            )
            fetch_input = batch.repartition(
                self.spark.sparkContext.defaultParallelism, F.col("host"), self._rx["salt"]
            )
            got = fetch_with_partition_sessions(fetch_input, self.fetcher).select(
                "i", "status_code", "spans", "out_links"
            ).toArrow()
            fetched = [None] * len(urls)
            for r in got.to_pylist():
                fetched[r["i"]] = r
        pages = []
        for page, attempts in zip(fetched, popped["attempts"].to_pylist()):
            page = page or {}
            status = page.get("status_code")
            status = 404 if status is None else status
            spans = clean_spans_py(page.get("spans") or [])
            text = render_spans_text_py(spans)
            if is_error_page_py(text, status):
                outcome = "dead"
            elif text.strip(JAVA_WHITESPACE):
                outcome = "fetched"
            elif (
                self.max_attempts is not None
                and attempts is not None
                and attempts + 1 >= self.max_attempts
            ):
                outcome = "dead"
            else:
                outcome = "retry"
            pages.append({
                "status": status, "spans": spans, "text": text, "outcome": outcome,
                "out_links": page.get("out_links"),
            })
        return pages

    def _submit_driver_commits(
        self, futures: list, docs: list, hosts: pa.Table, hosts_schema: StructType
    ) -> None:
        """The driver round's page commits — documents, fetched, hosts (and
        link edges) — submitted to the commit pool like
        _submit_page_commits'. ``docs`` holds (popped row, 0-based pop
        position, page) of each fetched page."""
        pool = self._commit_pool()
        documents = pa.Table.from_pylist(
            [
                {"url": r["url"], "host": r["host"], "depth": r["depth"],
                 "fetch_round": self.round_id, "seq_in_round": rank,
                 "status": p["status"], "content": p["text"], "spans": p["spans"]}
                for r, rank, p in docs
            ],
            schema=to_arrow_schema(self._schemas["documents"]),
        )
        futures.append(pool.submit(
            self._commit, self.documents_tbl, documents, mode="append",
            schema=self._schemas["documents"],
        ))
        fetched = pa.Table.from_pylist(
            [{**r, "state": "fetched"} for r, _, _ in docs],
            schema=to_arrow_schema(self._schemas["fetched"]),
        )
        futures.append(pool.submit(
            self._commit, self.fetched_tbl, fetched, mode="append",
            schema=self._schemas["fetched"],
        ))
        futures.append(pool.submit(self._commit, self.hosts_tbl, hosts, schema=hosts_schema))
        if self.track_link_graph:
            src, hrefs = [], []
            for r, _, p in docs:
                for href in p["out_links"] or []:
                    if href is not None:
                        src.append(r["url"])
                        hrefs.append(href)
            adm = admit_arrow(pa.array(hrefs, pa.string()))
            edges = (
                pa.table({"src": pa.array(src, pa.string()), "dst": adm.field("url")})
                .filter(pc.invert(adm.field("malformed")))
                .group_by(["src", "dst"]).aggregate([])
            )
            futures.append(pool.submit(
                self._commit, self.edges_tbl, edges, mode="append",
                schema=self._schemas["edges"],
            ))

    def _admit_links_arrow(self, links: pa.Table, seen: pa.ChunkedArray) -> pa.Table:
        """_admit_links on the driver, for a round's links (``href`` and
        the parent's ``depth``, in (pop_rank, link_pos) order): admit_arrow
        → malformed and robots filter → the urls new against ``seen``
        (new_urls' Arrow form; each url keeps its first occurrence) →
        FRONTIER_COLS_PENDING rows with seqs from seq_counter in that
        order, at the parent's depth + 1."""
        adm = admit_arrow(links["href"].combine_chunks())
        ok = self._robots_ok
        keep = [
            not bad and ok(h, p)
            for bad, h, p in zip(
                adm.field("malformed").to_pylist(),
                adm.field("host").to_pylist(),
                adm.field("path").to_pylist(),
            )
        ]
        cand = pa.table({
            "url": adm.field("url"), "host": adm.field("host"), "depth": links["depth"],
        }).filter(pa.array(keep, pa.bool_()))
        fresh = new_urls(cand, seen)
        urls = fresh["url"].to_pylist()
        buckets: dict = {}
        n = len(urls)
        return pa.table(
            {
                "url": fresh["url"],
                "url_hash": pa.array([spark_xxhash64_str(u) for u in urls], pa.int64()),
                "host": fresh["host"],
                "depth": pc.add(fresh["depth"], 1),
                "priority": pa.array(np.zeros(n, np.int32)),
                "seq": pa.array(np.arange(self.seq_counter, self.seq_counter + n, dtype=np.int64)),
                "state": pa.array(["pending"] * n, pa.string()),
                "attempts": pa.array(np.zeros(n, np.int32)),
                "bucket": pa.array(
                    [
                        buckets.setdefault(h, host_bucket(h, HOST_BUCKETS))
                        for h in fresh["host"].to_pylist()
                    ],
                    pa.int32(),
                ),
            },
            schema=to_arrow_schema(self._schemas["pending"]),
        )

    def _pop(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Pop phase: the round's pending view and refilled hosts, and the
        budgeted pop, pinned. Returns (pending, hosts, popped)."""
        pending = self._read_pending()
        hosts = self._read(self.hosts_tbl)
        if self.round_id > 1:
            hosts = refill_hosts(hosts)
        # the hosts table's row count (parquet footers, no job) bounds the
        # binding set, so budgeted_pop needs no probe job while it fits.
        # The pop's rows are computed by the fetch stage's first job.
        popped = pin(
            budgeted_pop(
                pending, hosts, self.batch_size,
                hosts_rows=self.hosts_tbl.num_rows(self._version(self.hosts_tbl)),
            )
        )
        return pending, hosts, popped

    def _fetch(self, popped: DataFrame) -> DataFrame:
        """Fetch phase: the popped rows with their pages' status, clean
        spans, text and outcome (dead / retry / fetched), pinned.

        Default (sandbox): corpus restricted to the popped batch via
        broadcast semi join (an IN-list of thousands of literals would
        bloat the plan; the broadcast side is bounded by batch_size), then
        the matched pages broadcast back onto the batch. Production: the
        injected partition fetcher with per-partition session reuse.
        Either way the salted repartition spreads hot hosts across tasks
        (J5 skew note) first."""
        fetch_input = popped.repartition(
            self.spark.sparkContext.defaultParallelism, F.col("host"), self._rx["salt"]
        )
        if self.fetcher is not None:
            joined = fetch_with_partition_sessions(fetch_input, self.fetcher).drop(
                "fetch_session", "fetch_error"
            )
        else:
            pages = self.corpus.join(
                F.broadcast(popped.select("url")), "url", "left_semi"
            ).select("url", "status_code", "spans", "out_links")
            joined = fetch_input.join(F.broadcast(pages), "url", "left")
        # prebuilt trees (__init__ _rx), one projection per dependency
        # level: status + clean_spans, then text, then outcome
        return pin(
            joined.withColumns(
                {"status": self._rx["status"], "clean_spans": self._rx["clean_spans"]}
            )
            .withColumn("text", self._rx["text"])
            .withColumn("outcome", self._rx["outcome"])
        )

    def _page_counts(self, enriched: DataFrame) -> tuple[dict, Counter]:
        """The stats pass: it materializes the fetch once, before any other
        job reads it — one (host, outcome, distinct hrefs) row per popped
        page, O(batch), summed here with no aggregation shuffle. Returns
        the round's metrics so far and the popped count per host."""
        stats = enriched.select("host", "outcome", self._rx["page_links"]).collect()
        outcomes = Counter(outcome for _, outcome, _ in stats)
        m = {
            "round": self.round_id,
            "popped": len(stats),
            "fetched": outcomes["fetched"],
            "dead": outcomes["dead"],
            "retried": outcomes["retry"],
            # Σ distinct hrefs of fetched pages
            "links_seen": sum(n for *_, n in stats),
        }
        return m, Counter(host for host, _, _ in stats)

    def _submit_page_commits(
        self, futures: list, enriched: DataFrame, hosts: DataFrame, host_popped: Counter
    ) -> DataFrame:
        """Page-commit phase: submit the documents, fetched, hosts (and
        link-edge) commits to the pool, appending each future to
        ``futures``. Returns fetched as pinned before its append, for the
        link pipeline's seen side.

        The commits overlap with the main thread's link pipeline and delta
        commit: each is a separate Spark job whose ~0.3-0.5 s of
        scheduling latency would otherwise serialize. Safe because every
        commit targets a distinct table (per-table version sequences — and
        thus all committed state — are identical to the serial schedule),
        all reads in this round pin versions captured before the
        corresponding submit, and the checkpoint is only written after
        every future is joined. The pooled commits read ``enriched`` only
        after the stats pass has materialized it."""
        pool = self._commit_pool()
        fetched = enriched.where(F.col("outcome") == "fetched")
        # documents fast-append (S4 content sink)
        docs = fetched.select(
            "url",
            "host",
            "depth",
            F.lit(self.round_id).alias("fetch_round"),
            self._rx["seq_in_round"].alias("seq_in_round"),
            "status",
            F.col("text").alias("content"),
            F.col("clean_spans").alias("spans"),
        )
        futures.append(
            pool.submit(
                self._commit, self.documents_tbl, docs, mode="append", single_file=True
            )
        )
        # fetched fast-append; the seen side pins the PRE-append fetched
        # version, so the append proceeds concurrently
        fetched_old = self._read(self.fetched_tbl)
        fetched_now = fetched.select(
            *[F.lit("fetched").alias(c) if c == "state" else c for c in FRONTIER_COLS]
        )
        futures.append(
            pool.submit(
                self._commit, self.fetched_tbl, fetched_now, mode="append", single_file=True
            )
        )
        # politeness charge
        popped_counts = local_frame(
            self.spark, host_popped.items(), "host string, popped long"
        )
        futures.append(
            pool.submit(self._commit, self.hosts_tbl, charge_hosts(hosts, popped_counts))
        )
        if self.track_link_graph:
            edges = admit_urls(
                fetched.select(
                    F.col("url").alias("src"), F.explode_outer("out_links").alias("href")
                ).where(F.col("href").isNotNull()),
                "href",
            ).select("src", F.col("url").alias("dst")).distinct()
            futures.append(
                pool.submit(self._commit, self.edges_tbl, edges, mode="append")
            )
        return fetched_old

    def _admit_links(
        self,
        links: DataFrame,
        order: list[str],
        bound: int | None,
        pending: DataFrame,
        fetched: DataFrame,
        release: list,
        dead: DataFrame | None = None,
    ) -> tuple[DataFrame, bool]:
        """Link admission, the one pipeline a round and a streamed
        micro-batch share: raw links (``href``, ``link_pos``, the parent's
        ``depth`` and the other ``order`` columns) → canonical url,
        malformed flag and robots (one admit_url pass) → first occurrence
        per url in ``order`` → the urls new against the seen set → seqs
        from seq_counter in ``order`` → pending-delta 'add' rows at the
        parent's depth + 1.

        The seen set is ``pending`` minus ``dead`` (a round's deaths),
        ∪ ``fetched``. ``bound`` bounds the parent pages (a round's
        batch_size; None for a stream): at or below rank_window_threshold
        the seqs come from one bounded window, else from the two-stage
        distributed rank. Appends a release for each frame it caches to
        ``release``. Returns the rows and whether the window rank ran
        (the rows then come out of one task)."""
        # round candidates are bounded; once the frontier outgrows the
        # threshold, the seen-scan probe shape (no frontier shuffle or
        # driver broadcast) is the only safe plan. The approximate
        # prefilter follows the same dispatch: it pays only in that
        # probe regime (shrinks the broadcast probe set before the full
        # seen scan) — against a small anti-joinable seen set its two
        # Python/Arrow probe passes are pure added stages (new_urls
        # docstring measurements; ~0.85 s/round at bench batch sizes).
        # Output is exact on both paths, so dispatch never changes it.
        probe = self.seq_counter > self.probe_broadcast_threshold
        if probe and self.seen_filter is None:
            self.seen_filter = self._build_seen_filter(pending, fetched)
        # one admit_url pass yields the canonical url, its malformed flag
        # and the host/path columns the compiled robots predicate reads
        admitted = robots_allowed(
            admit_urls(links, "href"), prebuilt_rules=self._robots_rules,
            compiled=self._robots_pred, try_compile=False,
        )
        # Per-page link dedup (SO1) is algebraically FUSED into the global
        # first-discovery aggregate below: keeping min link_pos per
        # (parent, href) then taking min(struct(*order)) per url is
        # identical to taking the min over the un-deduped rows
        # (duplicates only add larger order tuples, which can never win
        # the min; same-page duplicates share depth). An explicit
        # row_number window here would shuffle the whole exploded link
        # set once more per round for no semantic effect — at 10^10 scale
        # that is the round's largest intermediate. host rides in the
        # struct behind the unique order: it is a function of url, and
        # grouping by url alone keeps the url partitioning new_urls'
        # dedup reuses (url, the group key, leaves the struct).
        first = [c for c in order if c != "url"]
        cand = admitted.groupBy("url").agg(
            F.min(F.struct(*first, "depth", "host")).alias("f")
        ).select(
            "url",
            F.col("f.host").alias("host"),
            *[F.col(f"f.{c}").alias(c) for c in first],
            (F.col("f.depth") + 1).alias("depth"),
        )
        if probe:
            # bounded by batch x out-degree, and the probe shape reads it
            # twice (the seen-probe broadcast build + the final
            # anti-join); the plain anti-join reads it once
            cand = cand.cache()
            release.append(cand.unpersist)
        seen_pending = pending.select("url")
        if dead is not None:
            seen_pending = seen_pending.join(
                F.broadcast(dead.select("url")), "url", "left_anti"
            )
        seen_urls = seen_pending.unionByName(fetched.select("url"))
        fresh = new_urls(
            cand, seen_urls, bloom=self.seen_filter, spark=self.spark, probe_broadcast=probe
        )
        # discovery-order seq assignment. Size-aware dispatch: a round's new
        # links are bounded by batch_size × out_degree, so small batches use
        # the bounded single-window rank (one fewer job — the window input
        # is driver-page-sized); large batches and streams use the
        # two-stage distributed rank so 10^7 links never funnel through one
        # task. Both produce the identical total order.
        windowed = bound is not None and bound <= self.rank_window_threshold
        if windowed:
            ranked = fresh.withColumn(
                "__rank", F.row_number().over(Window.orderBy(*order)) - 1
            )
        else:
            ranked, pinned = with_global_rank(fresh, order, rank_col="__rank")
            release.append(pinned.unpersist)
        rows = new_pending_rows(
            ranked, seq=F.col("__rank") + F.lit(self.seq_counter), depth=F.col("depth")
        ).withColumn("op", F.lit("add"))
        return rows, windowed

    def _links(
        self,
        enriched: DataFrame,
        popped: DataFrame,
        pending: DataFrame,
        fetched_old: DataFrame,
        n_popped: int,
        release: list,
    ) -> tuple[SnapshotInfo, DataFrame]:
        """Links phase: the fetched pages' links through link admission
        (``_admit_links``) and the merge-on-read delta commit, the
        pipeline's only job. Returns the commit's info and this round's
        dead URLs; appends a release for each frame it caches to
        ``release``."""
        links = (
            enriched.where(F.col("outcome") == "fetched")
            .select(
                "pop_rank",
                "depth",
                F.posexplode_outer("out_links").alias("link_pos", "href"),
            )
            .where(F.col("href").isNotNull())
        )
        # simulator order: this round's deaths leave the seen set before
        # link insertion. Popped rows that were fetched or retried stay
        # seen, and they are in pending already.
        dead = enriched.where(F.col("outcome") == "dead").select("url", "url_hash")
        new_rows, windowed = self._admit_links(
            links, ["pop_rank", "link_pos"], self.batch_size,
            pending, fetched_old, release, dead=dead,
        )

        # merge-on-read delta commit, O(batch): every popped row version
        # gets an equality 'del' on (url, seq, attempts, priority);
        # retries re-append at attempts+1 and brand-new links append
        # fresh. The base is untouched — no O(pending) rewrite in the
        # round path. The new-link count comes from the written file's
        # footer. One file unless the distributed rank ran (its last
        # stage stays wide).
        dels = popped.select(*FRONTIER_COLS_PENDING, F.lit("del").alias("op"))
        retries = enriched.where(F.col("outcome") == "retry").select(
            *[
                (F.col(c) + 1).alias(c) if c == "attempts" else c
                for c in FRONTIER_COLS_PENDING
            ],
            F.lit("add").alias("op"),
        )
        delta = self._commit(
            self.pending_delta_tbl,
            dels.unionByName(retries).unionByName(new_rows),
            mode="append",
            single_file=windowed,
            # per-commit lineage (north rule): which round produced this
            # delta; adds = rows - dels
            extra={"round": self.round_id, "dels": n_popped},
        )
        return delta, dead

    def _update_seen_filter(
        self, delta: SnapshotInfo, seq0: int, dead_hashes: DataFrame | None = None
    ) -> None:
        """Seen-filter maintenance (probe regime only): absorb the new
        links as written (seq >= seq0 tells them from retries) and drop
        the deaths' url_hashes, if any. A cuckoo these links would fill past
        CUCKOO_MAX_LOAD is dropped instead; the next read rebuilds it,
        sized from seq_counter."""
        if self.seen_filter is None:
            return
        with self._phase("filters"):
            if _filter_fits(self.seen_filter, self.bloom_bits, self.seq_counter):
                added = (
                    self.spark.read.schema(PENDING_DELTA_DDL)
                    .parquet(delta.paths[-1])
                    .where((F.col("op") == "add") & (F.col("seq") >= seq0))
                    .select("url_hash")
                )
                self.seen_filter = update_seen_filter(
                    self.spark, self.seen_filter, added, dead_hashes
                )
            else:
                self.seen_filter = None

    def _finish_commits(
        self,
        m: dict,
        host_popped: Counter,
        futures: list,
        compacts: bool,
        copy: DriverFrontier | None,
    ) -> None:
        """Compaction of pending (on compaction rounds; from the driver
        round's next ``copy`` when there is one), the metrics commit, and
        the barrier: every pooled commit must be durable (a raised
        CommitConflict or write error surfaces here) before the checkpoint
        pointer advances."""
        if compacts:
            with self._phase("compact"):
                self._compact_pending(copy)  # folds the delta just written
        metric_rows = [
            (self.round_id, "round", k, int(v)) for k, v in m.items() if k != "round"
        ] + [
            (self.round_id, f"host:{h}", "popped", int(n))
            for h, n in sorted(host_popped.items())
        ]
        with self._phase("metrics"):
            self._commit_rows(self.metrics_tbl, metric_rows, METRICS_DDL, mode="append")
        with self._phase("commits_join"):
            for fut in futures:
                fut.result()

    def _fold_and_checkpoint(self, compacts: bool) -> None:
        """After the barrier: on compaction rounds, bin-pack the
        append-only tables' per-round files (Iceberg rewrite_data_files,
        SnapshotTable.compact_tail: a pyarrow rewrite on the driver, no
        Spark job, in either regime); then the checkpoint, then snapshot
        expiry.

        Each append-only table gains one small file per round, and
        fetched is re-read every round by the seen-side union — unfolded,
        reader file counts grow O(rounds) (the late-round drift measured
        in BENCH/BASELINE.md's 200k-page run). Tail-only fold ⇒ amortized
        O(batch) per round; it runs after the barrier so this round's
        appends are durable, before the checkpoint so the folded versions
        are the pinned ones. Expiry keeps a bounded time-travel window of
        every table (the checkpoint pins the current version, which is
        always retained); on the append-only tables it collects the
        folded-away per-round files."""
        if compacts:
            with self._phase("compact_tail"):
                for tbl in self._append_only:
                    info = tbl.compact_tail(parent_version=self._version(tbl))
                    if info is not None:
                        self.versions[tbl.name] = info.version
        with self._phase("ckpt"):
            self._save_checkpoint()
        if self.snapshot_keep:
            with self._phase("expire"):
                for tbl in self._tables:
                    tbl.expire_snapshots(keep=self.snapshot_keep)

    def run(
        self,
        max_rounds: int = 1000,
        reprioritize_every: int | None = None,
        pagerank_iter: int = 8,
        priority_scale: int = 1000,
    ) -> list[dict]:
        """Run rounds to frontier drain (or ``max_rounds``).

        ``reprioritize_every=k`` turns on the adaptive-scheduling policy
        the north rule's priority max-heap implies: every k completed
        rounds, PageRank over the accumulated link graph (requires
        ``track_link_graph=True``) is folded into pending priorities via
        ``reprioritize`` — the crawl shifts from BFS order to
        importance-first mid-flight. Ranks are quantized to
        ``int(rank * priority_scale)`` so the priority column stays an
        int and ties keep the deterministic (priority DESC, seq ASC)
        contract; the whole step is a normal delta commit + checkpoint,
        so it is resume-safe and deterministic (pinned by
        tests/test_crawl_e2e.py::test_reprioritize_every_policy).
        """
        if reprioritize_every and not self.track_link_graph:
            raise ValueError("reprioritize_every requires track_link_graph=True")
        out = []
        for _ in range(max_rounds):
            m = self.round()
            if m["popped"] == 0:
                break
            out.append(m)
            if reprioritize_every and len(out) % reprioritize_every == 0:
                m["reprioritized"] = self.reprioritize_by_pagerank(
                    n_iter=pagerank_iter, priority_scale=priority_scale
                )
        return out

    def link_graph(self) -> DataFrame:
        """Accumulated distinct (src, dst) edges of fetched pages
        (``track_link_graph=True``); input to operators/graph.pagerank."""
        return self._read(self.edges_tbl).dropDuplicates(
            ["src", "dst"]
        )

    def reprioritize_by_pagerank(
        self, n_iter: int = 8, priority_scale: int = 1000
    ) -> int:
        """One policy step: PageRank the link graph, quantize, fold into
        pending priorities. Returns rows reprioritized (0 when the graph
        is still empty)."""
        from mcp_crawl4ai_rag_spark.operators.graph import pagerank

        try:
            edges = self.link_graph()
        except FileNotFoundError:
            return 0
        ranks = pagerank(edges, src="src", dst="dst", n_iter=n_iter)
        pr = ranks.select(
            F.col("id").alias("url"),
            F.round(F.col("rank") * priority_scale).cast("int").alias("priority"),
        )
        return self.reprioritize(pr)

    # -- result accessors ------------------------------------------------------

    def documents(self) -> DataFrame:
        return self._read(self.documents_tbl)

    def frontier(self) -> DataFrame:
        """Logical frontier view: pending ∪ fetched (dead rows are gone).
        The pending table's physical partition column is dropped — the
        logical schema is FRONTIER_COLS for both halves."""
        return (
            self._read_pending()
            .select(*FRONTIER_COLS)
            .unionByName(self._read(self.fetched_tbl))
        )

    def metrics(self) -> DataFrame:
        return self._read(self.metrics_tbl)

    def crawl_order(self) -> DataFrame:
        """(url, fetch_round, seq_in_round) for every *fetched* page —
        compared against the oracle simulator's ordering."""
        return self.documents().select("url", "fetch_round", "seq_in_round")
