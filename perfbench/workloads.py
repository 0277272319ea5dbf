"""The benchmark workloads. Each drives the engine only through its public
API, in a closed loop: the next operation starts when the previous one
has completed.

A workload exposes ``prepare`` (repeatable input set-up), ``warmup``
(untimed), ``measure(seconds)``, ``check`` (marks incorrect operations)
and the metrics of its run. With tracing on, each operation is wrapped in
spans and its layers' outputs are materialised one by one.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from check import (
    STAGES,
    admission_oracle,
    check_admission,
    check_crawl,
    check_ingest,
    check_query,
    ingest_plan,
    rag_oracle,
    simulate_crawl,
)
from gen import candidate_priority, make_candidates, make_documents, make_queries, make_web
from tracing import count_lines, list_files, live_data_files, spark_totals, timer

from mcp_crawl4ai_rag_spark.functions.chunking import chunk_documents
from mcp_crawl4ai_rag_spark.functions.embedding import embed_query_py, make_hash_embed_udf
from mcp_crawl4ai_rag_spark.functions.urls import canonicalize_url, is_malformed
from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
from mcp_crawl4ai_rag_spark.operators.dedup import build_bloom, new_urls
from mcp_crawl4ai_rag_spark.operators.politeness import (
    budgeted_pop,
    robots_allowed,
    with_host_and_path,
)
from mcp_crawl4ai_rag_spark.operators.processor import ChunkStore, unprocessed_documents
from mcp_crawl4ai_rag_spark.operators.search import hybrid_merge, keyword_search, rag_query, vector_topk

SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
CORPUS_SCHEMA = (
    f"url string, host string, status_code int, spans {SPAN_SCHEMA}, "
    "out_links array<string>"
)


@dataclass
class Op:
    kind: str
    seconds: float
    traced: bool
    ok: bool = True
    info: dict = field(default_factory=dict)


def materialize(df):
    """Cache ``df`` and run it; returns (cached frame, row count)."""
    df = df.cache()
    return df, df.count()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, spark, seed: int, workdir: str, tracer, sizes: dict, log_path: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.sizes = sizes
        self.log_path = log_path
        self.ops: list[Op] = []
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        d = os.path.join(self.workdir, f"{tag}{self._dirs}")
        os.makedirs(d)
        return d

    def overhead_s(self) -> float:
        """Traced window wall time minus its untraced equivalent: each
        traced operation is charged its wall time less the median untraced
        wall time of its kind, plus the tracer's own bookkeeping."""
        extra = 0.0
        timed = [o for o in self.ops if not o.info.get("warmup")]
        for kind in {o.kind for o in timed}:
            plain = [o.seconds for o in timed if o.kind == kind and not o.traced]
            if plain:
                base = median(plain)
                extra += sum(o.seconds - base for o in timed if o.kind == kind and o.traced)
        return extra + self.tracer.bookkeeping_s

    def attempted(self) -> int:
        return len(self.ops)

    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)


# ---------------------------------------------------------------------------


class CrawlLoop(Workload):
    """CrawlEngine.seed and one untimed round, then run() one round at a
    time until the window ends or the frontier drains.

    A traced run then also makes one bulk admission of a generated
    candidate list (see ``_bulk_admission``), so the URL, robots and dedup
    layers that a round calls internally are measured on their own."""

    name = "crawl_loop"
    ADMISSION_SPANS = {
        "canon": "urls.canonicalize", "malformed": "urls.malformed",
        "robots": "politeness.robots", "dedup": "dedup.new_urls",
        "pop": "politeness.budgeted_pop",
    }

    def generate(self) -> None:
        s = self.sizes
        self.batch = s["batch_size"]
        self.web = make_web(self.seed, s["hosts"], s["pages"], s["seeds"], self.batch)

    def prepare(self) -> None:
        sp = self.spark
        rows = [
            (p["url"], p["host"], p["status_code"],
             [(x["kind"], x["text"], x["media_ref"], x["offset"]) for x in p["spans"]],
             p["out_links"])
            for p in self.web.corpus.values()
        ]
        pdf = pd.DataFrame(rows, columns=["url", "host", "status_code", "spans", "out_links"])
        if getattr(self, "corpus", None) is not None:
            self.corpus.unpersist()
        self.corpus, _ = materialize(sp.createDataFrame(pdf, CORPUS_SCHEMA))
        robots = sp.createDataFrame(
            self.web.robots, "host string, rule_type string, path_prefix string, crawl_delay double"
        )
        hosts = sp.createDataFrame(
            [(h, c, r) for h, (c, r) in self.web.budgets.items()],
            "host string, capacity double, refill_rate double",
        )
        self.crawl_dir = self.fresh_dir("crawl")
        self.engine = CrawlEngine(
            sp, self.corpus, robots, hosts, self.crawl_dir,
            batch_size=self.batch, max_attempts=3,
            compact_every=self.sizes["compact_every"],
        )

    def warmup(self) -> None:
        """Seeding and the first round run every code path of a round
        once, so the timed rounds are compared warm."""
        self.engine.seed(self.web.seeds)
        self.live_files = 0
        op = self._round(traced=False)
        op.info["warmup"] = True

    def _round(self, traced: bool) -> Op:
        """One ``run(max_rounds=1)``; appends and returns its Op (None
        when the frontier has drained)."""
        if traced:
            b0 = time.perf_counter()
            before = list_files(self.crawl_dir)
            log0 = count_lines(self.log_path, "WholeStageCodegenExec")
            self.tracer.bookkeeping_s += time.perf_counter() - b0
        op = Op("round", 0.0, traced)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("crawl.round") if traced else timer() as sp:
                out = self.engine.run(max_rounds=1)
        except Exception as exc:  # recorded as a failed operation
            op.ok, op.seconds, op.info["error"] = False, time.perf_counter() - t0, repr(exc)
            self.ops.append(op)
            return op
        if not out:  # frontier drained
            return None
        op.seconds = sp.seconds
        op.info.update(out[0])
        self.ops.append(op)
        if traced:
            b0 = time.perf_counter()
            new = {p: n for p, n in list_files(self.crawl_dir).items() if p not in before}
            op.info["files_written"] = len(new)
            op.info["bytes_written"] = sum(new.values())
            op.info["codegen_fallbacks"] = (
                count_lines(self.log_path, "WholeStageCodegenExec") - log0
            )
            self.live_files = live_data_files(self.crawl_dir)
            self.tracer.bookkeeping_s += time.perf_counter() - b0
        return op

    def measure(self, seconds: float) -> None:
        self.engine.profile_rounds = self.tracer.enabled
        t_end = time.perf_counter() + seconds
        while True:
            op = self._round(self.tracer.enabled)
            if op is None or not op.ok or time.perf_counter() >= t_end:
                break
        if self.tracer.enabled:
            self._bulk_admission()

    def rounds(self) -> list[Op]:
        return [o for o in self.ops if o.kind == "round"]

    def _bulk_admission(self) -> None:
        """Canonicalize -> malformed filter -> robots -> new_urls against a
        seen set pre-partitioned on the URL (bloom-prefiltered) ->
        budgeted_pop, over about half already-seen candidates with raw
        variants and malformed hrefs. Each stage's output is materialised
        in its own span and is one operation."""
        sp = self.spark
        a = self.sizes["admission"]
        c = self.cands = make_candidates(self.seed, a["candidates"], self.sizes["hosts"],
                                         a["pop_batch"])
        cands, _ = materialize(sp.createDataFrame(pd.DataFrame({
            "raw_url": c.raw,
            "priority": [candidate_priority(i) for i in c.base_ids],
            "seq": pd.Series(c.base_ids, dtype="int64"),
        }), "raw_url string, priority int, seq long"))
        seen, _ = materialize(
            sp.createDataFrame(pd.DataFrame({"url": [c.base_urls[i] for i in c.seen_ids]}),
                               "url string")
            .repartition(int(sp.conf.get("spark.sql.shuffle.partitions")), "url")
            .withColumn("url_hash", F.xxhash64("url"))
        )
        with self.tracer.span("dedup.bloom_build"):
            bloom = build_bloom(seen, "url_hash", a["bloom_bits"])
        robots = sp.createDataFrame(
            c.robots, "host string, rule_type string, path_prefix string, crawl_delay double"
        )
        hosts = sp.createDataFrame(list(c.tokens.items()), "host string, tokens double")
        stage = {
            "canon": lambda df: df.withColumn("url", canonicalize_url(F.col("raw_url"))),
            "malformed": lambda df: df.where(~is_malformed(F.col("url"))),
            "robots": lambda df: robots_allowed(with_host_and_path(df), robots=robots),
            "dedup": lambda df: new_urls(df, seen, bloom=bloom, spark=sp),
            "pop": lambda df: budgeted_pop(df, hosts, a["pop_batch"]),
        }
        self.admission_frames, prev = {}, cands
        with self.tracer.span("admission.bulk"):
            for name in STAGES:
                op = Op(name, 0.0, True)
                self.ops.append(op)
                try:
                    with self.tracer.span(self.ADMISSION_SPANS[name]) as s:
                        prev, op.info["rows"] = materialize(stage[name](prev))
                except Exception as exc:  # recorded as a failed operation
                    op.ok, op.info["error"] = False, repr(exc)
                    break
                op.seconds = s.seconds
                self.admission_frames[name] = prev

    def _check_admission(self) -> None:
        """The bulk admission's stage outputs against the pure-Python
        oracle, on the candidates of one hash stratum; the admitted set
        and the pop are checked in full."""
        frames = self.admission_frames
        if "pop" not in frames:  # a stage failed and is already counted
            return
        stratum = self.sizes["admission"]["oracle_stratum"]
        in_stratum = F.col("seq") % stratum == 0
        got = {
            name: {tuple(r) for r in frames[name].where(in_stratum).select("raw_url", "url").collect()}
            for name in STAGES[:3]
        }
        got["dedup"] = {r[0] for r in frames["dedup"].where(in_stratum).select("url").collect()}
        admitted = [tuple(r) for r in frames["dedup"].select("url", "host", "priority", "seq").collect()]
        popped = [r[0] for r in frames["pop"].orderBy("pop_rank").select("url").collect()]
        bad = check_admission(admission_oracle(self.cands, stratum), got, admitted, popped,
                              self.cands.tokens, self.sizes["admission"]["pop_batch"], stratum)
        for o in self.ops:
            if o.kind in bad:
                o.ok = False

    def check(self) -> None:
        if self.tracer.enabled:
            self._check_admission()
        rounds = [o for o in self.rounds() if o.ok]
        if not rounds:
            return
        eng = self.engine
        n = len(rounds)
        order = [tuple(r) for r in eng.crawl_order().collect()]
        frontier = [tuple(r) for r in eng.frontier().select("url", "state").collect()]
        docs = [
            (r["url"], r["content"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]])
            for r in eng.documents().select("url", "content", "spans").collect()
        ]
        round_of = {url: rnd for url, rnd, _seq in order}
        self.doc_bytes: dict[int, int] = {}
        for url, content, _spans in docs:
            rnd = round_of.get(url)
            self.doc_bytes[rnd] = self.doc_bytes.get(rnd, 0) + len(content.encode())
        sim = simulate_crawl(self.web, self.batch, n)
        for rnd in check_crawl(sim, order, frontier, docs, n):
            rounds[rnd - 1].ok = False

    def e2e(self) -> dict:
        rounds = [o for o in self.rounds() if o.ok and not o.info.get("warmup")]
        wall = sum(o.seconds for o in rounds)
        fetched = sum(o.info.get("fetched", 0) for o in rounds)
        return {
            "items_per_s": fetched / wall if wall else 0.0,
            "op_s_p50": median([o.seconds for o in rounds]),
        }

    def layers(self) -> dict:
        """crawl.* and snapshots.* come from the traced rounds; urls.*,
        dedup.* and politeness.* from the bulk admission."""
        rounds = [o for o in self.rounds() if o.ok and o.traced]
        spans = self.tracer.named("crawl.round")
        n = max(1, len(rounds))

        def phase(key: str) -> float:
            return sum(o.info.get("phases", {}).get(key, 0.0) for o in rounds) / n

        stage = {o.kind: o for o in self.ops if o.kind in STAGES and o.ok}

        def stage_s(name: str) -> float:
            return stage[name].seconds if name in stage else 0.0

        def stage_rows(name: str) -> float:
            return float(stage[name].info["rows"]) if name in stage else 0.0

        dedup_in, fresh = stage_rows("robots"), stage_rows("dedup")
        bloom = self.tracer.named("dedup.bloom_build")
        written = sum(o.info.get("bytes_written", 0) for o in rounds)
        doc_bytes = sum(getattr(self, "doc_bytes", {}).get(o.info["round"], 0) for o in rounds)
        out = {
            "crawl.round_s": median([o.seconds for o in rounds]),
            "crawl.jobs_per_round": sum(s.spark.get("jobs", 0) for s in spans) / n,
            "crawl.stages_per_round": sum(s.spark.get("stages", 0) for s in spans) / n,
            "crawl.tasks_per_round": sum(s.spark.get("tasks", 0) for s in spans) / n,
            "crawl.phase.pop_s": phase("pop"),
            "crawl.phase.links_s": phase("links"),
            "crawl.phase.commits_join_s": phase("commits_join"),
            "crawl.phase.compact_s": phase("compact") + phase("compact_tail"),
            "crawl.phase.other_s": phase("other"),
            "crawl.codegen_fallbacks_per_round":
                sum(o.info.get("codegen_fallbacks", 0) for o in rounds) / n,
            "snapshots.files_written_per_round":
                sum(o.info.get("files_written", 0) for o in rounds) / n,
            "snapshots.bytes_written_per_round": written / n,
            "snapshots.write_amp": written / doc_bytes if doc_bytes else 0.0,
            "snapshots.live_files": float(self.live_files),
            "urls.canon_s": stage_s("canon"),
            "urls.canon_rows": stage_rows("canon"),
            "urls.malformed_s": stage_s("malformed"),
            "dedup.new_urls_s": stage_s("dedup"),
            "dedup.candidates": dedup_in,
            "dedup.fresh": fresh,
            "dedup.fresh_ratio": fresh / dedup_in if dedup_in else 0.0,
            "dedup.bloom_build_s": bloom[0].seconds if bloom else 0.0,
            "politeness.robots_s": stage_s("robots"),
            "politeness.pop_s": stage_s("pop"),
            "politeness.popped_rows": stage_rows("pop"),
            "politeness.binding_hosts": float(sum(
                1 for t in self.cands.tokens.values()
                if t < self.sizes["admission"]["pop_batch"]
            )),
        }
        out.update(spark_totals(spans))
        return out


# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------


class RagIngestServe(Workload):
    """Processor micro-batches (ChunkStore.process_round) interleaved with
    a closed loop of hybrid rag_query calls from one client against the
    growing chunk table, which the warm-up fills with a base of a few
    thousand chunks."""

    name = "rag_ingest_serve"

    def generate(self) -> None:
        s = self.sizes
        self.k = 5
        self.dim = s["embed_dim"]
        self.batch_docs = s["batch_docs"]
        self.queries_per_batch = s["queries_per_batch"]
        self.docs = make_documents(self.seed, s["docs"], s["hosts"])
        self.queries = make_queries(self.seed, 4096)
        plan = ingest_plan(self.docs, self.batch_docs)
        base = s["base_docs"] // self.batch_docs
        # batch 0 is the warm-up's single base micro-batch
        self.plan = [sum(plan[:base], [])] + plan[base:]

    def prepare(self) -> None:
        if getattr(self, "docs_df", None) is not None:
            self.docs_df.unpersist()
        pdf = pd.DataFrame(self.docs, columns=["url", "fetch_round", "seq_in_round", "content"])
        self.docs_df, _ = materialize(self.spark.createDataFrame(
            pdf, "url string, fetch_round int, seq_in_round int, content string"
        ))
        self.store_dir = self.fresh_dir("chunks")
        self.store = ChunkStore(self.spark, self.store_dir)

    def chunks_view(self):
        return self.store.read().withColumn("id", F.xxhash64("url", "chunk_index"))

    def warmup(self) -> None:
        """One process_round of the base documents and one query, so
        every code path has run once and the timed queries scan a table
        of realistic size. The base batch is checked like the others."""
        op = self._ingest(False, limit=len(self.plan[0]))
        op.info.update(batch=0, warmup=True)
        self.ops.append(op)
        rag_query(self.chunks_view(), "warm up", k=self.k, hybrid=True, embed_dim=self.dim).collect()

    def _ingest(self, traced: bool, limit: int | None = None) -> Op:
        op = Op("ingest", 0.0, traced)
        version_before = self.store.tbl.current().version
        try:
            if not traced:
                with timer() as sp:
                    n = self.store.process_round(self.docs_df, embed_dim=self.dim,
                                                 limit=limit or self.batch_docs)
            else:
                before = list_files(self.store_dir)
                with self.tracer.span("processor.batch") as sp:
                    with self.tracer.span("processor.unprocessed_scan"):
                        todo, _ = materialize(unprocessed_documents(
                            self.docs_df, self.store.read(), limit=self.batch_docs))
                    with self.tracer.span("chunking.chunk_documents") as cs:
                        chunked, n = materialize(chunk_documents(todo.select("url", "content")))
                    cs.attrs["chunks"] = n
                    with self.tracer.span("embedding.hash_embed"):
                        embedded, _ = materialize(chunked.withColumn(
                            "embedding", make_hash_embed_udf(self.dim)(F.col("chunk_json"))))
                    with self.tracer.span("snapshots.append"):
                        if n:
                            self.store.append(embedded)
                for df in (todo, chunked, embedded):
                    df.unpersist()
                b0 = time.perf_counter()
                new = {p: s for p, s in list_files(self.store_dir).items() if p not in before}
                op.info["files_written"] = len(new)
                op.info["bytes_written"] = sum(new.values())
                self.tracer.bookkeeping_s += time.perf_counter() - b0
        except Exception as exc:
            op.ok, op.info["error"] = False, repr(exc)
            return op
        op.seconds = sp.seconds
        op.info.update(chunks=n, version_before=version_before,
                       version_after=self.store.tbl.current().version)
        return op

    def _query(self, q: str, traced: bool) -> Op:
        op = Op("query", 0.0, traced)
        view = self.chunks_view()
        try:
            if not traced:
                with timer() as sp:
                    rows = rag_query(view, q, k=self.k, hybrid=True, embed_dim=self.dim).collect()
            else:
                qs = q.strip()
                with self.tracer.span("search.rag_query") as sp:
                    with self.tracer.span("search.vector_topk"):
                        v, _ = materialize(vector_topk(
                            view, embed_query_py(qs, self.dim), k=2 * self.k, id_col="id"))
                    with self.tracer.span("search.keyword_search"):
                        kw, _ = materialize(keyword_search(view, qs, k=2 * self.k, id_col="id"))
                    with self.tracer.span("search.hybrid_merge"):
                        rows = hybrid_merge(v, kw, k=self.k, id_col="id").collect()
                v.unpersist()
                kw.unpersist()
        except Exception as exc:
            op.ok, op.info["error"] = False, repr(exc)
            return op
        op.seconds = sp.seconds
        op.info.update(query=q, version=self.store.tbl.current().version,
                       rows=[(r["id"], r["tier"], r["similarity"]) for r in rows])
        return op

    def measure(self, seconds: float) -> None:
        """Operations run in a fixed order, one ingest batch then
        ``queries_per_batch`` queries. The window ends after the first
        query that finds both ``seconds`` elapsed and ``min_queries`` run,
        so a run holds the same mix however fast the machine is."""
        min_queries = self.sizes["min_queries"]
        t_end = time.perf_counter() + seconds
        batches = queries = 0
        while True:
            if queries == batches * self.queries_per_batch and batches + 1 < len(self.plan):
                op = self._ingest(self.tracer.enabled and batches % 2 == 1)
                batches += 1
                op.info["batch"] = batches
                self.ops.append(op)
                if not op.ok:
                    break
            self.ops.append(self._query(
                self.queries[queries % len(self.queries)],
                self.tracer.enabled and queries % 2 == 1))
            queries += 1
            if queries >= min_queries and time.perf_counter() >= t_end:
                break

    def check(self) -> None:
        tables: dict = {}

        def table(version: int):
            if version not in tables:
                tables[version] = (
                    self.store.tbl.read(self.spark, version)
                    .withColumn("id", F.xxhash64("url", "chunk_index"))
                    .select("id", "url", "content", "embedding").toPandas()
                )
            return tables[version]

        done: set = set()
        for o in self.ops:
            if o.kind == "ingest" and o.ok:
                got = set(table(o.info["version_after"])["url"]) - done
                o.ok = check_ingest(self.plan[o.info["batch"]], got, o.info["chunks"])
                done |= got
            elif o.kind == "query" and o.ok:
                t = table(o.info["version"])
                o.ok = check_query(rag_oracle(t, o.info["query"], self.k, self.dim),
                                   o.info["rows"])
        self.table_rows = {v: len(t) for v, t in tables.items()}

    def e2e(self) -> dict:
        ingests = [o for o in self.ops
                   if o.kind == "ingest" and o.ok and not o.info.get("warmup")]
        docs = sum(len(self.plan[o.info["batch"]]) for o in ingests)
        wall = sum(o.seconds for o in ingests)
        return {
            "items_per_s": docs / wall if wall else 0.0,
            "op_s_p50": median([o.seconds for o in self.ops if o.kind == "query" and o.ok]),
        }

    def layers(self) -> dict:
        t = self.tracer
        traced_q = [o for o in self.ops if o.kind == "query" and o.traced and o.ok]
        traced_i = [o for o in self.ops if o.kind == "ingest" and o.traced and o.ok]
        doc_bytes = sum(
            len(d[3]) for o in traced_i for d in self.plan[o.info["batch"]]
        )
        written = sum(o.info.get("bytes_written", 0) for o in traced_i)
        n_i = max(1, len(traced_i))
        q_spans = t.named("search.rag_query")

        def mean_s(name: str) -> float:
            spans = t.named(name)
            return sum(s.seconds for s in spans) / len(spans) if spans else 0.0

        out = {
            "processor.batch_s": mean_s("processor.batch"),
            "processor.unprocessed_scan_s": mean_s("processor.unprocessed_scan"),
            "chunking.s": mean_s("chunking.chunk_documents"),
            "chunking.chunks": sum(o.info.get("chunks", 0) for o in traced_i) / n_i,
            "embedding.s": mean_s("embedding.hash_embed"),
            "snapshots.files_written_per_round":
                sum(o.info.get("files_written", 0) for o in traced_i) / n_i,
            "snapshots.bytes_written_per_round": written / n_i,
            "snapshots.write_amp": written / doc_bytes if doc_bytes else 0.0,
            "snapshots.live_files": float(live_data_files(self.store_dir)),
            "search.vector_s": mean_s("search.vector_topk"),
            "search.keyword_s": mean_s("search.keyword_search"),
            "search.merge_s": mean_s("search.hybrid_merge"),
            "search.rows_scanned": median([self.table_rows.get(o.info["version"], 0) for o in traced_q]),
            "search.jobs_per_query": (
                sum(s.spark.get("jobs", 0) for s in q_spans) / len(q_spans) if q_spans else 0.0
            ),
        }
        out.update(spark_totals(t.named("processor.batch") + q_spans))
        return out


WORKLOADS = {w.name: w for w in (CrawlLoop, RagIngestServe)}
