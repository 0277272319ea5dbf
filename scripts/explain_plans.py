"""Dump physical plans for the engine's hot paths → PLANS.md.

Evidence that the declarative formulation gets the physical plans we want:
- parquet scans show PushedFilters + pruned ReadSchema,
- small-side joins are BroadcastHashJoin,
- pipelines sit inside WholeStageCodegen spans,
- the frontier pop uses TakeOrderedAndProject (no global sort),
- the seen-set anti-join only shuffles bloom-hit candidates.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mcp_crawl4ai_rag_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="explain", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sections: list[tuple[str, str, str]] = []

    # 1. pushdown + column pruning on a filtered scan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("n_chars") > 300).select("doc_id", "n_chars")
    sections.append(
        (
            "Filtered projection scan (pushdown + pruning)",
            "Filter reaches the parquet reader (PushedFilters) and only the "
            "projected columns are read (ReadSchema).",
            grab(q),
        )
    )

    # 2. fetch join: pushdown-filtered corpus scan + broadcast join back
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    popped = orders.limit(20).select(F.col("o_orderkey").alias("k"))
    pages = orders.where(F.col("o_orderkey").isin([1, 2, 3, 4, 5])).select(
        F.col("o_orderkey").alias("k"), "o_totalprice"
    )
    fetch = popped.join(F.broadcast(pages), "k", "left")
    sections.append(
        (
            "Fetch join (J5): IN-filter pushdown + BroadcastHashJoin",
            "The popped batch's url set is pushed into the corpus scan; the "
            "matched pages broadcast back to the batch.",
            grab(fetch),
        )
    )

    # 2b. the driver regime's fetch: the round's one Spark job
    from mcp_crawl4ai_rag_spark.operators.crawl import _url_in

    corpus = docs.select(F.col("source").alias("url"), "text")
    sections.append(
        (
            "Driver-regime fetch (J5): the round's one job",
            "Below DRIVER_FRONTIER_MAX_URLS the popped urls arrive as one "
            "JVM-built IN set (InSet) that reaches the parquet reader "
            "(PushedFilters: In); the rows go to the driver by toArrow, "
            "with no join and no exchange.",
            grab(corpus.where(_url_in(spark, [f"src{i}" for i in range(128)]))),
        )
    )

    # 3. robots broadcast join — shuffle-free
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        robots_allowed,
        with_host_and_path,
    )

    robots = spark.createDataFrame(
        [("h.com", "disallow", "/private/", 0.0), ("h.com", "allow", "/", 0.0)],
        "host string, rule_type string, path_prefix string, crawl_delay double",
    )
    cand = with_host_and_path(
        docs.select(
            F.concat(F.lit("https://h.com/documentation/"), F.col("doc_id")).alias("url")
        )
    )
    sections.append(
        (
            "Robots evaluation (J6): BroadcastHashJoin + array fold, no shuffle",
            "Rules collapse to one array per host; candidates never "
            "repartition.",
            grab(robots_allowed(cand, robots)),
        )
    )

    # 4. frontier pop: salted pre-prune + TakeOrderedAndProject
    from mcp_crawl4ai_rag_spark.operators.politeness import budgeted_pop

    pending = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"), F.lit(".com/p/"), F.col("doc_id")).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"), F.lit(".com")).alias("host"),
        F.lit(1).alias("depth"),
        F.lit(0).alias("priority"),
        F.col("doc_id").alias("seq"),
    )
    # 4a. no budget binds (floor(tokens) >= batch for every host): the
    # binding-only fast path is a single-scan top-k — no join, no window
    # shuffle at all
    hosts = spark.createDataFrame(
        [("h0.com", 10.0, 5.0, 10.0)],
        "host string, capacity double, refill_rate double, tokens double",
    )
    sections.append(
        (
            "Frontier pop (W1) fast path: no binding budget",
            "Every host's floor(tokens) >= batch_size, so no per-host rank "
            "filter can change the global top-k: the pop collapses to ONE "
            "TakeOrderedAndProject over the scan — no join, no window "
            "shuffles, no union.",
            grab(budgeted_pop(pending, hosts, 10)),
        )
    )
    # 4b. a budget binds: bypass branch unions with the salted pre-prune +
    # exact per-host window over only the rate-limited hosts' rows
    hosts_binding = spark.createDataFrame(
        [("h0.com", 10.0, 5.0, 3.0)],
        "host string, capacity double, refill_rate double, tokens double",
    )
    sections.append(
        (
            "Frontier pop (W1) budgeted branch: salted window pre-prune + TakeOrderedAndProject",
            "One host's budget binds (floor(tokens)=3 < batch=10): its rows "
            "go through two bounded windows (host,salt) then (host); "
            "unbudgeted hosts bypass both shuffles; the global top-k is a "
            "TakeOrderedAndProject, not a total sort.",
            grab(budgeted_pop(pending, hosts_binding, 10)),
        )
    )

    # 5. seen-set dedup: bloom branch + anti-join on hits only
    from mcp_crawl4ai_rag_spark.operators.dedup import build_bloom, new_urls

    seen = docs.select(F.concat(F.lit("https://s/"), F.col("doc_id")).alias("url"))
    bloom = build_bloom(seen.select(F.xxhash64("url").alias("k")), "k", num_bits=1 << 20)
    cands = docs.select(F.concat(F.lit("https://s/"), (F.col("doc_id") * 2)).alias("url"))
    sections.append(
        (
            "URL-seen dedup (J3): bloom prefilter union + exact anti-join",
            "Bloom misses bypass the join entirely; only hits shuffle into "
            "the LeftAnti SortMergeJoin/BHJ.",
            grab(new_urls(cands, seen, bloom=bloom, spark=spark)),
        )
    )

    # 6. hybrid merge
    from mcp_crawl4ai_rag_spark.functions.embedding import hash_embed_py
    from mcp_crawl4ai_rag_spark.operators.search import (
        hybrid_merge,
        keyword_search,
        vector_topk,
    )

    chunks = docs.select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("u/"), F.col("doc_id")).alias("url"),
        F.col("text").alias("content"),
    ).withColumn("embedding", F.lit(hash_embed_py("x", 8)))
    v = vector_topk(chunks, hash_embed_py("q", 8), k=5, id_col="id")
    kw = keyword_search(chunks, "the", k=5, id_col="id")
    sections.append(
        (
            "Hybrid merge (J4): tiered full-outer join",
            "Both arms are TakeOrderedAndProject top-k; merge is one "
            "full-outer join plus projection.",
            grab(hybrid_merge(v, kw, k=5)),
        )
    )

    # 7. pagination (W6): TakeOrderedAndProject, no single-partition sort
    from mcp_crawl4ai_rag_spark.operators.search import paginate

    pg = paginate(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        limit=10,
        offset=20,
    )
    sections.append(
        (
            "Pagination (W6): TakeOrderedAndProject(limit=offset+limit)",
            "The table never funnels through one task: per-partition top-k "
            "heaps feed a bounded TakeOrderedAndProject; the row_number "
            "window that drops the offset runs on ≤ offset+limit rows.",
            grab(pg),
        )
    )

    # 8. merge-on-read pending view: base ∪ delta-adds, broadcast anti dels
    import tempfile

    from mcp_crawl4ai_rag_spark.operators.crawl import merge_on_read_pending
    from mcp_crawl4ai_rag_spark.plans.snapshots import SnapshotTable

    wd = tempfile.mkdtemp(prefix="plans-mor-")
    base_tbl = SnapshotTable(wd, "frontier_pending")
    delta_tbl = SnapshotTable(wd, "frontier_pending_delta")
    frontier_rows = pending.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        "host",
        "depth",
        "priority",
        "seq",
        F.lit("pending").alias("state"),
        F.lit(0).alias("attempts"),
        F.pmod(F.xxhash64("host"), F.lit(16)).cast("int").alias("bucket"),
    )
    base_tbl.commit_partitioned(frontier_rows, "bucket")
    delta_tbl.commit(
        frontier_rows.limit(5).withColumn("op", F.lit("del")).unionByName(
            frontier_rows.limit(3).withColumn("op", F.lit("add"))
        )
    )
    sections.append(
        (
            "Frontier merge-on-read view: partitioned base + delta, "
            "broadcast anti-join deletes",
            "Per-round commits are O(batch) delta appends; the read-side "
            "equality-delete resolution is a BroadcastHashJoin LeftAnti on "
            "(url, seq, attempts, priority), null-safe (each key becomes a "
            "coalesce + isnull pair) — the base never shuffles, and "
            "reprioritized row versions survive their own delete. The "
            "manifest's bucket→path map gives partition-pruned scans for "
            "host-scoped maintenance.",
            grab(merge_on_read_pending(base_tbl.read(spark), delta_tbl.read(spark))),
        )
    )

    # 9. stratified sampling: a pure narrow filter — NO Exchange anywhere
    from mcp_crawl4ai_rag_spark.operators.sampling import stratified_sample

    samp = stratified_sample(
        docs.select("doc_id", "lang"), {"en": 0.5, "de": 0.25}, "lang", "doc_id"
    )
    sections.append(
        (
            "Stratified sampling (zero-shuffle narrow filter)",
            "The hash-threshold keep predicate compiles into the scan's "
            "WholeStageCodegen Filter — no Exchange in the whole plan, so "
            "the operator is partition-count-invariant at any scale.",
            grab(samp),
        )
    )

    # 10. duplicated-substring hits: uniform-hash shuffle + semi join,
    # never a pairwise join
    from mcp_crawl4ai_rag_spark.operators.dedup import duplicated_token_spans

    sections.append(
        (
            "Duplicated-substring spans (shingle-hash shuffle + semi join)",
            "Shingles explode O(tokens) rows; the aggregate shuffles on the "
            "uniform 64-bit hash; hits come back via LeftSemi. The interval "
            "merge windows per doc_id — bounded partitions, no "
            "SinglePartition exchange.",
            grab(duplicated_token_spans(docs, "text", "doc_id")),
        )
    )

    # 11. sequence packing: distributed prefix sum, no global window
    from mcp_crawl4ai_rag_spark.operators.packing import pack_offsets

    packed = pack_offsets(
        docs.select("doc_id", F.length("text").cast("long").alias("n_tokens")),
        "n_tokens",
        ["doc_id"],
        seq_len=2048,
        rank_window_threshold=0,
    )
    sections.append(
        (
            "Sequence packing (two-stage distributed prefix sum)",
            "RangeRepartition + per-partition MapInPandas local cumsum + a "
            "broadcast offset join — check there is NO 'Window' over "
            "'Exchange SinglePartition' anywhere in the plan.",
            grab(packed),
        )
    )

    # 12. feature-hashing embedder: pure JVM, no Python nodes
    from mcp_crawl4ai_rag_spark.functions.embedding import feature_hash_embed

    sections.append(
        (
            "Feature-hashing embedder (pure JVM, zero Python)",
            "The hashing-trick featurizer (md5-bucketed signed token "
            "counts, per-doc L2 norm): explode + two uniform shuffles "
            "((id,bucket) aggregate, id window) — verify there is NO "
            "ArrowEvalPython/BatchEvalPython node anywhere; the whole "
            "plan stays in whole-stage codegen.",
            grab(feature_hash_embed(docs, "text", "doc_id", dim=16)),
        )
    )

    out = ["# PLANS — physical-plan evidence for the hot paths\n"]
    out.append(
        "Generated by `python scripts/explain_plans.py` "
        f"(sf dir: {SF_DIR}). Things to check in each plan are noted inline.\n"
    )
    for title, note, plan in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
    # preserve hand-written analysis below the marker across regenerations
    marker = "<!-- MANUAL SECTIONS — kept verbatim by explain_plans.py -->"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    manual = ""
    if os.path.exists(path):
        with open(path) as f:
            prev = f.read()
        if marker in prev:
            manual = prev.split(marker, 1)[1]
    out.append(f"\n{marker}\n{manual}")
    with open(path, "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
