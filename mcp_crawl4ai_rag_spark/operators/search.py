"""Query path: vector / keyword / hybrid search, rerank stub, pagination,
stats rollup.

Reference semantics:
- vector top-k: cosine over chunks, similarity = 1 - distance
  (operations.py:176-187) — exact brute force (the reference validated
  exact search too, docs/pgvector_2560_dimensions_solution.md:76-118).
- keyword: content ILIKE '%q%' ORDER BY url DESC LIMIT k
  (operations.py:189-198).
- hybrid merge (apple-dev-mcp.py:277-312): items in BOTH result sets come
  first (similarity boosted 1.2x, capped 1.0), then remaining vector hits,
  then keyword-only hits at similarity 0.5; truncate to k. The reference
  iterates keyword order for the both-tier, vector order for the
  vector-tier, keyword order for the keyword-tier — reproduced here with
  rank columns (deterministic, SQL-expressible).
- rerank (src/local_reranker.py:96-145): a cross-encoder; stubbed as a
  deterministic hash score, sort desc (apple-dev-mcp.py:189-192 shape).
- stats rollup: frontend/api.py:276-301.

Two forms of the hybrid query. ``vector_topk``, ``keyword_search`` and
``hybrid_merge`` are lazy Spark plans, one per contract query (each has a
DuckDB oracle). ``rag_query`` serves the whole query eagerly, on one of
two sides that give the same rows:

- the scan: a single ``mapInArrow`` pass scores every chunk and keeps
  each partition's top-2k vector rows and top-2k keyword hits, at most
  2·2k rows per partition reach the driver, and ``merge_tiers`` (the
  pure-Python twin of ``hybrid_merge``) merges them there. One Spark job,
  one stage, one read of the chunk table.
- the driver view: when the chunk plan is deterministic, reads only local
  parquet files, and those hold at most ``DRIVER_VIEW_MAX_BYTES``
  uncompressed bytes, the same candidate pass runs on the driver over an
  Arrow copy of the chunk columns. The copy sits in one module-level
  slot, keyed by the session, the plan (``sameSemantics``) and the input
  files with their sizes and mtimes. A repeat query runs no Spark job;
  the first query after a commit (new version directories, so new input
  files) rebuilds the copy with one JVM-only ``toArrow``.

Either way the result is a local relation.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, StructField, StructType

from mcp_crawl4ai_rag_spark.frames import local_frame
from mcp_crawl4ai_rag_spark.functions.embedding import (
    BLAS_DIM_THRESHOLD,
    cosine_rows,
    cosine_sim,
    make_cosine_batch_udf,
)

def vector_topk(
    chunks: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """W4: exact cosine top-k. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort.
    Similarity kernel dispatches on dimensionality: Column fold (JVM,
    whole-stage codegen) below BLAS_DIM_THRESHOLD, Arrow-batched numpy
    row sums above (both exact double-precision cosine)."""
    if len(query_vec) >= BLAS_DIM_THRESHOLD:
        sim = make_cosine_batch_udf(list(query_vec))(F.col(vec_col))
    else:
        # fail LOUDLY on a dimension mismatch: below the BLAS threshold the
        # zip_with fold would otherwise pad with nulls and return null
        # similarities — silently garbage top-k (the numpy path already
        # raises on a shape mismatch, in cosine_rows)
        sim = F.when(
            F.size(F.col(vec_col)) == F.lit(len(query_vec)),
            cosine_sim(F.col(vec_col), query_vec),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "vector_topk: embedding dim mismatch — query has "
                        f"{len(query_vec)} dims, row has "
                    ),
                    F.size(F.col(vec_col)).cast("string"),
                )
            ).cast("double")
        )
    return (
        chunks.where(F.col(vec_col).isNotNull())
        .withColumn("similarity", sim)
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
    )


def keyword_search(
    chunks: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """W5: ILIKE containment, url DESC order (operations.py:189-198)."""
    return (
        chunks.where(F.lower(F.col(content_col)).contains(query.lower()))
        .orderBy(F.desc("url"), F.asc(id_col))
        .limit(k)
    )


def hybrid_merge(
    vector_hits: DataFrame,
    keyword_hits: DataFrame,
    k: int = 10,
    id_col: str = "id",
    keyword_rank_col: str | None = None,
) -> DataFrame:
    """J4: tiered outer-join merge.

    tier 0 = in both (similarity*1.2 capped at 1.0, keyword order),
    tier 1 = vector-only (vector order), tier 2 = keyword-only (0.5,
    keyword order); truncate to k. Pure joins/windows — no iteration.

    keyword order defaults to the reference's url DESC (parity with
    operations.py); pass ``keyword_rank_col`` naming a precomputed rank
    on keyword_hits (e.g. BM25 relevance order) to use that instead.
    """
    v = vector_hits.select(
        F.col(id_col).alias("id"),
        F.col("url").alias("v_url"),
        F.col("content").alias("v_content"),
        "similarity",
        F.row_number()
        .over(Window.orderBy(F.desc("similarity"), F.asc(id_col)))
        .alias("v_rank"),
    )
    kw_rank = (
        F.col(keyword_rank_col)
        if keyword_rank_col
        else F.row_number().over(Window.orderBy(F.desc("url"), F.asc(id_col)))
    )
    kw = keyword_hits.select(
        F.col(id_col).alias("id"),
        F.col("url").alias("k_url"),
        F.col("content").alias("k_content"),
        kw_rank.alias("k_rank"),
    )
    merged = v.join(kw, "id", "full_outer").select(
        "id",
        F.coalesce("v_url", "k_url").alias("url"),
        F.coalesce("v_content", "k_content").alias("content"),
        F.when(
            F.col("v_rank").isNotNull() & F.col("k_rank").isNotNull(),
            F.least(F.lit(1.0), F.col("similarity") * 1.2),
        )
        .when(F.col("v_rank").isNotNull(), F.col("similarity"))
        .otherwise(F.lit(0.5))
        .alias("similarity"),
        F.when(F.col("v_rank").isNotNull() & F.col("k_rank").isNotNull(), F.lit(0))
        .when(F.col("v_rank").isNotNull(), F.lit(1))
        .otherwise(F.lit(2))
        .alias("tier"),
        F.coalesce("k_rank", F.lit(0)).alias("k_rank"),
        F.coalesce("v_rank", F.lit(0)).alias("v_rank"),
    )
    ordered = merged.orderBy(
        "tier",
        F.when(F.col("tier") == 1, F.col("v_rank")).otherwise(F.col("k_rank")),
    )
    return ordered.limit(k).select("id", "url", "content", "similarity", "tier")


# candidate order of each tier, as Arrow sort keys; nulls sort last, as
# under Spark's DESC
VECTOR_ORDER = [("similarity", "descending"), ("id", "ascending")]
KEYWORD_ORDER = [("url", "descending"), ("id", "ascending")]


def _top(t: pa.Table, n: int, order: list) -> pa.Table:
    return t.take(pc.sort_indices(t, sort_keys=order, null_placement="at_end")[:n])


def _similarity(emb: pa.Array, q: np.ndarray) -> pa.Array:
    """Cosine of each embedding against q; null where the embedding is null."""
    present = emb.filter(emb.is_valid())
    lengths = present.value_lengths()
    wrong = pc.not_equal(lengths, len(q))
    if pc.any(wrong).as_py():
        raise ValueError(
            f"rag_query: embedding dim mismatch — query has {len(q)} dims, "
            f"row has {pc.filter(lengths, wrong)[0]}"
        )
    m = present.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    valid = emb.is_valid().to_numpy(zero_copy_only=False)
    sims = np.zeros(len(emb))
    sims[valid] = cosine_rows(m.reshape(len(present), len(q)), q)
    return pa.array(sims, mask=~valid)


def _candidate_pass(qvec: list[float], n: int, keyword: bool):
    """The mapInArrow body: one partition's top-n rows with an embedding
    by VECTOR_ORDER (``vector`` true) and, when ``keyword``, its top-n
    keyword hits by KEYWORD_ORDER (``vector`` false)."""
    q = np.asarray(qvec, dtype=np.float64)

    def run(batches):
        vec, kw = [], []
        for b in batches:
            emb = b.column("embedding")
            t = pa.Table.from_batches([b]).drop_columns(["embedding"])
            t = t.append_column("similarity", _similarity(emb, q))
            vec.append(_top(t.filter(emb.is_valid()), n, VECTOR_ORDER))
            if keyword:
                kw.append(_top(t.filter(t.column("__kw")), n, KEYWORD_ORDER))
        for tops, order, flag in ((vec, VECTOR_ORDER, True), (kw, KEYWORD_ORDER, False)):
            if tops:
                top = _top(pa.concat_tables(tops), n, order).select(
                    ["id", "url", "content", "similarity"]
                )
                yield from top.append_column(
                    "vector", pa.array([flag] * len(top), pa.bool_())
                ).to_batches()

    return run


def merge_tiers(vector_hits: list, keyword_hits: list, k: int) -> list:
    """The tiered merge of hybrid_merge, in pure Python, for driver-sized
    inputs. vector_hits: (id, url, content, similarity) in vector order;
    keyword_hits: (id, url, content) in keyword order. Returns the first k
    (id, url, content, similarity, tier): tier 0 = in both (min(1,
    1.2·similarity), keyword order), tier 1 = vector only (vector order),
    tier 2 = keyword only (0.5, keyword order)."""
    sim = {h[0]: h[3] for h in vector_hits}
    in_kw = {h[0] for h in keyword_hits}
    both = [(i, u, c, min(1.0, sim[i] * 1.2), 0) for i, u, c in keyword_hits if i in sim]
    vector_only = [(i, u, c, s, 1) for i, u, c, s in vector_hits if i not in in_kw]
    keyword_only = [(i, u, c, 0.5, 2) for i, u, c in keyword_hits if i not in sim]
    return (both + vector_only + keyword_only)[:k]


# The largest chunk table, in uncompressed parquet bytes (the footers'
# total_byte_size), that rag_query copies to the driver and serves there.
DRIVER_VIEW_MAX_BYTES = 256 << 20

# The driver view: None, or (session, src, stamp, nbytes, table), where
# table is src's rows plus Spark's lower(content) as __lc. Replaced whole
# by one assignment and never mutated, so readers take no lock.
_VIEW = None


def _file_stamp(src: DataFrame) -> tuple | None:
    """(path, size, st_mtime_ns) of each of src's input files, sorted; None
    when there are none or one is not a local file."""
    stamp = []
    for uri in src.inputFiles():
        parts = urlsplit(uri)
        if parts.scheme != "file":
            return None
        path = unquote(parts.path)
        try:
            st = os.stat(path)
        except OSError:
            return None
        stamp.append((path, st.st_size, st.st_mtime_ns))
    return tuple(sorted(stamp)) or None


def _parquet_plan(src: DataFrame) -> bool:
    """Whether src's analyzed plan is deterministic and every leaf of it
    is a parquet file relation (so its rows are a function of the plan
    and the files' bytes)."""
    plan = src._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return False
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return False
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation" or (
            rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        ):
            return False
    return True


def _uncompressed_bytes(stamp: tuple) -> int:
    import pyarrow.parquet as pq

    total = 0
    for path, _, _ in stamp:
        md = pq.read_metadata(path)
        total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return total


def _driver_view(src: DataFrame) -> pa.Table | None:
    """The driver-resident copy of src, from the slot or built now with one
    toArrow; None when src is not eligible or exceeds the bound."""
    global _VIEW
    stamp = _file_stamp(src)
    if stamp is None:
        return None
    spark = src.sparkSession
    entry = _VIEW
    if entry is not None:
        session, cached_src, cached_stamp, nbytes, table = entry
        if (
            session is spark
            and cached_stamp == stamp
            and nbytes <= DRIVER_VIEW_MAX_BYTES
            and src.sameSemantics(cached_src)
        ):
            return table
    if not _parquet_plan(src):
        return None
    nbytes = _uncompressed_bytes(stamp)
    if nbytes > DRIVER_VIEW_MAX_BYTES:
        return None
    # stamped before the read: a file rewritten meanwhile only costs a miss
    table = src.withColumn("__lc", F.lower(F.col("content"))).toArrow().combine_chunks()
    _VIEW = (spark, src, stamp, nbytes, table)
    return table


def _view_candidates(view: pa.Table, qvec: list[float], n: int, needle: str | None) -> pa.Table:
    """``_candidate_pass`` over the driver view: the top-n vector rows and,
    when ``needle`` is given, the top-n rows whose Spark-lowered content
    contains it."""
    t = view.drop_columns(["__lc"])
    if needle is not None:
        t = t.append_column("__kw", pc.match_substring(view.column("__lc"), needle))
    schema = pa.schema(
        [view.field("id"), view.field("url"), view.field("content"),
         pa.field("similarity", pa.float64()), pa.field("vector", pa.bool_())]
    )
    run = _candidate_pass(qvec, n, needle is not None)
    return pa.Table.from_batches(list(run(t.to_batches())), schema=schema)


def rag_query(
    chunks: DataFrame,
    query: str,
    k: int = 5,
    hybrid: bool = True,
    rerank: bool = False,
    embed_dim: int = 64,
    id_col: str = "id",
    keyword_ranker: str = "ilike",
) -> DataFrame:
    """The full RAG query pipeline (perform_rag_query,
    apple-dev-mcp.py:219-353): embed query (instruction prefix) → vector
    top-2k [∪ keyword top-2k → tiered merge] → optional rerank → top-k.
    chunks needs (id, url, content, embedding), ids unique and non-null.

    Eager. The candidate pass computes the cosine (``cosine_rows``) and
    the ILIKE flag of every row and keeps the top-2k vector rows and
    top-2k keyword hits; ``merge_tiers`` merges them on the driver. It
    runs on one of two sides, which agree bit for bit:

    - driver view: when ``chunks.select(id, url, content, embedding)`` is
      deterministic, every leaf of its plan is a parquet relation, its
      input files are local, and their footers count at most
      ``DRIVER_VIEW_MAX_BYTES`` uncompressed bytes. The pass runs over a
      driver-resident Arrow copy of those columns plus Spark's
      ``lower(content)`` (Java's case mapping, which pyarrow's
      ``utf8_lower`` does not match). The copy is reused while the
      session is the same object, the sorted input files with their
      sizes and ``st_mtime_ns`` are equal, and the plans have the same
      semantics; a hit runs 0 Spark jobs. A snapshot commit writes a
      new version directory, so the file list changes and the next query
      rebuilds the copy: 1 job, 1 stage, no Python stage. One copy is held
      at a time, about the table's uncompressed size plus its lowered
      content.
    - scan: any other chunks (an RDD or local source, a table over the
      bound) run one Spark job of one stage, a mapInArrow scan that keeps
      each partition's top-2k of each, so at most 2·2k rows per
      partition reach the driver.

    Rows with a null embedding are never vector candidates; an embedding
    whose length is not embed_dim raises. The result is the same columns
    as the ``vector_topk → keyword_search → hybrid_merge`` composition
    (id, url, content, similarity, tier; without hybrid: id_col, url,
    content, similarity), returned as a local relation: collecting it
    runs no job.

    keyword_ranker: 'ilike' = the reference's containment+url-order tier
    (exact parity); 'bm25' = relevance-ranked keyword tier (bm25_rank
    over the query's whitespace terms, run as its own Spark plan) — same
    merge semantics, better keyword ordering. rerank applies
    ``rerank_stub`` to the result.

    embed_dim MUST match the chunks table's embedding dimensionality (the
    default matches the 64-dim test fixtures; production is 2560 per
    src/embedding/config.py:24)."""
    from mcp_crawl4ai_rag_spark.functions.embedding import embed_query_py

    q = query.strip()
    n = 2 * k
    ilike = hybrid and keyword_ranker != "bm25"
    qvec = embed_query_py(q, embed_dim)
    src = chunks.select(F.col(id_col).alias("id"), "url", "content", "embedding")
    fields = {f.name: f for f in src.schema.fields}
    view = _driver_view(src)
    if view is not None:
        cand = _view_candidates(view, qvec, n, q.lower() if ilike else None)
    else:
        if ilike:
            src = src.withColumn("__kw", F.lower(F.col("content")).contains(q.lower()))
        cand_schema = StructType(
            [fields["id"], fields["url"], fields["content"],
             StructField("similarity", DoubleType()), StructField("vector", BooleanType())]
        )
        cand = src.mapInArrow(_candidate_pass(qvec, n, ilike), cand_schema).toArrow()

    def driver_top(vector: bool, order: list, cols: tuple) -> list:
        t = _top(cand.filter(pc.equal(cand.column("vector"), vector)), n, order)
        return list(zip(*(t.column(c).to_pylist() for c in cols)))

    vec = driver_top(True, VECTOR_ORDER, ("id", "url", "content", "similarity"))
    out = [fields["id"], fields["url"], fields["content"], StructField("similarity", DoubleType())]
    if not hybrid:
        rows = vec[:k]
        out[0] = StructField(id_col, fields["id"].dataType)
    else:
        if keyword_ranker == "bm25":
            kw = [
                (r[id_col], r["url"], r["content"])
                for r in bm25_rank(chunks, q.split(), k=n, id_col=id_col).collect()
            ]
        else:
            kw = driver_top(False, KEYWORD_ORDER, ("id", "url", "content"))
        rows = merge_tiers(vec, kw, k)
        out.append(StructField("tier", IntegerType()))
    schema = StructType(out)
    result = local_frame(chunks.sparkSession, rows, schema)
    return rerank_stub(result, q) if rerank else result


def rerank_stub(results: DataFrame, query: str, content_col: str = "content") -> DataFrame:
    """W7: deterministic stand-in for the cross-encoder rerank — a stable
    hash score over (query, content); sort desc (apple-dev-mcp.py:189-192)."""
    score = (
        F.pmod(F.xxhash64(F.lit(query), F.col(content_col)), F.lit(10**6)) / 1e6
    ).alias("rerank_score")
    return results.withColumn("rerank_score", score).orderBy(
        F.desc("rerank_score"), F.asc("id")
    )


def paginate(
    df: DataFrame, order_cols: list, limit: int, offset: int
) -> DataFrame:
    """W6: LIMIT/OFFSET (frontend/api.py:216-226), scale-safe.

    orderBy + limit(offset+limit) compiles to TakeOrderedAndProject —
    per-partition top-k heaps, no global sort, no single-partition window
    over the full table. Only the surviving ``offset+limit`` rows (bounded,
    driver-page-sized) pass through the row_number window that drops the
    first ``offset``.
    """
    top = df.orderBy(*order_cols).limit(offset + limit)
    w = Window.orderBy(*order_cols)
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > offset)
        .drop("__rn")
    )


def stats_rollup(pages: DataFrame, chunks: DataFrame, content_col: str = "content") -> DataFrame:
    """A3: single-pass conditional aggregation (frontend/api.py:276-301):
    total pages, pages with content, processed (distinct chunk urls),
    total chunks, percentages."""
    has_content = F.col(content_col).isNotNull() & (F.col(content_col) != "")
    p = pages.agg(
        F.count("*").alias("total_pages"),
        F.count(F.when(has_content, 1)).alias("pages_with_content"),
    )
    c = chunks.agg(
        F.count("*").alias("total_chunks"),
        F.countDistinct("url").alias("processed_pages"),
    )
    return p.crossJoin(c).select(
        "total_pages",
        "pages_with_content",
        "processed_pages",
        (F.col("pages_with_content") - F.col("processed_pages")).alias(
            "unprocessed_pages"
        ),
        "total_chunks",
        F.round(
            F.when(F.col("pages_with_content") == 0, F.lit(0.0)).otherwise(
                F.col("processed_pages") * 100.0 / F.col("pages_with_content")
            ),
            2,
        ).alias("processed_pct"),
    )


def _qtf_weight(qtf: dict[str, int]) -> Column:
    """Query-term-frequency weight for the matched term column __t: 1.0
    when the query has no repeated terms (the common case — stays a
    constant, folded by codegen), else a literal when-chain mapping each
    term to its multiplicity."""
    if all(w == 1 for w in qtf.values()):
        return F.lit(1.0)
    weight = F.lit(0.0)
    for t, w in sorted(qtf.items()):
        weight = F.when(F.col("__t") == t, F.lit(float(w))).otherwise(weight)
    return weight


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "id",
    content_col: str = "content",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranking over whitespace tokens — the upgrade path beyond the
    reference's ILIKE keyword tier (operations.py:189-198): proper
    tf/idf/length-normalized relevance, still fully declarative.

    Plan shape (scale notes): one explode + two-level aggregation computes
    per-(doc, term) tf restricted to the query terms (the filter on term
    is pushed below the shuffle, so only matching tokens shuffle —
    O(query-term hits), not O(tokens)); document frequencies and the
    corpus stats are tiny aggregates broadcast back; the score is a
    whole-stage-codegen sum. idf uses the standard Robertson-Sparck Jones
    form log(1 + (N - df + 0.5)/(df + 0.5)); avgdl over ALL docs.
    """
    # Query multiset: repeated terms weight their term score by query-term
    # frequency (BM25 over a bag-of-words query), instead of silently
    # collapsing via isin + groupBy.
    qtf: dict[str, int] = {}
    for t in query_terms:
        t = t.lower()
        qtf[t] = qtf.get(t, 0) + 1
    terms = sorted(qtf)
    # explicit RE2-equivalent whitespace class (matches the DuckDB twin's
    # \s exactly; Java \s would add \x0B — ADVICE r4)
    toks = F.split(F.lower(F.col(content_col)), r"[ \t\n\r\f]+")
    # no .cache(): lens is a cheap narrow projection computed twice within
    # one job tree; caching it leaked executor storage across queries in a
    # long-lived session (never unpersisted).
    lens = docs.select(
        F.col(id_col).alias("__id"), F.size(toks).alias("__dl")
    )
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.avg("__dl").alias("avgdl")
    )
    hits = (
        docs.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__t"))
        .where(F.col("__t").isin(terms))
        .groupBy("__id", "__t")
        .agg(F.count("*").alias("tf"))
    )
    df_ = hits.groupBy("__t").agg(F.countDistinct("__id").alias("df"))
    scored = (
        hits.join(F.broadcast(df_), "__t")
        .join(lens, "__id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn("__qtf", _qtf_weight(qtf))
        .withColumn(
            "term_score",
            F.col("__qtf")
            * F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("__dl") / F.col("avgdl"))
            ),
        )
        .groupBy("__id")
        .agg(
            F.sum("term_score").alias("score"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    return (
        docs.join(scored, docs[id_col] == scored["__id"])
        .drop("__id")
        .withColumn("score", F.round("score", 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
