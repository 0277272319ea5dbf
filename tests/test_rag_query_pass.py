"""rag_query's one-pass form against the Spark composition it replaces.

rag_query scores every chunk in one mapInArrow scan, keeps each
partition's top-2k vector rows and keyword hits, and merges them on the
driver (merge_tiers). The reference here is the lazy composition of the
contract operators: vector_topk → keyword_search (or bm25_rank) →
hybrid_merge → rerank_stub. Both must give the same (id, tier) sequence,
with similarity bit-equal on the sequential fold (below
BLAS_DIM_THRESHOLD) and within 1e-12 on the matvec, on dirty tables:
duplicate and null urls, null content and embeddings, non-ASCII and
mixed-case text, duplicate embeddings (ties break on id), and 1-4 input
partitions, some of them empty.
"""

from __future__ import annotations

import uuid

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.embedding import embed_query_py, hash_embed_py
from mcp_crawl4ai_rag_spark.operators import search as S
from mcp_crawl4ai_rag_spark.operators.processor import ChunkStore
from tests.test_chunkstore_rag import docs

SCHEMA = "id long, url string, content string, embedding array<float>"
WORDS = ["Metal", "metal", "SWIFT", "swift", "Über", "über", "straße", "shader", "Ω", "join"]
QUERIES = ["metal", "SWIFT", " über ", "straße shader", "zzz", "join Metal"]
URLS = ["https://a/x", "https://a/y", "https://B/z", "https://ü/ä", None]
MODES = [
    {"hybrid": True, "ranker": "ilike"},
    {"hybrid": True, "ranker": "ilike"},
    {"hybrid": True, "ranker": "bm25"},
    {"hybrid": False, "ranker": "ilike"},
]
# four unrelated vectors, then each query's own embedding (similarity
# about 1, so the tier-0 boost hits its cap of 1.0)
POOL = {
    d: [hash_embed_py(f"v{j}", d) for j in range(4)] + [embed_query_py(q, d) for q in QUERIES]
    for d in (16, 2560)
}

content = st.one_of(
    st.none(), st.lists(st.sampled_from(WORDS), min_size=1, max_size=4).map(" ".join)
)
row = st.tuples(
    st.sampled_from(URLS), content, st.one_of(st.none(), st.integers(0, len(POOL[16]) - 1))
)


@st.composite
def cases(draw):
    rows = draw(st.lists(row, max_size=12))
    ids = draw(st.lists(st.integers(-(2**40), 2**40), min_size=len(rows),
                        max_size=len(rows), unique=True))
    p = draw(st.integers(1, 4))
    parts = [[] for _ in range(p)]
    for i, r in zip(ids, rows):
        parts[draw(st.integers(0, p - 1))].append((i, *r))
    return {
        "dim": draw(st.sampled_from([16, 2560])),
        "parts": parts,
        "query": draw(st.sampled_from(QUERIES)),
        "k": draw(st.integers(1, 3)),
        # the ILIKE hybrid is the served query: half the examples
        **draw(st.sampled_from(MODES)),
        "rerank": draw(st.booleans()),
    }


def composition(chunks, query, k, hybrid, rerank, embed_dim, keyword_ranker):
    """The lazy Spark plan rag_query served before its one-pass form."""
    q = query.strip()
    v = S.vector_topk(chunks, embed_query_py(q, embed_dim), k=2 * k)
    if not hybrid:
        out = v.limit(k).select("id", "url", "content", "similarity")
    elif keyword_ranker == "bm25":
        kw = (
            S.bm25_rank(chunks, q.split(), k=2 * k)
            .withColumn("__kw_rank", F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("id"))))
            .select("id", "url", "content", "__kw_rank")
        )
        out = S.hybrid_merge(v, kw, k=k, keyword_rank_col="__kw_rank")
    else:
        out = S.hybrid_merge(v, S.keyword_search(chunks, q, k=2 * k), k=k)
    return S.rerank_stub(out, q) if rerank else out


def chunk_frame(spark, parts, dim):
    """parts[i] becomes exactly partition i (empty lists stay empty)."""
    rows = [
        [(i, u, c, None if e is None else POOL[dim][e]) for i, u, c, e in part]
        for part in parts
    ]
    rdd = spark.sparkContext.parallelize(range(len(rows)), len(rows)).flatMap(
        lambda i: rows[i]
    )
    return spark.createDataFrame(rdd, SCHEMA).cache()


EDGE = [
    # matvec; every row a keyword hit (more than 2k), duplicate embeddings
    # and urls, an empty partition
    {"dim": 2560, "query": "metal", "k": 1, "hybrid": True, "ranker": "ilike",
     "rerank": False,
     "parts": [[(5, "https://a/x", "Metal shader", 0), (-3, "https://a/x", "metal", 0)], [],
               [(2, "https://ü/ä", "über METAL", 1), (9, None, "metal", 0)]]},
    # fold; no keyword hit, null content and embeddings, empty partitions
    {"dim": 16, "query": "zzz", "k": 2, "hybrid": True, "ranker": "ilike", "rerank": True,
     "parts": [[], [(1, "https://a/y", None, 2), (4, "https://B/z", "swift", None)], [],
               [(7, "https://a/x", "Ω straße", 2), (0, None, None, None)]]},
    {"dim": 16, "query": "join Metal", "k": 3, "hybrid": True, "ranker": "bm25",
     "rerank": False,
     "parts": [[(1, "https://a/x", "join join metal", 0), (2, "https://a/y", "metal", 1)],
               [(3, "https://B/z", "JOIN", 1), (4, "https://a/x", None, 3)]]},
    {"dim": 2560, "query": "SWIFT", "k": 2, "hybrid": False, "ranker": "ilike",
     "rerank": True,
     "parts": [[(8, "https://a/x", "swift", 3), (6, "https://a/y", "Swift", 3)],
               [(-1, "https://B/z", None, 3)]]},
    # keyword hits only (no embedding): the result is keyword order,
    # url DESC — byte order, so "https://ü/ä" > "https://a/x" > "https://B/z"
    {"dim": 16, "query": "swift", "k": 2, "hybrid": True, "ranker": "ilike", "rerank": False,
     "parts": [[(1, "https://a/x", "swift", None), (2, "https://B/z", "SWIFT", None),
                (3, "https://ü/ä", "Swift", None), (4, "https://a/y", "metal", None)]]},
    # equal embeddings: vector order is id order, and the second vector
    # candidate (id 2) is the one keyword hit, so it leads as tier 0
    {"dim": 16, "query": "metal", "k": 1, "hybrid": True, "ranker": "ilike", "rerank": False,
     "parts": [[(3, "https://a/x", "swift", 1), (1, "https://a/y", "swift", 1),
                (2, "https://B/z", "metal", 1)]]},
    # the query's own embedding on a keyword hit: tier 0 at the 1.0 cap
    {"dim": 16, "query": "metal", "k": 2, "hybrid": True, "ranker": "ilike", "rerank": False,
     "parts": [[(1, "https://a/x", "metal", 4), (2, "https://a/y", "swift", 0)]]},
]


@settings(max_examples=12, deadline=None)
@given(cases())
@example(EDGE[0])
@example(EDGE[1])
@example(EDGE[2])
@example(EDGE[3])
@example(EDGE[4])
@example(EDGE[5])
@example(EDGE[6])
def test_rag_query_equals_composition(spark, case):
    chunks = chunk_frame(spark, case["parts"], case["dim"])
    opts = {"k": case["k"], "hybrid": case["hybrid"], "rerank": case["rerank"],
            "embed_dim": case["dim"], "keyword_ranker": case["ranker"]}
    try:
        got = S.rag_query(chunks, case["query"], **opts)
        want = composition(chunks, case["query"], **opts)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        g, w = got.collect(), want.collect()
    finally:
        chunks.unpersist()
    key = [c for c in ("id", "tier", "rerank_score", "url", "content") if c in got.columns]
    assert [tuple(r[c] for c in key) for r in g] == [tuple(r[c] for c in key) for r in w]
    for a, b in zip(g, w):
        if case["dim"] < S.BLAS_DIM_THRESHOLD:
            assert a["similarity"].hex() == b["similarity"].hex()
        else:
            assert abs(a["similarity"] - b["similarity"]) <= 1e-12


def jobs_and_stages(spark, fn):
    """Run fn under a fresh job group; (result, jobs, stages) it ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"probe-{uuid.uuid4().hex}"
    bus.waitUntilEmpty(10_000)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    return out, len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


def test_rag_query_one_job_one_stage_one_scan(spark, tmp_path):
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs
    store = ChunkStore(spark, str(tmp_path))
    n_persisted = len(persisted())
    assert store.process_round(docs(spark), embed_dim=16) > 0
    # the batch's pinned chunks are released
    assert len(persisted()) == n_persisted
    chunks = store.read().withColumn("id", F.xxhash64("url", "chunk_index"))

    res, jobs, stages = jobs_and_stages(
        spark, lambda: S.rag_query(chunks, "metal shader", k=3, embed_dim=16)
    )
    assert (jobs, stages) == (1, 1)
    rows, jobs, _ = jobs_and_stages(spark, res.collect)
    assert jobs == 0 and 0 < len(rows) <= 3

    # every chunk row is read once: count the rows a source hands out
    src = chunks.collect()
    reads = sc.accumulator(0)

    def counted(r):
        reads.add(1)
        return r

    counting = spark.createDataFrame(sc.parallelize(src, 2).map(counted), chunks.schema)
    S.rag_query(counting, "metal shader", k=3, embed_dim=16)
    assert reads.value == len(src)


def test_rag_query_dim_mismatch_raises(spark):
    chunks = spark.createDataFrame(
        [(1, "https://a/x", "metal", hash_embed_py("a", 16))], SCHEMA
    )
    with pytest.raises(Exception, match="dim mismatch"):
        S.rag_query(chunks, "metal", k=2, embed_dim=32)


def test_duplicate_embeddings_tie_on_id_at_any_batch_position(spark):
    """Equal embeddings at different positions of one Arrow batch score
    bit-equal on the numpy path (at or above BLAS_DIM_THRESHOLD), so they
    tie and break on id, in rag_query and vector_topk alike. The
    duplicates sit at every other row of a 15-row batch, their ids
    falling as their position rises; a matvec ``m @ q`` scores the last
    rows of an odd-sized batch differently from the others."""
    dim, query = 2560, "metal"
    dup = embed_query_py(query, dim)  # the query's own: every duplicate leads
    rows = []
    for pos in range(8):
        rows.append((100 - pos, f"https://a/dup{pos}", "swift", dup))
        if pos < 7:
            rows.append((pos, f"https://a/o{pos}", "swift", hash_embed_py(f"v{pos}", dim)))
    dup_ids = sorted(100 - pos for pos in range(8))
    chunks = spark.createDataFrame(rows, SCHEMA).coalesce(1).cache()
    try:
        served = S.rag_query(chunks, query, k=8, hybrid=False, embed_dim=dim).collect()
        topk = S.vector_topk(chunks, embed_query_py(query, dim), k=8).collect()
    finally:
        chunks.unpersist()
    for got in (served, topk):
        assert [r["id"] for r in got] == dup_ids
        assert len({r["similarity"].hex() for r in got}) == 1
