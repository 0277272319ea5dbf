"""rag_query's two sides against the Spark composition they replace.

rag_query runs one candidate pass, which scores every chunk and keeps the
top-2k vector rows and keyword hits, and merges them on the driver
(merge_tiers). The pass runs either in one mapInArrow scan (the scan
side) or over a driver-resident Arrow copy of a parquet chunk table below
DRIVER_VIEW_MAX_BYTES (the driver side). The reference is the lazy
composition of the contract operators: vector_topk → keyword_search (or
bm25_rank) → hybrid_merge → rerank_stub. Every form must give the same
(id, tier, url, content) sequence and schema, with similarity bit-equal
between the two sides, and against the composition bit-equal on the
sequential fold (below BLAS_DIM_THRESHOLD) and within 1e-12 on the
matvec, on dirty tables: duplicate and null urls, null content and
embeddings, non-ASCII and mixed-case text (Spark's case mapping, not
Arrow's), duplicate embeddings (ties break on id), empty tables, and 1-4
input partitions, some of them empty.

The driver copy is keyed by session, plan and input files: a repeat
query runs no Spark job, and a commit, another plan, another store,
another session or a file rewritten in place is never served a stale
copy.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
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


def parquet_copy(spark, chunks, base):
    """chunks written to a fresh parquet directory under base, read back."""
    path = os.path.join(str(base), uuid.uuid4().hex)
    chunks.write.parquet(path)
    return spark.read.parquet(path)


def on_driver(frame) -> bool:
    """Whether the driver view now holds frame's input files."""
    return S._VIEW is not None and S._VIEW[2] == S._file_stamp(frame)


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
    # Spark's lower is Java's: final sigma, and İ to i + U+0307, where
    # pyarrow's utf8_lower gives σ and a bare i
    {"dim": 16, "query": "\u03bf\u03b4\u03bf\u03c2", "k": 2, "hybrid": True, "ranker": "ilike",
     "rerank": False,
     "parts": [[(1, "https://a/x", "\u039f\u0394\u039f\u03a3", None),
                (2, "https://a/y", "\u0130stanbul", None), (3, "https://B/z", "swift", 0)]]},
    {"dim": 2560, "query": "i\u0307stanbul", "k": 2, "hybrid": True, "ranker": "ilike",
     "rerank": False,
     "parts": [[(1, "https://a/x", "\u039f\u0394\u039f\u03a3", None),
                (2, "https://a/y", "\u0130stanbul", None)], [(3, "https://B/z", "swift", 0)]]},
    # null content only: no keyword hit anywhere
    {"dim": 16, "query": "metal", "k": 2, "hybrid": True, "ranker": "ilike", "rerank": False,
     "parts": [[(1, "https://a/x", None, 0), (2, None, None, 1)], [(3, "https://a/y", None, None)]]},
    # null embeddings only: no vector candidate
    {"dim": 2560, "query": "swift", "k": 2, "hybrid": True, "ranker": "ilike", "rerank": False,
     "parts": [[(1, "https://a/x", "swift", None), (2, "https://B/z", "metal", None)],
               [(3, "https://a/y", "SWIFT", None)]]},
    # an empty table
    {"dim": 16, "query": "metal", "k": 2, "hybrid": True, "ranker": "ilike", "rerank": False,
     "parts": [[], []]},
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
@example(EDGE[7])
@example(EDGE[8])
@example(EDGE[9])
@example(EDGE[10])
@example(EDGE[11])
def test_rag_query_equals_composition(spark, tmp_path_factory, case):
    chunks = chunk_frame(spark, case["parts"], case["dim"])
    opts = {"k": case["k"], "hybrid": case["hybrid"], "rerank": case["rerank"],
            "embed_dim": case["dim"], "keyword_ranker": case["ranker"]}
    try:
        disk = parquet_copy(spark, chunks, tmp_path_factory.getbasetemp())
        served = {"driver": S.rag_query(disk, case["query"], **opts)}
        assert on_driver(disk)
        with pytest.MonkeyPatch.context() as mp:
            # below any table's size, an empty one's included
            mp.setattr(S, "DRIVER_VIEW_MAX_BYTES", -1)
            served["scan"] = S.rag_query(disk, case["query"], **opts)
        # an RDD source keeps its 1-4 partitions on the scan side
        served["partitions"] = S.rag_query(chunks, case["query"], **opts)
        want = composition(disk, case["query"], **opts)
        w = want.collect()
        got = {side: res.collect() for side, res in served.items()}
    finally:
        chunks.unpersist()
    key = [c for c in ("id", "tier", "rerank_score", "url", "content") if c in want.columns]
    for side, res in served.items():
        assert [(f.name, f.dataType) for f in res.schema] == [
            (f.name, f.dataType) for f in want.schema
        ], side
        assert [tuple(r[c] for c in key) for r in got[side]] == [
            tuple(r[c] for c in key) for r in w
        ], side
        sims = [r["similarity"].hex() for r in got[side]]
        assert sims == [r["similarity"].hex() for r in got["driver"]], side
    for a, b in zip(got["driver"], w):
        if case["dim"] < S.BLAS_DIM_THRESHOLD:
            assert a["similarity"].hex() == b["similarity"].hex()
        else:
            assert abs(a["similarity"] - b["similarity"]) <= 1e-12


def in_job_group(spark, fn):
    """Run fn under a fresh job group; (result, ids of the jobs it ran)."""
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
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def jobs_and_stages(spark, fn):
    """Run fn under a fresh job group; (result, jobs, stages) it ran."""
    out, jobs = in_job_group(spark, fn)
    tracker = spark.sparkContext.statusTracker()
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


def test_duplicate_embeddings_tie_on_id_at_any_batch_position(spark, tmp_path):
    """Equal embeddings at different positions of one Arrow batch score
    bit-equal on the numpy path (at or above BLAS_DIM_THRESHOLD), so they
    tie and break on id, in rag_query's two sides and vector_topk alike.
    The duplicates sit at every other row of a 15-row batch, their ids
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
        disk = parquet_copy(spark, chunks, tmp_path)
        on_disk = S.rag_query(disk, query, k=8, hybrid=False, embed_dim=dim).collect()
        assert on_driver(disk)
        served = S.rag_query(chunks, query, k=8, hybrid=False, embed_dim=dim).collect()
        topk = S.vector_topk(chunks, embed_query_py(query, dim), k=8).collect()
    finally:
        chunks.unpersist()
    for got in (on_disk, served, topk):
        assert [r["id"] for r in got] == dup_ids
        assert len({r["similarity"].hex() for r in got}) == 1
    assert on_disk[0]["similarity"].hex() == served[0]["similarity"].hex()


def python_plans(spark, jobs) -> list[bool]:
    """For each of the latest SQL executions that ran one of ``jobs``:
    whether its physical plan has a Python operator. Only the tail of the
    status store is read: walking all of it costs py4j calls per
    execution."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    out = []
    for e in conv.asJava(store.executionsList(max(0, n - 10), 10)):
        if {int(j) for j in conv.asJava(e.jobs().keySet())} & set(jobs):
            plan = e.physicalPlanDescription()
            out.append("Python" in plan or "MapInArrow" in plan)
    return out


def query_jobs(spark, chunks, query, **opts):
    """rag_query(chunks, query) run and collected under a job group:
    (rows, jobs, stages, whether each execution had a Python operator)."""
    rows, jobs = in_job_group(
        spark, lambda: S.rag_query(chunks, query, embed_dim=16, **opts).collect()
    )
    tracker = spark.sparkContext.statusTracker()
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return rows, len(jobs), stages, python_plans(spark, jobs)


def ids(rows) -> list:
    return [(r["id"], r["tier"]) for r in rows]


def scanned(chunks, query, **opts) -> list:
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "DRIVER_VIEW_MAX_BYTES", -1)
        return S.rag_query(chunks, query, embed_dim=16, **opts).collect()


def test_driver_view_follows_commits(spark, tmp_path):
    """A repeat query on one ChunkStore runs no job; the first query after
    each commit rebuilds the copy in 1 JVM-only job and sees the commit.
    Above the bound, or on a source with no input files, the query is
    the scan's 1 job of 1 stage with a Python operator."""
    store = ChunkStore(spark, str(tmp_path))
    store.process_round(docs(spark), embed_dim=16)

    def view():
        return store.read().withColumn("id", F.xxhash64("url", "chunk_index"))

    first, jobs, stages, py = query_jobs(spark, view(), "metal shader", k=3)
    assert (jobs, stages, py) == (1, 1, [False])
    again, jobs, _, _ = query_jobs(spark, view(), "metal shader", k=3)
    assert jobs == 0 and ids(again) == ids(first) == ids(scanned(view(), "metal shader", k=3))

    # process_round: a new url with a word no other chunk has
    fresh = spark.createDataFrame(
        [("https://a/4", 3, 0, "# Quokka\nquokka habitat notes.")],
        "url string, fetch_round int, seq_in_round int, content string",
    )
    assert store.process_round(fresh, embed_dim=16) > 0
    # replace_urls: a/2's chunks become one row that says quokka
    repl = spark.createDataFrame(
        [("https://a/2", 0, "c", "quokka swift", "{}", [1.0] * 16)],
        "url string, chunk_index int, context string, content string, "
        "chunk_json string, embedding array<float>",
    )
    urls = {}
    for commit in (lambda: None, lambda: store.replace_urls(repl),
                   lambda: store.delete_urls(spark.createDataFrame([("https://a/4",)], ["url"]))):
        commit()
        rows, jobs, stages, py = query_jobs(spark, view(), "quokka", k=4)
        assert (jobs, stages, py) == (1, 1, [False])
        assert ids(rows) == ids(scanned(view(), "quokka", k=4))
        urls[len(urls)] = {r["url"] for r in rows if r["tier"] != 1}
        assert query_jobs(spark, view(), "quokka", k=4)[1] == 0
    assert urls == {0: {"https://a/4"}, 1: {"https://a/4", "https://a/2"}, 2: {"https://a/2"}}

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "DRIVER_VIEW_MAX_BYTES", -1)
        _, jobs, stages, py = query_jobs(spark, view(), "quokka", k=4)
    assert (jobs, stages, py) == (1, 1, [True])
    local = spark.createDataFrame(view().collect(), view().schema)
    assert local.inputFiles() == []
    _, jobs, stages, py = query_jobs(spark, local, "quokka", k=4)
    assert (jobs, stages, py) == (1, 1, [True])


def test_driver_view_never_serves_another_input(spark, tmp_path):
    """The copy built for one input is not served for a filtered plan over
    the same files, another store with equal rows, the same store in
    another session, or a parquet file rewritten in place."""
    store = ChunkStore(spark, str(tmp_path / "a"))
    store.process_round(docs(spark), embed_dim=16)

    def view(s=store):
        return s.read().withColumn("id", F.xxhash64("url", "chunk_index"))

    def fill_then(chunks):
        """Fill the slot from store, then query chunks: (rows, jobs)."""
        query_jobs(spark, view(), "metal", k=3)
        assert query_jobs(spark, view(), "metal", k=3)[1] == 0
        rows, jobs, _, _ = query_jobs(spark, chunks, "metal", k=3)
        return rows, jobs

    filtered = view().where(F.col("url") != "https://a/1")
    rows, jobs = fill_then(filtered)
    assert jobs == 1 and ids(rows) == ids(scanned(filtered, "metal", k=3))
    assert "https://a/1" not in {r["url"] for r in rows}

    twin = ChunkStore(spark, str(tmp_path / "b"))
    twin.process_round(docs(spark), embed_dim=16)
    assert fill_then(view(twin))[1] == 1

    other = spark.newSession()
    rows, jobs = fill_then(view(ChunkStore(other, str(tmp_path / "a"))))
    assert jobs == 1 and S._VIEW[0] is other

    path = tmp_path / "t" / "part-0.parquet"
    path.parent.mkdir()

    def write(content):
        pq.write_table(pa.table({
            "id": pa.array([1, 2], pa.int64()), "url": ["https://a/x", "https://a/y"],
            "content": content, "embedding": pa.array([[1.0] * 16, [0.5] * 16],
                                                     pa.list_(pa.float32())),
        }), str(path))

    write(["metal", "swift"])
    first, jobs, _, _ = query_jobs(spark, spark.read.parquet(str(path.parent)), "metal", k=2)
    assert jobs == 1 and [r["tier"] for r in first] == [0, 1]
    write(["swift", "metal shader"])
    rows, jobs, _, _ = query_jobs(spark, spark.read.parquet(str(path.parent)), "metal", k=2)
    assert jobs == 1 and [(r["id"], r["tier"]) for r in rows] == [(2, 0), (1, 1)]
