"""Search path: vector/keyword/hybrid/pagination/stats vs Python oracles."""

from __future__ import annotations

import pytest

from mcp_crawl4ai_rag_spark.functions.embedding import embed_query_py, hash_embed_py
from mcp_crawl4ai_rag_spark.operators import search as S


def make_chunks(spark, n=40):
    rows = []
    for i in range(n):
        content = f"chunk {i} about {'metal' if i % 3 == 0 else 'swift'} rendering"
        rows.append((i, f"https://d/{i % 7}/{i}", content, hash_embed_py(content, 16)))
    return spark.createDataFrame(
        rows, "id int, url string, content string, embedding array<float>"
    )


def cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    import math

    da = math.sqrt(sum(x * x for x in a))
    db = math.sqrt(sum(x * x for x in b))
    return num / (da * db)


def test_vector_topk_matches_bruteforce(spark):
    chunks = make_chunks(spark)
    q = embed_query_py("metal rendering", 16)
    got = [(r["id"], r["similarity"]) for r in S.vector_topk(chunks, q, k=5).collect()]
    rows = chunks.collect()
    want = sorted(
        ((r["id"], cos(r["embedding"], q)) for r in rows),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-9


def test_keyword_search_order(spark):
    chunks = make_chunks(spark)
    got = S.keyword_search(chunks, "METAL", k=4).collect()
    rows = [r for r in chunks.collect() if "metal" in r["content"].lower()]
    want = sorted(rows, key=lambda r: (tuple(-ord(c) for c in r["url"]), r["id"]))[:4]
    assert [r["id"] for r in got] == [r["id"] for r in want]


def test_hybrid_merge_tiers(spark):
    chunks = make_chunks(spark)
    q = embed_query_py("metal", 16)
    v = S.vector_topk(chunks, q, k=10)
    kw = S.keyword_search(chunks, "metal", k=10)
    merged = S.hybrid_merge(v, kw, k=10).collect()
    v_ids = {r["id"] for r in v.collect()}
    k_ids = {r["id"] for r in kw.collect()}
    tiers = [r["tier"] for r in merged]
    assert tiers == sorted(tiers)
    for r in merged:
        if r["tier"] == 0:
            assert r["id"] in v_ids and r["id"] in k_ids
            assert r["similarity"] <= 1.0
        elif r["tier"] == 1:
            assert r["id"] in v_ids and r["id"] not in k_ids
        else:
            assert r["id"] in k_ids and r["id"] not in v_ids
            assert r["similarity"] == 0.5
    # boost check: tier-0 similarity = min(1, vector_sim*1.2)
    vsims = {r["id"]: r["similarity"] for r in v.collect()}
    for r in merged:
        if r["tier"] == 0:
            assert abs(r["similarity"] - min(1.0, vsims[r["id"]] * 1.2)) < 1e-9


def test_pagination(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 100).withColumn("val", F.col("id") * 2)
    page = S.paginate(df, [F.desc("val"), F.asc("id")], limit=10, offset=20).collect()
    assert [r["id"] for r in page] == list(range(79, 69, -1))


def test_stats_rollup(spark):
    pages = spark.createDataFrame(
        [("u1", "x"), ("u2", ""), ("u3", "y"), ("u4", None), ("u5", "z")],
        "url string, content string",
    )
    chunks = spark.createDataFrame(
        [("u1", 0), ("u1", 1), ("u3", 0)], "url string, chunk_index int"
    )
    r = S.stats_rollup(pages, chunks).collect()[0]
    assert r["total_pages"] == 5
    assert r["pages_with_content"] == 3
    assert r["processed_pages"] == 2
    assert r["unprocessed_pages"] == 1
    assert r["total_chunks"] == 3
    assert abs(r["processed_pct"] - 66.67) < 0.01


def test_rerank_deterministic(spark):
    chunks = make_chunks(spark, 10)
    r1 = [r["id"] for r in S.rerank_stub(chunks, "query").collect()]
    r2 = [r["id"] for r in S.rerank_stub(chunks, "query").collect()]
    assert r1 == r2
    r3 = [r["id"] for r in S.rerank_stub(chunks, "other query").collect()]
    assert r1 != r3  # different query reorders (overwhelmingly likely)


def test_vector_topk_blas_dispatch_2560_dim(spark):
    """Reference dimensionality (2560, src/embedding/config.py:24): the BLAS
    Arrow path and the Column fold must agree; dispatch picks BLAS at 2560
    and the fold at 64."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.embedding import cosine_sim

    dim = 2560
    rows = [
        (i, f"https://d/{i}", f"doc {i}", hash_embed_py(f"doc {i}", dim))
        for i in range(30)
    ]
    chunks = spark.createDataFrame(
        rows, "id int, url string, content string, embedding array<float>"
    )
    q = embed_query_py("big vectors", dim)
    assert dim >= S.BLAS_DIM_THRESHOLD  # dispatch sanity
    got = S.vector_topk(chunks, q, k=8).collect()  # BLAS path
    fold = (
        chunks.withColumn("similarity", cosine_sim(F.col("embedding"), q))
        .orderBy(F.desc("similarity"), F.asc("id"))
        .limit(8)
        .collect()
    )
    assert [r["id"] for r in got] == [r["id"] for r in fold]
    for a, b in zip(got, fold):
        assert abs(a["similarity"] - b["similarity"]) < 1e-9


@pytest.mark.parametrize("dim", [4, S.BLAS_DIM_THRESHOLD])
def test_vector_topk_zero_embedding_scores_zero(spark, dim):
    """An all-zero embedding scores 0.0 on both kernel paths (below
    BLAS_DIM_THRESHOLD the Column fold used to fail the whole query with
    DIVIDE_BY_ZERO); the other rows keep the plain quotient, bit-equal to
    the sequential fold below the threshold."""
    q = [float(i % 3 + 1) for i in range(dim)]
    embs = {
        0: [0.0] * dim,
        1: [float((i * 7) % 5) - 2.0 for i in range(dim)],
        2: [1.0] * dim,
        3: [0.5 - i % 2 for i in range(dim)],
    }
    chunks = spark.createDataFrame(
        [(i, f"https://d/{i}", "c", e) for i, e in embs.items()],
        "id int, url string, content string, embedding array<float>",
    )
    got = {r["id"]: r["similarity"] for r in S.vector_topk(chunks, q, k=10).collect()}
    assert got[0] == 0.0
    assert got.keys() == embs.keys()
    for i in (1, 2, 3):
        if dim < S.BLAS_DIM_THRESHOLD:
            assert got[i] == cos(embs[i], q)
        else:
            assert abs(got[i] - cos(embs[i], q)) < 1e-12
