"""Bloom/cuckoo filter correctness + URL-seen dedup operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.operators import dedup as D


def test_bloom_no_false_negatives_and_low_fp():
    bf = D.BloomFilter(num_bits=1 << 16, num_hashes=7)
    rng = np.random.default_rng(0)
    members = rng.integers(-(1 << 62), 1 << 62, size=2000, dtype=np.int64)
    bf.add_many(members)
    assert bf.contains_many(members).all()
    probes = rng.integers(-(1 << 62), 1 << 62, size=5000, dtype=np.int64)
    fresh = np.setdiff1d(probes, members)
    fp_rate = bf.contains_many(fresh).mean()
    assert fp_rate < 0.05, fp_rate


def test_bloom_merge_equals_union():
    a, b = D.BloomFilter(1 << 12), D.BloomFilter(1 << 12)
    ka = np.arange(0, 100, dtype=np.int64)
    kb = np.arange(1000, 1100, dtype=np.int64)
    a.add_many(ka)
    b.add_many(kb)
    m = a.merge(b)
    assert m.contains_many(np.concatenate([ka, kb])).all()


def test_bloom_serialization_roundtrip():
    bf = D.BloomFilter(1 << 12)
    keys = np.arange(50, dtype=np.int64)
    bf.add_many(keys)
    back = D.BloomFilter.from_bytes(bf.to_bytes())
    assert back.num_bits == 1 << 12
    assert back.contains_many(keys).all()


def test_cuckoo_insert_contains_delete():
    cf = D.CuckooFilter(num_buckets=1 << 10)
    keys = list(range(-500, 500))
    for k in keys:
        assert cf.insert(k)
    for k in keys:
        assert cf.contains(k)
    # delete half, they disappear (no false negatives on the rest)
    for k in keys[::2]:
        assert cf.delete(k)
    for k in keys[1::2]:
        assert cf.contains(k)
    deleted_still = sum(cf.contains(k) for k in keys[::2])
    assert deleted_still <= len(keys[::2]) * 0.05  # only fp collisions remain


def test_sharded_cuckoo():
    sc = D.ShardedCuckoo(num_shards=4, buckets_per_shard=1 << 8)
    keys = np.arange(300, dtype=np.int64)
    sc.insert_many(keys)
    assert sc.contains_many(keys).all()
    sc.delete_many(keys[:100])
    assert sc.contains_many(keys[100:]).all()


def test_sharded_cuckoo_distributed_maintenance(spark):
    """Executor-side shard maintenance at 1e5+ keys: equivalent to the
    sequential driver loop, deletes reclaim keys, no key list ever built on
    the driver (inputs stay DataFrames)."""
    n_keys = 120_000
    new_df = spark.range(n_keys).select(F.xxhash64("id").alias("url_hash")).repartition(8)
    dead_df = (
        spark.range(0, n_keys, 3).select(F.xxhash64("id").alias("url_hash")).repartition(8)
    )
    sc0 = D.ShardedCuckoo(num_shards=8, buckets_per_shard=1 << 16)
    # insert everything distributed
    sc1 = D.maintain_sharded_cuckoo(spark, sc0, new_df)
    keys = np.array([r["url_hash"] for r in new_df.collect()], dtype=np.int64)
    assert sc1.contains_many(keys).all()
    # original filter untouched (maintenance is functional)
    assert not sc0.contains_many(keys[:100]).any()
    # distributed delete pass (dead-url reclamation) — deletes before inserts
    extra_df = (
        spark.range(n_keys, n_keys + 1000)
        .select(F.xxhash64("id").alias("url_hash"))
        .repartition(4)
    )
    sc2 = D.maintain_sharded_cuckoo(spark, sc1, extra_df, dead_keys=dead_df)
    dead = np.array([r["url_hash"] for r in dead_df.collect()], dtype=np.int64)
    live = np.setdiff1d(keys, dead)
    extra = np.array([r["url_hash"] for r in extra_df.collect()], dtype=np.int64)
    assert sc2.contains_many(live).all()
    assert sc2.contains_many(extra).all()
    # deleted keys only linger as fingerprint collisions
    assert sc2.contains_many(dead).mean() < 0.05
    # serialization roundtrip preserves membership
    back = D.ShardedCuckoo.from_bytes(sc2.to_bytes())
    assert back.contains_many(live).all()
    # equivalence vs the sequential loop on a sample
    seq = D.ShardedCuckoo(num_shards=8, buckets_per_shard=1 << 16)
    seq.insert_many(keys)
    seq.delete_many(dead)
    seq.insert_many(extra)
    sample = np.concatenate([live[:5000], dead[:5000], extra])
    assert (sc2.contains_many(sample) == seq.contains_many(sample)).all()


def test_sharded_cuckoo_for_keys_sizing():
    """Power-of-two layouts at most half full: one shard while small,
    SHARD_BUCKETS-bucket shards once larger; state that is not one whole
    filter is refused."""
    S = D.ShardedCuckoo
    small = S.for_keys(0)
    assert (small.num_shards, small.buckets_per_shard) == (1, S.MIN_BUCKETS)
    for n in (1, 256, 257, 100_000, 1_000_000):
        sc = S.for_keys(n)
        assert 2 * n <= sc.slots < max(4 * n, 2 * small.slots)
        assert sc.buckets_per_shard <= S.SHARD_BUCKETS
    assert S.for_keys(1_000_000).num_shards == 2_097_152 // 4 // S.SHARD_BUCKETS
    blob = S.for_keys(10).to_bytes()
    with pytest.raises(ValueError):
        S.from_bytes(blob[:-2])
    with pytest.raises(ValueError):
        S.from_bytes(b"")


def test_cuckoo_overflow_raises(spark):
    tiny = D.ShardedCuckoo(num_shards=2, buckets_per_shard=1 << 4)  # 128 slots
    many = spark.range(10_000).select(F.xxhash64("id").alias("url_hash"))
    import pytest

    with pytest.raises(Exception, match="overflow"):
        D.maintain_sharded_cuckoo(spark, tiny, many)


def test_new_urls_with_cuckoo(spark):
    cands = spark.createDataFrame(
        [(f"https://h/{i}",) for i in range(200)] + [("https://h/5",)], ["url"]
    )
    seen = spark.createDataFrame(
        [(f"https://h/{i}",) for i in range(0, 200, 2)], ["url"]
    )
    expected = sorted(f"https://h/{i}" for i in range(1, 200, 2))
    sc = D.maintain_sharded_cuckoo(
        spark,
        D.ShardedCuckoo(num_shards=4, buckets_per_shard=1 << 10),
        seen.select(F.xxhash64("url").alias("url_hash")),
    )
    got = sorted(
        r["url"]
        for r in D.new_urls(cands, seen, bloom=sc, spark=spark).select("url").collect()
    )
    assert got == expected


def test_distributed_bloom_build(spark):
    df = spark.range(0, 5000).select(F.xxhash64("id").alias("key")).repartition(6)
    bf = D.build_bloom(df, "key", num_bits=1 << 18)
    keys = np.array(
        [r["key"] for r in df.collect()], dtype=np.int64
    )
    assert bf.contains_many(keys).all()


def test_build_bloom_with_count_matches_build_bloom(spark):
    """The fused one-job (bloom, count) build must produce the exact same
    bitmap as build_bloom (OR-merge is order-free) plus the exact row
    count — the crawl round's materializing job relies on both."""
    df = spark.range(0, 5000).select(F.xxhash64("id").alias("key")).repartition(6)
    bf_ref = D.build_bloom(df, "key", num_bits=1 << 18)
    bf_fused, n = D.build_bloom_with_count(df, "key", num_bits=1 << 18)
    assert n == 5000
    assert bf_fused.to_bytes() == bf_ref.to_bytes()
    # empty input: zero count, empty filter
    empty = df.where("key is null")
    bf_e, n_e = D.build_bloom_with_count(empty, "key", num_bits=1 << 18)
    assert n_e == 0
    assert not bf_e.bits.any()


def test_new_urls_with_and_without_bloom(spark):
    cands = spark.createDataFrame(
        [(f"https://h/{i}",) for i in range(200)] + [("https://h/5",)], ["url"]
    )
    seen = spark.createDataFrame([(f"https://h/{i}",) for i in range(0, 200, 2)], ["url"])
    expected = sorted(f"https://h/{i}" for i in range(1, 200, 2))
    got_plain = sorted(
        r["url"] for r in D.new_urls(cands, seen).select("url").collect()
    )
    assert got_plain == expected
    bloom = D.build_bloom(
        seen.select(F.xxhash64("url").alias("h")), "h", num_bits=1 << 16
    )
    got_bloom = sorted(
        r["url"]
        for r in D.new_urls(cands, seen, bloom=bloom, spark=spark).select("url").collect()
    )
    assert got_bloom == expected


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello   world"),
            (2, "hello world"),
            (3, "different doc"),
            (4, "HELLO WORLD  "),
        ],
        ["id", "text"],
    )
    groups = D.exact_duplicates(df, "text", "id").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["dup_count"] == 3 and g["keep_id"] == 1
    assert g["member_ids"] == [1, 2, 4]


def test_minhash_near_duplicates(spark):
    base = " ".join(f"tok{i}" for i in range(300))
    near = " ".join(f"tok{i}" for i in range(299)) + " tokX"
    far = " ".join(f"zzz{i}" for i in range(300))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["id", "text"])
    pairs = D.near_duplicates_minhash(df, "text", "id", threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.9


def test_simhash_near_duplicates(spark):
    base = " ".join(f"tok{i}" for i in range(200))
    near = base.replace("tok5 ", "tok5x ")
    far = " ".join(f"qqq{i}" for i in range(200))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["id", "text"])
    pairs = D.simhash_near_duplicates(df, "text", "id", max_hamming=8).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_embedding_near_duplicates(spark):
    from mcp_crawl4ai_rag_spark.functions.embedding import hash_embed_py

    v1 = hash_embed_py("doc one", 32)
    v2 = [x + 0.001 for x in v1]
    v3 = hash_embed_py("totally other", 32)
    df = spark.createDataFrame([(1, v1), (2, v2), (3, v3)], "id int, vec array<float>")
    pairs = D.embedding_near_duplicates(df, "vec", "id", threshold=0.99, dim=32).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_embedding_near_duplicates_recall_and_bucket_scaling(spark):
    """The SRP signature must (a) find EVERY planted near-identical pair —
    the one-sided multi-probe guarantee, across planes/tables settings —
    and (b) actually use a bucket space that grows with ``planes``
    (occupancy N/2^planes): the round-3 scale defect was a hard-coded
    8-plane signature whose 256 buckets made candidates all-pairs/256."""
    from mcp_crawl4ai_rag_spark.functions.embedding import hash_embed_py

    dim, n = 32, 150
    rows = []
    for i in range(n):
        v = hash_embed_py(f"doc {i}", dim)
        rows.append((i, v))
        # planted near-identical twin: well inside the probe-margin bound
        rows.append((i + 10_000, [x * 0.999 + 0.0001 for x in v]))
    df = spark.createDataFrame(rows, "id int, vec array<float>")
    for planes, tables in [(16, 2), (20, 1)]:
        got = {
            (p["id_a"], p["id_b"])
            for p in D.embedding_near_duplicates(
                df, "vec", "id", threshold=0.99, dim=dim,
                planes=planes, tables=tables,
            ).collect()
        }
        assert {(i, i + 10_000) for i in range(n)} <= got, (planes, tables)
    # the signature space: distinct primary buckets must exceed the old
    # fixed 256 — with 150 random 32-dim vectors and 2^16 buckets per
    # table, collisions are rare, so nearly every base vector gets its own
    # bucket (the twin shares it by construction)
    pairs = D.embedding_near_duplicates(
        df, "vec", "id", threshold=0.99, dim=dim, planes=16, tables=1
    )
    n_pairs = pairs.count()
    # no random-pair pollution: (at most a handful of) extra pairs beyond
    # the planted ones would mean bucket occupancy is not O(N/2^planes)
    assert n <= n_pairs <= n + 5
    with pytest.raises(ValueError):
        D.embedding_near_duplicates(df, "vec", "id", dim=dim, planes=63, tables=2)


def test_winnow_near_duplicates(spark):
    from mcp_crawl4ai_rag_spark.functions.text import winnow_fingerprints_py

    base = " ".join(f"sentence number {i} about spark shuffles." for i in range(40))
    # same doc with a small edit in the middle — local fingerprints survive
    near = base.replace("number 20", "number twenty")
    # shares only boilerplate-free structure, different content
    far = " ".join(f"totally different line {i} regarding parquet files." for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["id", "text"])
    pairs = D.winnow_near_duplicates(df, "text", "id", min_shared=3).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["overlap"] > 0.7
    # guarantee property: shared substring >= k + window - 1 chars yields
    # at least one shared fingerprint
    a = set(winnow_fingerprints_py(base))
    b = set(winnow_fingerprints_py(near))
    assert a & b


def test_winnow_md5_column_matches_reference_kernel(spark):
    """The pure-Column md5 winnowing (functions/text.winnow_fingerprints_md5)
    must match an independent hashlib+loop reimplementation of the same
    selection rule on every edge class: short/boundary lengths (m == 0,
    0 < m < window, m == window), all-equal hashes (tie-break heavy),
    whitespace collapsing, non-ASCII, null/empty."""
    import hashlib
    import re

    import pyspark.sql.functions as F

    from mcp_crawl4ai_rag_spark.functions.text import winnow_fingerprints_md5

    K, W, HX = 8, 6, 10

    def ref(text):
        t = re.sub(r"\s+", " ", (text or "").lower().strip())
        if len(t) < K:
            return []
        hs = [
            int(hashlib.md5(t[i : i + K].encode()).hexdigest()[:HX], 16)
            for i in range(len(t) - K + 1)
        ]
        m = len(hs)
        packed = [h * (1 << 20) + ((1 << 20) - 1 - i) for i, h in enumerate(hs)]
        return sorted({min(packed[w : w + W]) >> 20 for w in range(max(m - W + 1, 1))})

    texts = [
        "hello world hello world hello",
        "ab",
        "",
        None,
        "aaaaaaaaaaaaaaaaaaaaaa",  # identical grams: rightmost-tie rule
        "The  QUICK\tbrown\nfox  jumps over the lazy dog often " * 5,
        "x" * 7,   # m == 0
        "x" * 8,   # m == 1
        "x" * 13,  # m == window
        "päivää tämä on testi päivää tämä on",  # non-ASCII chars
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    got = {
        r["id"]: sorted(r["fps"])
        for r in df.select(
            "id", winnow_fingerprints_md5(F.col("t"), K, W, HX).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref(t), f"mismatch on texts[{i}]"


def test_winnow_near_duplicates_md5_hasher(spark):
    """hasher='md5' runs the same postings/guard/pair pipeline over the
    Column fingerprints: planted near-dup found, unrelated doc not paired,
    unknown hasher rejected."""
    import pytest

    base = " ".join(f"sentence number {i} about spark shuffles." for i in range(40))
    near = base.replace("number 20", "number twenty")
    far = " ".join(f"totally different line {i} regarding parquet files." for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["id", "text"])
    pairs = D.winnow_near_duplicates(df, "text", "id", min_shared=3, hasher="md5").collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["overlap"] > 0.7
    with pytest.raises(ValueError):
        D.winnow_near_duplicates(df, "text", "id", hasher="sha9000")


def test_ngram_jaccard_column_matches_python_kernel(spark):
    """The pure-Column Jaccard (word_shingles + array algebra) must agree
    with the pandas-UDF/blake2b-hash kernel on every edge case: empties,
    blanks, <k-token texts, case folding, mixed whitespace."""
    import pyspark.sql.functions as F

    from mcp_crawl4ai_rag_spark.functions.text import ngram_jaccard
    from mcp_crawl4ai_rag_spark.operators.dedup import _shingle_hashes

    def py_jac(x, y, k):
        sa, sb = set(_shingle_hashes(x, k)), set(_shingle_hashes(y, k))
        if not sa and not sb:
            return 1.0
        if not sa or not sb:
            return 0.0
        return len(sa & sb) / len(sa | sb)

    cases = [
        ("the quick brown fox jumps over a lazy dog", "the quick brown fox leaps over a lazy dog"),
        ("", ""),
        ("", "hello"),
        ("  \t\n ", "x y"),
        ("one two three", "one two three"),
        ("one two three", "one two four"),
        ("Hello WORLD foo bar baz qux", "hello world foo bar baz qux"),
        ("a b c d e f g h", "c d e f g h i j"),
        ("word " * 50, "word " * 50 + "tail"),
    ]
    for k in (3, 5):
        rows = (
            spark.createDataFrame(cases, ["a", "b"])
            .select("a", "b", ngram_jaccard(F.col("a"), F.col("b"), k).alias("j"))
            .collect()
        )
        for r in rows:
            assert abs(r["j"] - py_jac(r["a"], r["b"], k)) < 1e-12, (k, r["a"], r["b"])
