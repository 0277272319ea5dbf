"""Processor pipeline (anti-join → chunk → embed) + multimodal plumbing +
streaming link ingest."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.chunking import smart_chunk_text
from mcp_crawl4ai_rag_spark.functions.embedding import hash_embed_py
from mcp_crawl4ai_rag_spark.operators import multimodal as MM
from mcp_crawl4ai_rag_spark.operators.processor import (
    process_documents,
    unprocessed_documents,
)


def docs_df(spark):
    rows = [
        ("https://a/1", 1, 0, "# One\n" + "alpha beta gamma. " * 300),
        ("https://a/2", 1, 1, "ctx\n# Two\nshort body"),
        ("https://a/3", 2, 0, ""),
        ("https://a/4", 2, 1, "# Four\n" + "delta. " * 600),
    ]
    return spark.createDataFrame(
        rows, "url string, fetch_round int, seq_in_round int, content string"
    )


def test_unprocessed_scan_antijoin(spark):
    docs = docs_df(spark)
    chunks = spark.createDataFrame([("https://a/1",)], ["url"])
    todo = unprocessed_documents(docs, chunks)
    assert {r["url"] for r in todo.select("url").collect()} == {
        "https://a/2",
        "https://a/4",
    }
    limited = unprocessed_documents(docs, chunks, limit=1)
    assert [r["url"] for r in limited.select("url").collect()] == ["https://a/4"]


def test_process_documents_end_to_end(spark):
    docs = docs_df(spark)
    chunks = spark.createDataFrame([], "url string")
    out = process_documents(docs, chunks, embed_dim=16).orderBy(
        "url", "chunk_index"
    )
    rows = out.collect()
    # chunk parity with the oracle
    want = []
    for r in docs_df(spark).collect():
        for i, cj in enumerate(smart_chunk_text(r["content"])):
            if len(cj) >= 64:
                want.append((r["url"], i, cj))
    assert [(r["url"], r["chunk_index"], r["chunk_json"]) for r in rows] == sorted(
        want
    )
    # embedding parity with oracle kernel
    for r in rows[:3]:
        assert r["embedding"] == pytest.approx(hash_embed_py(r["chunk_json"], 16))


def test_media_plumbing(spark):
    media = spark.createDataFrame(
        [
            ("d1", "media://a/1", "image", b"payload-a", {"offset": "1"}),
            ("d2", "media://b/2", "video", b"payload-b", {"offset": "3"}),
        ],
        MM.MEDIA_SCHEMA,
    )
    decoded = MM.decode_media(media)
    rows = {r["media_ref"]: r for r in decoded.collect()}
    assert set(rows) == {"media://a/1", "media://b/2"}
    for r in rows.values():
        assert r["width"] >= 16 and r["height"] >= 16
        assert len(r["feature"]) == 8
    # determinism
    again = {r["media_ref"]: r for r in MM.decode_media(media).collect()}
    assert again["media://a/1"]["feature"] == rows["media://a/1"]["feature"]
    # stub raise path
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        MM.decode_media(media, decode_stub_raises=True).collect()
    # resize plan
    plan = {r["media_ref"]: r for r in MM.resize_plan(decoded, 64).collect()}
    for r in plan.values():
        assert max(r["target_width"], r["target_height"]) <= 64
    # frame sampling only for video
    frames = MM.frame_sample_plan(decoded, every_n=50).collect()
    assert all(f["media_ref"] == "media://b/2" for f in frames)


def _phash_brute_pairs(payloads: dict, kernel, max_hamming: int):
    """All-pairs Hamming over the Python kernel — the completeness oracle
    the pigeonhole banding must equal exactly."""
    sigs = {i: kernel(p) for i, p in payloads.items()}
    mask = (1 << 64) - 1
    out = set()
    ids = sorted(sigs)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & mask).count("1")
            if h <= max_hamming:
                out.add((a, b, h))
    return out


def test_media_phash_dedup_planted(spark):
    """dHash perceptual dedup: an in-place byte overwrite (same length)
    keeps the pair within max_hamming (locality of the sampled grid);
    the banded join equals the brute-force all-pairs set EXACTLY
    (pigeonhole: n_blocks=8 > max_hamming=6); unrelated payloads are far."""
    import random

    rng = random.Random(11)
    payloads = {}
    for i in range(30):
        base = bytes(rng.randrange(32, 127) for _ in range(400))
        payloads[i] = base
        # in-place 6-byte overwrite at a fixed offset, length preserved
        payloads[i + 1000] = base[:50] + b"ZZZZZZ" + base[56:]
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()], "doc_id long, payload binary"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.media_near_duplicates(
            df, "payload", "doc_id", method="dhash", max_hamming=6, n_blocks=8
        ).collect()
    }
    want = _phash_brute_pairs(payloads, MM.dhash64_py, 6)
    assert got == want
    # every planted pair is found (locality: <=2 sampled cells move)
    planted = {(i, i + 1000) for i in range(30)}
    assert planted <= {(a, b) for a, b, _ in got}
    # no cross-document pair sneaks under the threshold in this corpus
    assert all((b - a) == 1000 for a, b, _ in got)


def test_media_phash_ahash_and_errors(spark):
    import random

    rng = random.Random(7)
    payloads = {}
    for i in range(20):
        base = bytes(rng.randrange(0, 256) for _ in range(300))
        payloads[i] = base
        payloads[i + 1000] = base[:30] + b"\x00\x00\x00\x00" + base[34:]
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()], "doc_id long, payload binary"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.media_near_duplicates(
            df, "payload", "doc_id", method="ahash", max_hamming=5, n_blocks=6
        ).collect()
    }
    assert got == _phash_brute_pairs(payloads, MM.ahash64_py, 5)
    # deterministic kernels, empty-payload convention, error path
    assert MM.dhash64_py(b"") == 0 and MM.ahash64_py(b"") == 0
    assert MM.dhash64_py(b"abcdef" * 50) == MM.dhash64_py(b"abcdef" * 50)
    with pytest.raises(ValueError, match="unknown perceptual hash"):
        MM.make_phash_udf("phash9000")


def test_media_from_spans(spark):
    from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web

    web = generate_web(seed=5, n_hosts=3, n_pages=30)
    docs = web.corpus_df(spark).select(F.col("url"), F.col("spans"))
    media = MM.media_from_spans(docs)
    n_media = media.count()
    want = sum(
        1
        for p in web.corpus.values()
        for s in p["spans"]
        if s["kind"] == "media"
    )
    assert n_media == want


def test_streaming_link_ingest(spark, tmp_path):
    """Stream-admitted links land in the ENGINE's frontier delta, dedup
    against pending ∪ fetched, keep the checkpoint (versions, seq_counter,
    bloom) coherent — and a resumed CrawlEngine fetches them."""
    from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
    from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
    from mcp_crawl4ai_rag_spark.streaming.continuous import start_link_ingest

    web = generate_web(seed=21, n_hosts=3, n_pages=40, n_seeds=2)
    workdir = str(tmp_path / "wd")
    hosts_df = spark.createDataFrame(
        [(h, 1e9, 1e9) for h, _, _ in web.hosts],
        "host string, capacity double, refill_rate double",
    )
    robots_df = web.robots_df(spark)
    eng = CrawlEngine(
        spark, web.corpus_df(spark), robots_df, hosts_df, workdir, batch_size=5,
        max_attempts=3,
    )
    eng.seed(web.seeds)
    eng.round()  # engine now quiesced mid-crawl

    pre = {r["url"]: r["seq"] for r in eng.frontier().collect()}
    seed_url = eng.frontier().orderBy("seq").first()["url"]
    ok_urls = sorted(
        u
        for u, p in web.corpus.items()
        if p["status_code"] == 200 and p["spans"] and u not in pre
    )
    streamed_new = ok_urls[:2]

    links_dir = tmp_path / "links"
    links_dir.mkdir()
    with open(links_dir / "batch1.json", "w") as f:
        recs = [
            (seed_url, 0),  # dup of an already-seen URL → filtered
            (streamed_new[0], 0),  # new
            ("https://h1.com/chttps://h1.com/c", 0),  # malformed → filtered
            (streamed_new[1] + "#frag", 1),  # new after canonicalize
        ]
        for i, (href, d) in enumerate(recs):
            f.write(
                json.dumps(
                    {"href": href, "parent_url": "stream", "link_pos": i, "depth": d}
                )
                + "\n"
            )
    q = start_link_ingest(
        spark, str(links_dir), workdir, robots_df, str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)
    for _ in range(20):
        if not q.isActive:
            break
        time.sleep(1)

    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), robots_df, workdir
    )
    post = {r["url"]: r["seq"] for r in resumed.frontier().collect()}
    for u in streamed_new:
        assert u in post
    # streamed seqs continue after existing ones, no collisions
    assert len(set(post.values())) == len(post)
    assert resumed.seq_counter > max(pre.values())
    # the resumed engine actually fetches the streamed URLs
    resumed.run(max_rounds=50)
    fetched = {r["url"] for r in resumed.crawl_order().collect()}
    for u in streamed_new:
        assert u in fetched


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_streaming_ingest_absorbs_into_seen_filter(spark, tmp_path, kind):
    """Past probe_broadcast_threshold the checkpoint points to a seen-filter
    file. A streamed batch is absorbed into it, so a resume loads a filter
    holding every admitted url_hash, and the resumed crawl fetches each
    streamed URL exactly once although its pages link to them again."""
    import numpy as np

    from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
    from mcp_crawl4ai_rag_spark.plans.snapshots import CrawlCheckpoint
    from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
    from mcp_crawl4ai_rag_spark.streaming.continuous import start_link_ingest

    web = generate_web(seed=21, n_hosts=3, n_pages=40, n_seeds=2)
    workdir = str(tmp_path / "wd")
    hosts_df = spark.createDataFrame(
        [(h, 1e9, 1e9) for h, _, _ in web.hosts],
        "host string, capacity double, refill_rate double",
    )
    robots_df = web.robots_df(spark)
    eng = CrawlEngine(
        spark, web.corpus_df(spark), robots_df, hosts_df, workdir, batch_size=10,
        max_attempts=3, seen_filter_kind=kind, probe_broadcast_threshold=0,
    )
    eng.seed(web.seeds)
    eng.round()
    filter_before = CrawlCheckpoint(workdir).load()["filter_path"]
    assert os.path.exists(filter_before)

    pre = {r["url"] for r in eng.frontier().collect()}
    linked = {u for p in web.corpus.values() for u in p["out_links"]}
    streamed_new = sorted(
        u
        for u, p in web.corpus.items()
        if p["status_code"] == 200 and p["spans"] and u not in pre and u in linked
    )[:3]
    assert len(streamed_new) == 3
    links_dir = tmp_path / "links"
    links_dir.mkdir()
    with open(links_dir / "batch1.json", "w") as f:
        for i, href in enumerate(streamed_new + [sorted(pre)[0]]):
            f.write(json.dumps(
                {"href": href, "parent_url": "stream", "link_pos": i, "depth": 0}
            ) + "\n")
    q = start_link_ingest(
        spark, str(links_dir), workdir, robots_df, str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)
    for _ in range(20):
        if not q.isActive:
            break
        time.sleep(1)

    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), robots_df, workdir, probe_broadcast_threshold=0
    )
    assert resumed.seen_filter_kind == kind
    admitted = np.array(
        [r["url_hash"] for r in resumed._read_pending().collect() if r["url"] in streamed_new],
        dtype=np.int64,
    )
    assert len(admitted) == len(streamed_new)
    assert resumed.seen_filter.contains_many(admitted).all()
    resumed.run(max_rounds=50)
    fetched = [r["url"] for r in resumed.crawl_order().collect()]
    for u in streamed_new:
        assert fetched.count(u) == 1, u


def test_streaming_ingest_after_reprioritize(spark, tmp_path):
    """Regression for the delete-key divergence: reprioritize() emits an
    equality 'del' at the old priority plus an 'add' at the new one with
    identical (url, seq, attempts). A streaming pending view keyed on only
    (url, seq, attempts) would drop the re-added row too, so a streamed
    rediscovery of that URL would be admitted AGAIN — duplicate pending
    rows. The stream must share the engine's (url, seq, attempts,
    priority) key (it admits through the engine's own pending view)."""
    from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
    from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
    from mcp_crawl4ai_rag_spark.streaming.continuous import start_link_ingest

    web = generate_web(seed=22, n_hosts=3, n_pages=40, n_seeds=2)
    workdir = str(tmp_path / "wd")
    hosts_df = spark.createDataFrame(
        [(h, 1e9, 1e9) for h, _, _ in web.hosts],
        "host string, capacity double, refill_rate double",
    )
    robots_df = web.robots_df(spark)
    eng = CrawlEngine(
        spark, web.corpus_df(spark), robots_df, hosts_df, workdir,
        batch_size=5, max_attempts=3,
    )
    eng.seed(web.seeds)
    eng.round()

    pending_rows = eng._read_pending().collect()
    assert pending_rows, "need a pending row to reprioritize"
    target = sorted(r["url"] for r in pending_rows)[0]
    n = eng.reprioritize(
        spark.createDataFrame([(target, 500)], "url string, priority int")
    )
    assert n == 1

    # stream a rediscovery of the reprioritized URL + one truly new URL
    pre_urls = {r["url"] for r in eng.frontier().collect()}
    new_url = sorted(
        u for u, p in web.corpus.items()
        if p["status_code"] == 200 and p["spans"] and u not in pre_urls
    )[0]
    links_dir = tmp_path / "links"
    links_dir.mkdir()
    with open(links_dir / "b1.json", "w") as f:
        for i, href in enumerate([target, new_url]):
            f.write(json.dumps({
                "href": href, "parent_url": "stream", "link_pos": i, "depth": 0,
            }) + "\n")
    q = start_link_ingest(
        spark, str(links_dir), workdir, robots_df, str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)
    for _ in range(20):
        if not q.isActive:
            break
        time.sleep(1)

    resumed = CrawlEngine.resume(spark, web.corpus_df(spark), robots_df, workdir)
    post = resumed._read_pending().collect()
    target_rows = [r for r in post if r["url"] == target]
    # exactly one surviving version, at the NEW priority — no duplicate
    # admission, no self-killed add
    assert len(target_rows) == 1
    assert target_rows[0]["priority"] == 500
    assert len({r["url"] for r in post}) == len(post)
    assert new_url in {r["url"] for r in post}


def test_streamed_seqs_not_reused_after_purge(spark, tmp_path):
    """Seq allocation regression (the 'seq is never reused' invariant the
    equality-delete design depends on): after purge_host() removes the
    highest-seq pending rows, a streamed admission must allocate from the
    checkpoint's seq_counter — NOT max(seq)+1 over the surviving rows,
    which would hand out previously-assigned seqs and let a historical
    'del' record silently kill a future re-add at the same key."""
    from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
    from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
    from mcp_crawl4ai_rag_spark.streaming.continuous import start_link_ingest

    web = generate_web(seed=31, n_hosts=4, n_pages=60, n_seeds=2)
    workdir = str(tmp_path / "wd")
    hosts_df = spark.createDataFrame(
        [(h, 1e9, 1e9) for h, _, _ in web.hosts],
        "host string, capacity double, refill_rate double",
    )
    robots_df = web.robots_df(spark)
    eng = CrawlEngine(
        spark, web.corpus_df(spark), robots_df, hosts_df, workdir,
        batch_size=5, max_attempts=3,
    )
    eng.seed(web.seeds)
    eng.round()
    ck_seq = eng.seq_counter
    pending = eng._read_pending().collect()
    assert pending
    # purge the host holding the highest-seq pending row
    top = max(pending, key=lambda r: r["seq"])
    assert eng.purge_host(top["host"]) > 0
    surviving_max = max(
        (r["seq"] for r in eng._read_pending().collect()), default=-1
    )
    assert surviving_max < top["seq"]  # the purge removed the top seq

    # stream one fresh URL
    pre_urls = {r["url"] for r in eng.frontier().collect()}
    new_url = sorted(
        u for u, p in web.corpus.items()
        if p["status_code"] == 200 and p["spans"] and u not in pre_urls
        and u.split("/")[2] != top["host"]
    )[0]
    links_dir = tmp_path / "links"
    links_dir.mkdir()
    with open(links_dir / "b1.json", "w") as f:
        f.write(json.dumps({
            "href": new_url, "parent_url": "stream", "link_pos": 0, "depth": 0,
        }) + "\n")
    q = start_link_ingest(
        spark, str(links_dir), workdir, robots_df, str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)
    for _ in range(20):
        if not q.isActive:
            break
        time.sleep(1)

    resumed = CrawlEngine.resume(spark, web.corpus_df(spark), robots_df, workdir)
    row = [r for r in resumed._read_pending().collect() if r["url"] == new_url]
    assert len(row) == 1
    # allocated at/above the engine's counter — never a purged seq
    assert row[0]["seq"] >= ck_seq
    assert resumed.seq_counter > ck_seq
    # the streamed row sits in its host's bucket: once compaction moves it
    # from the delta into the bucketed base, purging the host finds it
    resumed._compact_pending()
    assert resumed.purge_host(row[0]["host"]) >= 1
    assert new_url not in {r["url"] for r in resumed._read_pending().collect()}
