"""Faults around the continuous-mode link ingest (streaming/continuous.py).

The stream admits links through CrawlEngine.ingest_links, so it reads the
frontier at the checkpoint's pinned versions, extends the pinned delta
version and records its epoch in the crawl checkpoint:

- after a torn round (commits landed, checkpoint not advanced) a streamed
  micro-batch does not resurrect the round's orphan commits: no
  checkpointed pending URL is lost and no seq is handed out twice;
- a micro-batch whose checkpoint save fails leaves an orphan delta
  version, and the epoch Spark replays on restart admits its links again,
  each exactly once.
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.errors import StreamingQueryException

from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
from mcp_crawl4ai_rag_spark.plans.snapshots import CrawlCheckpoint
from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
from mcp_crawl4ai_rag_spark.streaming.continuous import start_link_ingest


@pytest.fixture(scope="module")
def web():
    return generate_web(seed=31, n_hosts=4, n_pages=60, n_seeds=2)


def _seeded_engine(spark, web, workdir: str) -> CrawlEngine:
    """The crawl after its seed and one round."""
    hosts_df = spark.createDataFrame(
        [(h, 1e9, 1e9) for h, _, _ in web.hosts],
        "host string, capacity double, refill_rate double",
    )
    eng = CrawlEngine(
        spark, web.corpus_df(spark), web.robots_df(spark), hosts_df, workdir,
        batch_size=5, max_attempts=3,
    )
    eng.seed(web.seeds)
    eng.round()
    return eng


def _unseen_ok_urls(web, seen: set, n: int) -> list[str]:
    urls = sorted(
        u for u, p in web.corpus.items()
        if p["status_code"] == 200 and p["spans"] and u not in seen
        and "/private/" not in u
    )[:n]
    assert len(urls) == n
    return urls


def _stream(spark, web, tmp_path, workdir: str, urls: list[str]) -> None:
    """Stream ``urls`` as one file of links and run the query to its end
    (re-running it replays what it has not committed)."""
    links_dir = tmp_path / "links"
    if not links_dir.exists():
        links_dir.mkdir()
        with open(links_dir / "b1.json", "w") as f:
            for i, href in enumerate(urls):
                f.write(json.dumps({
                    "href": href, "parent_url": "stream", "link_pos": i, "depth": 0,
                }) + "\n")
    q = start_link_ingest(
        spark, str(links_dir), workdir, web.robots_df(spark), str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)
    for _ in range(20):
        if not q.isActive:
            break
        time.sleep(1)


def _assert_frontier_coherent(eng: CrawlEngine) -> list:
    rows = eng.frontier().collect()
    seqs = [r["seq"] for r in rows]
    assert len(set(seqs)) == len(seqs), "a seq is held by two frontier rows"
    pending_seqs = [r["seq"] for r in eng._read_pending().collect()]
    assert eng.seq_counter > max(pending_seqs)
    return rows


def test_stream_after_torn_round_keeps_checkpointed_frontier(
    spark, web, tmp_path, monkeypatch
):
    workdir = str(tmp_path / "wd")
    eng = _seeded_engine(spark, web, workdir)
    ck_pending = {r["url"] for r in eng._read_pending().collect()}

    def boom(*_a, **_k):
        raise RuntimeError("injected fault")

    # the torn round: every commit lands, the checkpoint does not move
    monkeypatch.setattr(eng, "_save_checkpoint", boom)
    with pytest.raises(RuntimeError, match="injected fault"):
        eng.round()
    monkeypatch.undo()

    new_url = _unseen_ok_urls(web, {r["url"] for r in eng.frontier().collect()}, 1)[0]
    _stream(spark, web, tmp_path, workdir, [new_url])

    resumed = CrawlEngine.resume(spark, web.corpus_df(spark), web.robots_df(spark), workdir)
    assert resumed.round_id == 1
    rows = _assert_frontier_coherent(resumed)
    urls = [r["url"] for r in rows]
    assert ck_pending <= set(urls), "checkpointed pending URLs were lost"
    assert urls.count(new_url) == 1


def test_stream_replays_epoch_after_failed_checkpoint(spark, web, tmp_path, monkeypatch):
    workdir = str(tmp_path / "wd")
    eng = _seeded_engine(spark, web, workdir)
    streamed = _unseen_ok_urls(web, {r["url"] for r in eng.frontier().collect()}, 2)

    def boom(*_a, **_k):
        raise RuntimeError("injected fault")

    # the micro-batch commits its delta, then fails to save the checkpoint
    monkeypatch.setattr(CrawlCheckpoint, "save", boom)
    with pytest.raises(StreamingQueryException, match="injected fault"):
        _stream(spark, web, tmp_path, workdir, streamed)
    monkeypatch.undo()
    # the restarted query replays the uncommitted epoch
    _stream(spark, web, tmp_path, workdir, streamed)

    resumed = CrawlEngine.resume(spark, web.corpus_df(spark), web.robots_df(spark), workdir)
    urls = [r["url"] for r in _assert_frontier_coherent(resumed)]
    for u in streamed:
        assert urls.count(u) == 1, u
