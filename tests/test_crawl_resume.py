"""Failure paths and the lazy seen filter of CrawlEngine.

- A round that raises (on the main thread, or inside a pooled commit)
  leaves no Spark job of its own running, does not advance
  CHECKPOINT.json, and a resume then finishes bit-for-bit equal to an
  uninterrupted crawl.
- Below probe_broadcast_threshold neither seen-filter kind runs a filter
  job or writes a filter file. When a crawl crosses the threshold, the
  bloom is built once, from pending ∪ fetched, and checkpointed every
  round from then on; the crawl still equals the CrawlSimulator oracle.
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from mcp_crawl4ai_rag_spark.operators import crawl as crawl_mod
from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
from mcp_crawl4ai_rag_spark.plans.snapshots import CrawlCheckpoint
from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
from tests.test_crawl_e2e import assert_equivalent, run_pair

BATCH = 30


@pytest.fixture(scope="module")
def web():
    return generate_web(seed=42, n_hosts=6, n_pages=120, n_seeds=3)


def _frames(spark, web):
    hosts_df = spark.createDataFrame(
        [(h, 1e9, 1e9) for h, _, _ in web.hosts],
        "host string, capacity double, refill_rate double",
    )
    return web.corpus_df(spark), web.robots_df(spark), hosts_df


def _final_state(eng):
    order = sorted(
        (r["url"], r["fetch_round"], r["seq_in_round"])
        for r in eng.crawl_order().collect()
    )
    frontier = sorted((r["url"], r["state"], r["seq"]) for r in eng.frontier().collect())
    return order, frontier


@pytest.fixture(scope="module")
def uninterrupted(spark, web, tmp_path_factory):
    corpus_df, robots_df, hosts_df = _frames(spark, web)
    eng = CrawlEngine(
        spark, corpus_df, robots_df, hosts_df,
        str(tmp_path_factory.mktemp("full") / "crawl"), batch_size=BATCH, max_attempts=3,
    )
    eng.seed(web.seeds)
    eng.run(max_rounds=200)
    return _final_state(eng)


def _flush_listener_bus(spark) -> None:
    """Deliver every pending scheduler event, so the status tracker's
    active-job list is current."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.mark.parametrize("fault", ["link_pipeline", "pooled_commit"])
def test_failed_round_leaves_no_job_and_resumes_bit_for_bit(
    spark, web, tmp_path, monkeypatch, uninterrupted, fault
):
    corpus_df, robots_df, hosts_df = _frames(spark, web)
    workdir = str(tmp_path / "crawl")
    eng = CrawlEngine(
        spark, corpus_df, robots_df, hosts_df, workdir, batch_size=BATCH, max_attempts=3,
    )
    eng.seed(web.seeds)
    for _ in range(2):
        eng.round()
    ck_path = tmp_path / "crawl" / "CHECKPOINT.json"
    before = ck_path.read_bytes()
    # below probe_broadcast_threshold the seen filter is neither built nor
    # checkpointed
    assert eng.seen_filter is None
    assert "filter_path" not in json.loads(before)

    def boom(*_a, **_k):
        raise RuntimeError("injected fault")

    if fault == "link_pipeline":
        # raises on the main thread while the stats job and the documents
        # and fetched commits are in flight on the pool
        monkeypatch.setattr(crawl_mod, "new_urls", boom)
    else:
        # raises inside a pool thread; surfaces at the commit barrier
        monkeypatch.setattr(eng.documents_tbl, "commit", boom)
    with pytest.raises(RuntimeError, match="injected fault"):
        eng.round()
    _flush_listener_bus(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert ck_path.read_bytes() == before
    monkeypatch.undo()

    resumed = CrawlEngine.resume(spark, corpus_df, robots_df, workdir, max_attempts=3)
    assert resumed.round_id == 2
    resumed.run(max_rounds=200)
    assert _final_state(resumed) == uninterrupted
    assert "filter_path" not in CrawlCheckpoint(workdir).load()


def test_seen_filter_built_once_when_threshold_crossed(spark, web, tmp_path, monkeypatch):
    threshold = 10
    builds = []
    real_build = crawl_mod.build_bloom

    def counting_build(*a, **k):
        builds.append(1)
        return real_build(*a, **k)

    saves = []
    real_save = CrawlCheckpoint.save

    def recording_save(self, state):
        saves.append((state["round_id"], state["seq_counter"], "filter_path" in state))
        return real_save(self, state)

    monkeypatch.setattr(crawl_mod, "build_bloom", counting_build)
    monkeypatch.setattr(CrawlCheckpoint, "save", recording_save)
    budgets = {h: (1e9, 1e9) for h, _, _ in web.hosts}
    sim, eng = run_pair(
        spark, tmp_path, web, batch_size=BATCH, host_budgets=budgets,
        probe_broadcast_threshold=threshold,
    )
    assert_equivalent(sim, eng)

    assert len(builds) == 1
    # a round checkpoints the bloom iff it started above the threshold
    for (_, seq_before, _), (rnd, _, has_bloom) in zip(saves, saves[1:]):
        assert has_bloom == (seq_before > threshold), rnd
    assert not saves[0][2] and not saves[1][2]  # seeding and round 1: below
    assert saves[-1][2]  # crossed mid-crawl

    # a resume above the threshold reloads the checkpointed bitmap
    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), web.robots_df(spark), str(tmp_path / "crawl"),
        probe_broadcast_threshold=threshold,
    )
    assert np.array_equal(resumed.seen_filter.bits, eng.seen_filter.bits)


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_no_seen_filter_below_threshold(spark, web, tmp_path, monkeypatch, kind):
    def boom(*_a, **_k):
        raise AssertionError("seen-filter job below the threshold")

    for job in ("build_bloom", "maintain_sharded_cuckoo", "update_seen_filter"):
        monkeypatch.setattr(crawl_mod, job, boom)
    corpus_df, robots_df, hosts_df = _frames(spark, web)
    workdir = tmp_path / "crawl"
    eng = CrawlEngine(
        spark, corpus_df, robots_df, hosts_df, str(workdir), batch_size=BATCH,
        max_attempts=3, seen_filter_kind=kind,
    )
    eng.seed(web.seeds)
    for _ in range(2):
        eng.round()
    assert eng.seen_filter is None
    ck = CrawlCheckpoint(str(workdir)).load()
    assert ck["seen_filter_kind"] == kind
    assert "filter_path" not in ck
    assert not list(workdir.glob("*.bin"))
    resumed = CrawlEngine.resume(spark, corpus_df, robots_df, str(workdir))
    assert resumed.seen_filter_kind == kind
    assert resumed.seen_filter is None
