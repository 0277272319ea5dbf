"""On-disk layout of a crawl's snapshot tables.

Each round appends one parquet file to documents, frontier_fetched and
frontier_pending_delta, with no _SUCCESS marker and no .crc sidecar. Reads,
tail compaction, snapshot expiry and resume work on that layout, and a
plain DataFrame write in the same session still writes its checksums. A
round keeps no persisted rows behind.
"""

from __future__ import annotations

import os
import time

from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine
from mcp_crawl4ai_rag_spark.oracle.simulator import CrawlSimulator
from mcp_crawl4ai_rag_spark.plans.snapshots import SnapshotTable
from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
from tests.test_crawl_e2e import assert_equivalent

APPENDS = ["documents", "frontier_fetched", "frontier_pending_delta"]
BATCH = 8


def _data_dirs(workdir: str, table: str) -> set[str]:
    root = os.path.join(workdir, table)
    return {
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("d") and d[1:].isdigit()
    }


def _assert_one_file_no_sidecars(path: str) -> None:
    files = os.listdir(path)
    assert len([f for f in files if f.endswith(".parquet")]) == 1, (path, files)
    assert not [f for f in files if f.startswith("_") or f.endswith(".crc")], (path, files)


def test_round_appends_one_file_no_sidecars(spark, tmp_path):
    web = generate_web(seed=7, n_hosts=4, n_pages=60, n_seeds=3)
    budgets = {h: (1e9, 1e9) for h, _, _ in web.hosts}
    hosts_df = spark.createDataFrame(
        [(h, c, r) for h, (c, r) in budgets.items()],
        "host string, capacity double, refill_rate double",
    )
    workdir = str(tmp_path / "crawl")
    eng = CrawlEngine(
        spark, web.corpus_df(spark), web.robots_df(spark), hosts_df, workdir,
        batch_size=BATCH, max_attempts=3, compact_every=3, snapshot_keep=2,
    )
    eng.seed(web.seeds)
    seeded = {t: _data_dirs(workdir, t) for t in APPENDS}
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    n_persisted = len(persisted())
    fetched = sum(eng.round()["fetched"] for _ in range(2))
    # a round releases the rows it pinned
    assert len(persisted()) == n_persisted

    for t in APPENDS:
        new = _data_dirs(workdir, t) - seeded[t]
        assert len(new) == 2, (t, new)
        for d in new:
            _assert_one_file_no_sidecars(d)
    assert eng.documents().count() == fetched
    docs_tbl = SnapshotTable(workdir, "documents")
    assert docs_tbl.num_rows() == fetched

    # round 3 passes compact_every: the tails fold into one file each
    t0 = time.perf_counter()
    phases = eng.round()["phases"]
    wall = time.perf_counter() - t0
    # the phase report comes with every round, no flag set: each timed
    # phase the benchmark reads, disjoint, inside the round's wall time
    read = ["pop", "links", "commits_join", "compact", "compact_tail"]
    assert set(read + ["other"]) <= set(phases), phases
    assert all(phases[k] >= 0 for k in read + ["other"]), phases
    assert sum(phases[k] for k in read) <= wall, (phases, wall)
    fetched_tbl = SnapshotTable(workdir, "frontier_fetched")
    assert fetched_tbl.current().extra.get("compacted") == "tail"
    for t in ["documents", "frontier_fetched"]:
        _assert_one_file_no_sidecars(SnapshotTable(workdir, t).current().paths[-1])
    pre_fold = _data_dirs(workdir, "frontier_fetched") - set(
        fetched_tbl.current().paths
    )
    assert pre_fold

    # one more round: the pre-fold dirs leave the 2-manifest window and expire
    eng.round()
    assert not pre_fold & _data_dirs(workdir, "frontier_fetched")

    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), web.robots_df(spark), workdir, max_attempts=3
    )
    resumed.run(max_rounds=200)
    sim = CrawlSimulator(
        web.corpus, web.seeds, robots=web.robots, host_budgets=budgets,
        batch_size=BATCH, max_attempts=3, max_rounds=200,
    ).run()
    assert_equivalent(sim, resumed)

    # the snapshot writers' options stay per write: a plain write in the
    # same session keeps its marker and checksums
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    files = os.listdir(plain)
    assert "_SUCCESS" in files
    assert any(f.endswith(".parquet.crc") for f in files)
