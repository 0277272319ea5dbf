"""The crawl round's two regimes give the same crawl.

Below ``DRIVER_FRONTIER_MAX_URLS`` a round runs on the driver-resident
Arrow frontier; with the bound at 0 every round runs the Spark pipeline.

- The e2e oracle tests of test_crawl_e2e.py and test_fetcher_seam.py,
  rerun with the bound at 0 (their own runs take the driver regime).
- A checkpoint written by either regime resumes in the other, and the
  crawl ends bit-for-bit equal to an uninterrupted one.
- A streamed micro-batch (``ingest_links``) between two driver rounds
  leaves the copy stale; the next round rebuilds it and the crawl still
  matches the Spark regime's.
- A null-priority seed is popped once in either regime and across a
  resume (the merged view's deletes are null-safe).
- A driver compaction round runs only the fetch's Spark job; the base
  it writes from the copy reads back as the copy and as the merged view
  it replaces, and its checkpoint resumes in either regime.
- Hypothesis differentials of the driver pop against ``budgeted_pop``
  and of the driver link admission against ``_admit_links`` on dirty
  input.
"""

from __future__ import annotations

import inspect
from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mcp_crawl4ai_rag_spark.operators import crawl as crawl_mod
from mcp_crawl4ai_rag_spark.operators.crawl import (
    FRONTIER_COLS_PENDING,
    CrawlEngine,
    _nullable,
)
from mcp_crawl4ai_rag_spark.operators.politeness import (
    budgeted_pop,
    budgeted_pop_arrow,
)
from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web
from tests import test_crawl_e2e as e2e
from tests import test_fetcher_seam as seam
from tests.test_crawl_resume import _final_state

BATCH = 30
HOSTS_DDL = "host string, capacity double, refill_rate double"


@pytest.fixture(scope="module")
def web():
    return generate_web(seed=42, n_hosts=6, n_pages=120, n_seeds=3)


def _spark_only(monkeypatch) -> None:
    """Bound at 0: every round takes the Spark regime."""
    monkeypatch.setattr(crawl_mod, "DRIVER_FRONTIER_MAX_URLS", 0)

    def boom(*_a, **_k):
        raise AssertionError("driver round with the bound at 0")

    monkeypatch.setattr(CrawlEngine, "_driver_round", boom)


def _count_driver_rounds(monkeypatch) -> list:
    calls: list = []
    real = CrawlEngine._driver_round

    def counting(self, *a, **k):
        calls.append(self.round_id)
        return real(self, *a, **k)

    monkeypatch.setattr(CrawlEngine, "_driver_round", counting)
    return calls


ORACLE_CASES = [
    e2e.test_crawl_matches_oracle_fifo,
    e2e.test_crawl_matches_oracle_with_politeness,
    e2e.test_resume_bit_for_bit,
    seam.test_crawl_with_injected_fetcher_matches_oracle,
    seam.test_crawl_with_flaky_fetcher_matches_oracle,
]


@pytest.mark.parametrize("case", ORACLE_CASES, ids=[c.__name__ for c in ORACLE_CASES])
def test_spark_regime_matches_oracle(spark, tmp_path, monkeypatch, web, case):
    _spark_only(monkeypatch)
    kw = {"spark": spark, "tmp_path": tmp_path, "web": web}
    case(**{k: kw[k] for k in inspect.signature(case).parameters})


def test_default_crawl_runs_driver_rounds(spark, tmp_path, monkeypatch, web):
    """The oracle tests' own runs take the driver regime: one Spark job
    per round that does not compact."""
    calls = _count_driver_rounds(monkeypatch)
    budgets = {h: (4.0, 2.0) for h, _, _ in web.hosts}
    sim, eng = e2e.run_pair(
        spark, tmp_path, web, batch_size=12, host_budgets=budgets, max_rounds=6
    )
    assert calls == list(range(1, 7))
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    j0 = max(sc.statusTracker().getJobIdsForGroup(None))
    assert eng.round()["popped"] > 0  # round 7: the copy is current
    bus.waitUntilEmpty(10_000)
    assert max(sc.statusTracker().getJobIdsForGroup(None)) - j0 == 1
    assert eng._frontier.nbytes > 0


def _engine(spark, web, workdir: str, **kw) -> CrawlEngine:
    hosts_df = spark.createDataFrame([(h, 1e9, 1e9) for h, _, _ in web.hosts], HOSTS_DDL)
    return CrawlEngine(
        spark, web.corpus_df(spark), web.robots_df(spark), hosts_df, workdir,
        batch_size=BATCH, max_attempts=3, **kw,
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, web, tmp_path_factory):
    eng = _engine(spark, web, str(tmp_path_factory.mktemp("full") / "crawl"))
    eng.seed(web.seeds)
    eng.run(max_rounds=200)
    return _final_state(eng)


@pytest.mark.parametrize("first", ["driver", "spark"])
def test_checkpoint_resumes_in_the_other_regime(
    spark, web, tmp_path, monkeypatch, uninterrupted, first
):
    bound = crawl_mod.DRIVER_FRONTIER_MAX_URLS
    calls = _count_driver_rounds(monkeypatch)
    workdir = str(tmp_path / "crawl")
    monkeypatch.setattr(crawl_mod, "DRIVER_FRONTIER_MAX_URLS", bound if first == "driver" else 0)
    eng = _engine(spark, web, workdir)
    eng.seed(web.seeds)
    for _ in range(3):
        eng.round()
    assert calls == ([1, 2, 3] if first == "driver" else [])
    monkeypatch.setattr(crawl_mod, "DRIVER_FRONTIER_MAX_URLS", 0 if first == "driver" else bound)
    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), web.robots_df(spark), workdir, max_attempts=3
    )
    assert resumed.round_id == 3
    resumed.run(max_rounds=200)
    # the resumed rounds ran in the other regime
    assert calls[0] == 4 if first == "spark" else calls == [1, 2, 3]
    assert _final_state(resumed) == uninterrupted


def _stream_batch(spark, web, eng):
    seen = {r["url"] for r in eng.frontier().select("url").collect()}
    urls = sorted(
        u for u, p in web.corpus.items()
        if p["status_code"] == 200 and u not in seen and "/private/" not in u
    )[:4]
    assert urls
    return spark.createDataFrame(
        [(u, "stream", i, 0) for i, u in enumerate(urls)],
        "href string, parent_url string, link_pos int, depth int",
    )


def test_ingest_between_driver_rounds_rebuilds_the_copy(spark, web, tmp_path, monkeypatch):
    eng = _engine(spark, web, str(tmp_path / "driver"))
    eng.seed(web.seeds)
    eng.round()
    batch = _stream_batch(spark, web, eng)
    streamed = {r["href"] for r in batch.collect()}
    eng.ingest_links(batch, epoch=0)
    copy = eng._frontier
    assert copy.stamp != eng._stamp()  # stale: another writer committed
    eng.round()
    assert eng._frontier is not copy and eng._frontier.stamp == eng._stamp()
    pending = set(eng._frontier.pending["url"].to_pylist())
    assert streamed <= pending | {r["url"] for r in eng.documents().collect()}
    assert pending <= set(eng._frontier.seen.to_pylist())
    eng.run(max_rounds=200)
    state = _final_state(eng)
    assert {u for u, *_ in state[0]} & streamed
    # the same steps, every round in the Spark regime
    _spark_only(monkeypatch)
    ref = _engine(spark, web, str(tmp_path / "spark"))
    ref.seed(web.seeds)
    ref.round()
    ref.ingest_links(_stream_batch(spark, web, ref), epoch=0)
    ref.run(max_rounds=200)
    assert _final_state(ref) == state


def test_null_priority_seed_pops_once_in_every_regime(spark, web, tmp_path, monkeypatch):
    """A seed with a null priority: its popped row's delete kills it in
    the merged view just as the driver copy drops it, so a driver crawl,
    one resumed from a driver round's checkpoint and a Spark-regime crawl
    end alike, each fetching the url once."""
    seeds = [(web.seeds[0][0], None), *web.seeds[1:]]

    def engine(name):
        eng = _engine(spark, web, str(tmp_path / name))
        eng.seed(seeds)
        return eng

    cut = engine("cut")
    cut.round()
    view = sorted(r["url"] for r in cut._read_pending().select("url").collect())
    assert sorted(cut._frontier.pending["url"].to_pylist()) == view
    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), web.robots_df(spark), str(tmp_path / "cut"),
        max_attempts=3,
    )
    resumed.run(max_rounds=200)
    full = engine("full")
    full.run(max_rounds=200)
    state = _final_state(full)
    fetched = [u for u, *_ in state[0]]
    assert seeds[0][0] in fetched and len(fetched) == len(set(fetched))
    assert _final_state(resumed) == state
    _spark_only(monkeypatch)
    ref = engine("spark")
    ref.run(max_rounds=200)
    assert _final_state(ref) == state


def _round_jobs(spark, eng) -> tuple[dict, int]:
    """One round of ``eng`` and the Spark jobs it ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    j0 = max(sc.statusTracker().getJobIdsForGroup(None))
    m = eng.round()
    bus.waitUntilEmpty(10_000)
    return m, max(sc.statusTracker().getJobIdsForGroup(None)) - j0


def _pending_multiset(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*FRONTIER_COLS_PENDING).collect())


def test_driver_compaction_round_runs_one_job(spark, web, tmp_path, monkeypatch):
    """With compact_every=2, rounds 2 and 4 compact on the driver: each
    runs only the fetch's job, folds the append-only tails and rewrites
    the base, and keeps the copy current."""
    calls = _count_driver_rounds(monkeypatch)
    eng = _engine(spark, web, str(tmp_path / "crawl"), compact_every=2)
    eng.seed(web.seeds)
    eng.round()  # round 1 rebuilds the copy
    for round_id in (2, 3, 4):
        base_v = eng._version(eng.pending_tbl)
        m, jobs = _round_jobs(spark, eng)
        assert m["popped"] > 0 and jobs == 1, (round_id, jobs)
        compacted = round_id % 2 == 0
        assert ("compact" in m["phases"]) == compacted
        assert (eng._version(eng.pending_tbl) != base_v) == compacted
        assert eng._frontier.stamp == eng._stamp()
    assert calls == [1, 2, 3, 4]
    m = eng.fetched_tbl._manifest(eng._version(eng.fetched_tbl))
    assert m["extra"]["compacted"] == "tail" and m["folded"] == 3


def test_arrow_base_equals_copy_and_merged_view(spark, web, tmp_path, monkeypatch):
    """The base a driver compaction writes from the copy (a null-priority
    seed among its rows) reads back through _read_pending() as the same
    row multiset and schema as the copy and as the merged view it
    replaced, which the Spark regime's compaction would have written."""
    seen: dict = {}
    real = CrawlEngine._compact_pending

    def spying(self, copy=None):
        assert copy is not None
        seen["view"] = self._read_pending()
        seen["view_rows"] = _pending_multiset(seen["view"])
        seen["copy"] = copy.pending
        real(self, copy)

    monkeypatch.setattr(CrawlEngine, "_compact_pending", spying)
    eng = _engine(spark, web, str(tmp_path / "crawl"), compact_every=2)
    # every corpus url, one at a null priority: it pops last, so it is
    # still pending at round 2
    urls = sorted(web.corpus)
    eng.seed([(urls[0], None)] + [(u, 0) for u in urls[1:]])
    eng.round()
    eng.round()
    base = eng._read_pending()
    rows = _pending_multiset(base)
    assert any(r[FRONTIER_COLS_PENDING.index("priority")] is None for r in rows)
    assert rows == seen["view_rows"]
    assert rows == Counter(
        tuple(r[c] for c in FRONTIER_COLS_PENDING) for r in seen["copy"].to_pylist()
    )
    cols = list(FRONTIER_COLS_PENDING)
    assert base.select(*cols).schema == _nullable(seen["view"].select(*cols).schema)
    assert eng.pending_delta_tbl.num_rows() == 0


@pytest.mark.parametrize("first", ["driver", "spark"])
def test_compaction_checkpoint_resumes_in_the_other_regime(
    spark, web, tmp_path, monkeypatch, uninterrupted, first
):
    """A checkpoint taken right after a compaction round (round 2, with
    compact_every=2) resumes in the other regime, which compacts again at
    round 4, and the crawl ends equal to the uninterrupted one."""
    bound = crawl_mod.DRIVER_FRONTIER_MAX_URLS
    calls = _count_driver_rounds(monkeypatch)
    workdir = str(tmp_path / "crawl")
    monkeypatch.setattr(crawl_mod, "DRIVER_FRONTIER_MAX_URLS", bound if first == "driver" else 0)
    eng = _engine(spark, web, workdir, compact_every=2)
    eng.seed(web.seeds)
    eng.round()
    assert "compact" in eng.round()["phases"]
    monkeypatch.setattr(crawl_mod, "DRIVER_FRONTIER_MAX_URLS", 0 if first == "driver" else bound)
    resumed = CrawlEngine.resume(
        spark, web.corpus_df(spark), web.robots_df(spark), workdir,
        max_attempts=3, compact_every=2,
    )
    assert resumed.round_id == 2
    resumed.run(max_rounds=200)
    assert resumed.round_id >= 4
    assert calls == [1, 2] if first == "driver" else calls[:2] == [3, 4]
    assert _final_state(resumed) == uninterrupted


# -- Hypothesis differentials -------------------------------------------------

URL_CHARS = "ab/é\u0085 %"
HOSTS = ["h1.com", "h2.com", "h3.com", "é.com", None]
PENDING_SCHEMA = pa.schema([
    ("url", pa.string()), ("url_hash", pa.int64()), ("host", pa.string()),
    ("depth", pa.int32()), ("priority", pa.int32()), ("seq", pa.int64()),
    ("state", pa.string()), ("attempts", pa.int32()), ("bucket", pa.int32()),
])

_pending_rows = st.lists(
    st.tuples(
        st.text(URL_CHARS, max_size=4),
        st.sampled_from(HOSTS),
        st.one_of(st.none(), st.integers(-2, 2)),
    ),
    max_size=40,
)
_budgets = st.dictionaries(
    st.sampled_from(HOSTS[:4]),
    st.one_of(st.just(0.0), st.floats(0, 6, allow_nan=False), st.just(1e9)),
)


def test_driver_pop_matches_budgeted_pop(spark):
    """Null hosts, duplicate and non-ASCII urls, null priorities, budgets
    of 0, fractional and unbounded budgets, unbudgeted hosts."""
    settings_ = settings(max_examples=25, deadline=None,
                         suppress_health_check=[HealthCheck.function_scoped_fixture])

    @settings_
    @given(_pending_rows, _budgets, st.integers(1, 8))
    def check(rows, budgets, batch_size):
        pending = pa.Table.from_pylist(
            [
                {"url": "https://x/" + u, "url_hash": 0, "host": h, "depth": 0,
                 "priority": p, "seq": i, "state": "pending", "attempts": 0, "bucket": 0}
                for i, (u, h, p) in enumerate(rows)
            ],
            schema=PENDING_SCHEMA,
        )
        hosts = pa.Table.from_pylist(
            [{"host": h, "capacity": 1e9, "refill_rate": 1e9, "tokens": t}
             for h, t in budgets.items()],
            schema=pa.schema([("host", pa.string()), ("capacity", pa.float64()),
                              ("refill_rate", pa.float64()), ("tokens", pa.float64())]),
        )
        got = pending.take(budgeted_pop_arrow(pending, hosts, batch_size))
        want = (
            budgeted_pop(
                spark.createDataFrame(pending), spark.createDataFrame(hosts),
                batch_size, hosts_rows=hosts.num_rows,
            )
            .orderBy("pop_rank").select("url", "seq").collect()
        )
        assert list(zip(got["url"].to_pylist(), got["seq"].to_pylist())) == [
            tuple(r) for r in want
        ]

    check()


HREFS = [
    "https://h1.com/a", "https://h1.com/a/", "HTTPS://H1.com/a#frag", "https://h1.com/priv/x",
    "https://h2.com/x.php", "https://h2.com/x.phpx", "https://h2.com/é\u0085",
    "https://h2.com/ y", "https://h3.com/p", "https://é.com/q", "/relative",
    "https://https://h1.com/twice", "mailto:x@y", "https:/h1.com/bad", "",
]
ROBOTS = [
    ("h1.com", "disallow", "/priv/", 0.0),
    ("h2.com", "disallow", "/*.php$", 0.0),
    ("h2.com", "allow", "/é", 0.0),
    ("h2.com", "disallow", "/*y", 0.0),
    ("h3.com", "crawl-delay", "", 0.0),
]


@pytest.fixture(scope="module")
def admission_engine(spark, tmp_path_factory):
    corpus = spark.createDataFrame(
        [], "url string, host string, status_code int, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "out_links array<string>",
    )
    robots = spark.createDataFrame(
        ROBOTS, "host string, rule_type string, path_prefix string, crawl_delay double"
    )
    hosts = spark.createDataFrame([], HOSTS_DDL)
    eng = CrawlEngine(spark, corpus, robots, hosts, str(tmp_path_factory.mktemp("adm")))
    assert eng._robots_ok is not None
    return eng


def test_driver_admission_matches_admit_links(spark, admission_engine):
    """_admit_links_arrow against _admit_links on the same links, seen
    set and deaths: malformed and robots-blocked hrefs, duplicates across
    and within pages, non-ASCII and U+0085/U+2028 urls, dead urls that
    come back."""
    eng = admission_engine
    canon = ["https://h1.com/a", "https://h1.com/a/", "https://h2.com/x.phpx",
             "https://h3.com/p", "https://é.com/q"]
    settings_ = settings(max_examples=20, deadline=None,
                         suppress_health_check=[HealthCheck.function_scoped_fixture])

    @settings_
    @given(
        st.lists(st.tuples(st.integers(1, 4), st.sampled_from(HREFS)), max_size=24),
        st.sets(st.sampled_from(canon)),
        st.sets(st.sampled_from(canon)),
        st.integers(0, 50),
    )
    def check(links, seen, dead, seq0):
        eng.seq_counter = seq0
        dead = dead & seen
        # (pop_rank, link_pos) order; a page's depth is a function of it
        rows = [
            (rank, pos, rank % 3, href)
            for pos, (rank, href) in enumerate(sorted(links, key=lambda x: x[0]))
        ]
        links_df = spark.createDataFrame(rows, "pop_rank int, link_pos int, depth int, href string")
        pending_df = spark.createDataFrame([(u,) for u in sorted(seen)], "url string")
        fetched_df = spark.createDataFrame([], "url string")
        dead_df = spark.createDataFrame([(u, 0) for u in sorted(dead)], "url string, url_hash long")
        release: list = []
        want_df, _ = eng._admit_links(
            links_df, ["pop_rank", "link_pos"], BATCH, pending_df, fetched_df, release,
            dead=dead_df,
        )
        want = sorted(tuple(r) for r in want_df.select(*FRONTIER_COLS_PENDING).collect())
        for free in release:
            free()
        live = pa.chunked_array([pa.array(sorted(seen - dead), pa.string())])
        got_tbl = eng._admit_links_arrow(
            pa.table({"depth": pa.array([r[2] for r in rows], pa.int32()),
                      "href": pa.array([r[3] for r in rows], pa.string())}),
            live,
        )
        got = sorted(tuple(r.values()) for r in got_tbl.to_pylist())
        assert got == want

    check()


def test_arrow_seen_probe_is_exact():
    from mcp_crawl4ai_rag_spark.operators.dedup import new_urls

    cands = pa.table({"url": ["a", "b", "a", "c", "é\u0085"], "i": [0, 1, 2, 3, 4]})
    seen = pa.chunked_array([["c"], ["zz", "é"]])
    assert new_urls(cands, seen).to_pydict() == {"url": ["a", "b", "é\u0085"], "i": [0, 1, 4]}
