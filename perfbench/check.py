"""Correctness checkers. Each takes plain Python data collected from the
engine's outputs and returns the operations it finds wrong, so the
self-test can feed a corrupted output through the same code.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

from mcp_crawl4ai_rag_spark.functions.chunking import chunk_is_valid_py, smart_chunk_text
from mcp_crawl4ai_rag_spark.functions.embedding import embed_query_py
from mcp_crawl4ai_rag_spark.functions.urls import (
    canonicalize_url_py,
    host_of_py,
    is_malformed_py,
)
from mcp_crawl4ai_rag_spark.operators.search import BLAS_DIM_THRESHOLD
from mcp_crawl4ai_rag_spark.oracle.simulator import CrawlSimulator, robots_allows

# ---------------------------------------------------------------------------
# crawl_loop
# ---------------------------------------------------------------------------


def simulate_crawl(web, batch_size: int, rounds: int):
    return CrawlSimulator(
        web.corpus,
        web.seeds,
        robots=web.robots,
        host_budgets=web.budgets,
        batch_size=batch_size,
        max_attempts=3,
        max_rounds=rounds,
    ).run()


def check_crawl(sim, order: list, frontier: list, docs: list, rounds: int) -> list[int]:
    """Rounds (1-based) whose output differs from the simulator.

    order: (url, fetch_round, seq_in_round) of fetched pages; frontier:
    (url, state); docs: (url, content, [(kind, text, media_ref, offset)]).
    Crawl order is compared round by round; the URL-seen set, final states
    and span sequences describe the state after the last round and charge
    it when they differ.
    """
    bad = set()
    got_rounds: dict[int, set] = defaultdict(set)
    for url, rnd, seq in order:
        got_rounds[rnd].add((url, seq))
    want_rounds: dict[int, set] = defaultdict(set)
    for url, rnd, seq in sim.crawl_order:
        if url in sim.documents:
            want_rounds[rnd].add((url, seq))
    for rnd in set(got_rounds) | set(want_rounds):
        if got_rounds[rnd] != want_rounds[rnd]:
            bad.add(rnd if 1 <= rnd <= rounds else rounds)
    states = dict(frontier)
    if len(states) != len(frontier) or states != sim.final_states:
        bad.add(rounds)
    got_docs = {url: (content, [tuple(s) for s in spans]) for url, content, spans in docs}
    want_docs = {
        url: (
            sim.documents[url],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sim.doc_spans[url]],
        )
        for url in sim.documents
    }
    if got_docs != want_docs:
        bad.add(rounds)
    return sorted(bad)


# ---------------------------------------------------------------------------
# bulk admission (crawl_loop, traced run)
# ---------------------------------------------------------------------------

STAGES = ("canon", "malformed", "robots", "dedup", "pop")
_ID_RE = re.compile(r"/(\d+)$")


def url_id(url: str) -> int | None:
    m = _ID_RE.search(url)
    return int(m.group(1)) if m else None


def admission_oracle(cands, stratum: int) -> dict:
    """Expected per-stage outputs for the candidates whose base id is in
    stratum 0 (``base_id % stratum == 0``), computed in pure Python."""
    rules: dict[str, list] = defaultdict(list)
    for row in cands.robots:
        rules[row[0]].append(row)
    seen = {cands.base_urls[i] for i in cands.seen_ids}
    canon, kept, allowed = set(), set(), set()
    for raw, bid in zip(cands.raw, cands.base_ids):
        if bid % stratum:
            continue
        cu = canonicalize_url_py(raw)
        canon.add((raw, cu))
        if is_malformed_py(cu):
            continue
        kept.add((raw, cu))
        if robots_allows(rules[host_of_py(cu)], cu):
            allowed.add((raw, cu))
    return {
        "canon": canon,
        "malformed": kept,
        "robots": allowed,
        "dedup": {cu for _raw, cu in allowed if cu not in seen},
    }


def pop_oracle(admitted: list, tokens: dict, batch_size: int) -> list[str]:
    """admitted: (url, host, priority, seq). Per-host budget floor(tokens)
    in (priority DESC, seq ASC) order, then the global top ``batch_size``."""
    taken: dict[str, int] = defaultdict(int)
    eligible = []
    for url, host, prio, seq in sorted(admitted, key=lambda r: (-r[2], r[3])):
        budget = math.floor(tokens.get(host, math.inf))
        if taken[host] < budget:
            taken[host] += 1
            eligible.append(url)
            if len(eligible) == batch_size:
                break
    return eligible


def check_admission(expected: dict, got: dict, admitted: list, popped: list,
                    tokens: dict, batch_size: int, stratum: int) -> list[str]:
    """Stages whose output differs from the oracle.

    got[stage] holds the stratum rows of a stage's output ((raw, url)
    pairs for canon/malformed/robots, urls for dedup) for the stages that
    were materialised; admitted is the whole dedup output and popped the
    pop output ordered by pop_rank.
    """
    bad = [s for s in STAGES[:3] if s in got and got[s] != expected[s]]
    ids = [url_id(u) for u, *_ in admitted]
    in_stratum = {u for (u, *_), i in zip(admitted, ids) if i is not None and i % stratum == 0}
    if (None in ids or len(set(u for u, *_ in admitted)) != len(admitted)
            or in_stratum != expected["dedup"] or got["dedup"] != expected["dedup"]):
        bad.append("dedup")
    if popped != pop_oracle(admitted, tokens, batch_size):
        bad.append("pop")
    return bad


# ---------------------------------------------------------------------------
# rag_ingest_serve
# ---------------------------------------------------------------------------


def ingest_plan(docs: list, batch_docs: int) -> list[list]:
    """The documents each successive ``process_round(limit=batch_docs)``
    must take: newest (fetch_round, seq_in_round) first among the
    unprocessed documents with content."""
    todo = sorted((d for d in docs if d[3]), key=lambda d: (d[1], d[2]), reverse=True)
    return [todo[i:i + batch_docs] for i in range(0, len(todo), batch_docs)]


def expected_chunks(batch: list) -> int:
    return sum(
        1 for d in batch for c in smart_chunk_text(d[3]) if chunk_is_valid_py(c)
    )


def check_ingest(batch: list, got_urls: set, got_chunks: int) -> bool:
    return got_urls == {d[0] for d in batch} and got_chunks == expected_chunks(batch)


def rag_oracle(table, query: str, k: int = 5, dim: int = 64) -> list[tuple]:
    """Numpy/pandas transcription of rag_query(hybrid=True): vector top-2k
    by exact double-precision cosine, keyword top-2k by case-insensitive
    containment in url DESC order, tiered merge, top-k.

    table: pandas frame (id, url, content, embedding). Returns
    [(id, tier, similarity)] in result order.
    """
    q = query.strip()
    qv = np.asarray(embed_query_py(q, dim), dtype=np.float64)
    emb = np.vstack(table["embedding"].to_numpy()).astype(np.float64)
    if dim >= BLAS_DIM_THRESHOLD:
        # the engine's matvec path
        norms = np.linalg.norm(emb, axis=1)
        norms[norms == 0] = 1.0
        sims = emb @ qv / (norms * np.linalg.norm(qv))
    else:
        # the engine folds left to right in double; cumsum is sequential too
        dot = np.cumsum(emb * qv, axis=1)[:, -1]
        nx = np.sqrt(np.cumsum(emb * emb, axis=1)[:, -1])
        ny = np.sqrt(np.cumsum(qv * qv)[-1])
        sims = dot / (nx * ny)
    ids = table["id"].to_numpy()
    urls = table["url"].to_numpy()
    v_order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[: 2 * k]
    hit = table["content"].str.lower().str.contains(q.lower(), regex=False).to_numpy()
    kw_rows = [i for i in range(len(ids)) if hit[i]]
    # url DESC, id ASC
    kw_rows.sort(key=lambda i: ids[i])
    kw_rows.sort(key=lambda i: urls[i], reverse=True)
    k_order = kw_rows[: 2 * k]
    v_rank = {ids[i]: r for r, i in enumerate(v_order, 1)}
    k_rank = {ids[i]: r for r, i in enumerate(k_order, 1)}
    sim_of = {ids[i]: sims[i] for i in v_order}
    rows = []
    for i in set(v_rank) | set(k_rank):
        if i in v_rank and i in k_rank:
            rows.append((0, k_rank[i], i, min(1.0, sim_of[i] * 1.2)))
        elif i in v_rank:
            rows.append((1, v_rank[i], i, sim_of[i]))
        else:
            rows.append((2, k_rank[i], i, 0.5))
    rows.sort()
    return [(i, tier, s) for tier, _r, i, s in rows[:k]]


def check_query(expected: list, got: list) -> bool:
    return len(expected) == len(got) and all(
        e[0] == g[0] and e[1] == g[1] and abs(e[2] - g[2]) <= 1e-12
        for e, g in zip(expected, got)
    )
