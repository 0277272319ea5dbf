"""Self-test of the benchmark's correctness checkers.

    python3 perfbench/selftest.py

Feeds each checker the oracle's own output (must pass) and deliberately
corrupted copies of it (each must be counted as a failure). Pure Python:
no Spark session is started.
"""

from __future__ import annotations

import copy
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from check import (  # noqa: E402
    admission_oracle,
    check_admission,
    check_crawl,
    check_ingest,
    check_query,
    expected_chunks,
    ingest_plan,
    pop_oracle,
    rag_oracle,
    simulate_crawl,
)
from gen import candidate_priority, make_candidates, make_documents, make_web  # noqa: E402

from mcp_crawl4ai_rag_spark.functions.chunking import chunk_is_valid_py, smart_chunk_text  # noqa: E402
from mcp_crawl4ai_rag_spark.functions.embedding import hash_embed_py  # noqa: E402
from mcp_crawl4ai_rag_spark.functions.urls import host_of_py  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, caught: bool) -> None:
    print(f"{'ok  ' if caught else 'FAIL'} {name}")
    if not caught:
        FAILURES.append(name)


def crawl_cases() -> None:
    web = make_web(seed=5, n_hosts=6, n_pages=300, n_seeds=30, batch_size=24)
    rounds = 3
    sim = simulate_crawl(web, 24, rounds)
    order = [(u, r, s) for u, r, s in sim.crawl_order if u in sim.documents]
    frontier = list(sim.final_states.items())
    docs = [
        (u, sim.documents[u],
         [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sim.doc_spans[u]])
        for u in sim.documents
    ]
    expect("crawl: oracle output passes", check_crawl(sim, order, frontier, docs, rounds) == [])

    swapped = list(order)
    i = next(k for k, o in enumerate(swapped) if o[1] == 2)
    j = next(k for k, o in enumerate(swapped) if o[1] == 2 and k != i)
    (u1, r1, s1), (u2, r2, s2) = swapped[i], swapped[j]
    swapped[i], swapped[j] = (u1, r1, s2), (u2, r2, s1)
    expect("crawl: swapped crawl order fails round 2",
           check_crawl(sim, swapped, frontier, docs, rounds) == [2])
    expect("crawl: missing seen URL fails the last round",
           check_crawl(sim, order, frontier[1:], docs, rounds) == [rounds])
    flipped = [(u, "fetched" if s == "pending" else s) for u, s in frontier]
    expect("crawl: wrong final state fails",
           check_crawl(sim, order, flipped, docs, rounds) == [rounds])
    bad_spans = copy.deepcopy(docs)
    u, content, spans = bad_spans[0]
    bad_spans[0] = (u, content, spans[::-1] if len(spans) > 1 else spans + [("text", "x", None, 9)])
    expect("crawl: wrong span sequence fails",
           check_crawl(sim, order, frontier, bad_spans, rounds) == [rounds])


def admission_cases() -> None:
    stratum, batch = 1, 300
    cands = make_candidates(seed=7, n_candidates=4000, n_hosts=6, pop_batch=batch)
    exp = admission_oracle(cands, stratum)
    admitted = []
    for u in sorted(exp["dedup"]):
        bid = int(u.rsplit("/", 1)[1])
        admitted.append((u, host_of_py(u), candidate_priority(bid), bid))
    popped = pop_oracle(admitted, cands.tokens, batch)
    got = dict(exp)

    def bad(admitted_, popped_, got_=got):
        return check_admission(exp, got_, admitted_, popped_, cands.tokens, batch, stratum)

    expect("admission: oracle output passes", bad(admitted, popped) == [])
    seen_url = cands.base_urls[cands.seen_ids[0]]
    leaked = admitted + [(seen_url, host_of_py(seen_url), 0, cands.seen_ids[0])]
    expect("admission: a seen URL admitted fails dedup", "dedup" in bad(leaked, pop_oracle(leaked, cands.tokens, batch)))
    expect("admission: a duplicate admitted row fails dedup", "dedup" in bad(admitted + admitted[:1], popped))
    expect("admission: a lost URL fails dedup", "dedup" in bad(admitted[1:], pop_oracle(admitted[1:], cands.tokens, batch)))
    expect("admission: reordered pop fails pop", bad(admitted, popped[::-1]) == ["pop"])
    over = [r for r in sorted(admitted, key=lambda r: (-r[2], r[3]))][:batch]
    expect("admission: pop ignoring the host budget fails pop",
           [r[0] for r in over] != popped and bad(admitted, [r[0] for r in over]) == ["pop"])
    wrong_canon = dict(got, canon=set(list(got["canon"])[1:]))
    expect("admission: wrong canonical URLs fail canon", bad(admitted, popped, wrong_canon) == ["canon"])


def rag_cases() -> None:
    docs = make_documents(seed=3, n_docs=60, n_hosts=4)
    plan = ingest_plan(docs, 20)
    batch = plan[0]
    expect("ingest: oracle batch passes",
           check_ingest(batch, {d[0] for d in batch}, expected_chunks(batch)))
    expect("ingest: a wrong chunk count fails",
           not check_ingest(batch, {d[0] for d in batch}, expected_chunks(batch) + 1))
    expect("ingest: a batch of the wrong documents fails",
           not check_ingest(batch, {d[0] for d in plan[1]}, expected_chunks(batch)))

    chunks = [
        (url, chunk) for url, _r, _s, content in docs
        for chunk in smart_chunk_text(content) if chunk_is_valid_py(chunk)
    ]
    # 64 dims takes the sequential-fold oracle, 2560 the matvec one
    for dim in (64, 2560):
        table = pd.DataFrame(
            [(i, url, chunk, np.asarray(hash_embed_py(chunk, dim), np.float32))
             for i, (url, chunk) in enumerate(chunks)],
            columns=["id", "url", "content", "embedding"],
        )
        for q in ("crawler", "vector index", "unknownterm1"):
            want = rag_oracle(table, q, dim=dim)
            tag = f"query {q!r} dim {dim}"
            expect(f"{tag}: oracle result passes", check_query(want, list(want)))
            expect(f"{tag}: reversed result fails", len(want) < 2 or not check_query(want, want[::-1]))
            expect(f"{tag}: a perturbed similarity fails",
                   not check_query(want, [(want[0][0], want[0][1], want[0][2] + 1e-9)] + want[1:]))
            expect(f"{tag}: a wrong tier fails",
                   not check_query(want, [(want[0][0], (want[0][1] + 1) % 3, want[0][2])] + want[1:]))
            expect(f"{tag}: a truncated result fails", not check_query(want, want[:-1]))


def main() -> int:
    crawl_cases()
    admission_cases()
    rag_cases()
    print(f"{len(FAILURES)} checker self-test failures")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
