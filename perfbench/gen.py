"""Seeded input generators for the benchmark workloads.

Every input is derived from ``random.Random(seed)`` in this file, so the
same seed gives the same web, candidate list and documents, and a change
to the engine's own fixture generators cannot change a workload.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

VOCAB = (
    "crawler frontier politeness token bucket robots sitemap canonical "
    "anchor fetch render parse index shard replica chunk embed vector "
    "cosine keyword hybrid merge rank snapshot manifest compaction delta "
    "window shuffle partition broadcast stage executor driver cache"
).split()
RARE = [f"zq{i:03d}" for i in range(64)]  # low-frequency keyword-query targets

HOT_HOST = "hot.example.com"


def host_names(n_hosts: int) -> list[str]:
    return [HOT_HOST] + [f"s{i:02d}.example.net" for i in range(1, n_hosts)]


def pick_host(rng: random.Random, hosts: list[str]) -> str:
    """One hot host holds about half of all URLs."""
    return hosts[0] if rng.random() < 0.5 else rng.choice(hosts[1:])


def raw_variant(rng: random.Random, url: str) -> str:
    """A raw href that canonicalizes back to ``url``."""
    r = rng.random()
    scheme, rest = url.split("://", 1)
    if r < 0.2:
        host, _, path = rest.partition("/")
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if r < 0.35:
        return url + "/"
    if r < 0.5:
        return url + f"?utm={rng.randrange(100)}&ref=x"
    if r < 0.6:
        return url + "#section-2"
    if r < 0.7:
        return url.replace("/documentation/", "/Documentation/", 1)
    return url


def malformed_variant(rng: random.Random, url: str) -> str:
    """A raw href the malformed filter must reject (keeps the trailing id)."""
    scheme, rest = url.split("://", 1)
    host, _, path = rest.partition("/")
    return rng.choice(
        [
            f"https://evil.example.orghttps://{host}/{path}",
            f"https://{host}/%ef%bb%bf/{path}",
            f"https://{host}/documentation/x/{path}",
            f"https://{host}/{'z' * 210}/{path}",
        ]
    )


# ---------------------------------------------------------------------------
# crawl_loop: a synthetic web
# ---------------------------------------------------------------------------


@dataclass
class Web:
    corpus: dict = field(default_factory=dict)  # url -> page dict
    seeds: list = field(default_factory=list)  # [(raw url, priority)]
    robots: list = field(default_factory=list)  # [(host, rule_type, pattern, delay)]
    budgets: dict = field(default_factory=dict)  # host -> (capacity, refill_rate)


def _spans(rng: random.Random, url: str) -> list[dict]:
    spans: list[dict] = []

    def add(kind: str, text: str, media_ref=None) -> None:
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": len(spans)}
        )

    if rng.random() < 0.5:
        add("text", "breadcrumb line above the title")
    add("heading", f"# {rng.choice(VOCAB).title()} Guide")
    for _ in range(rng.randint(3, 12)):
        r = rng.random()
        if r < 0.15:
            add("media", "", f"media://{url.split('//', 1)[1]}/{len(spans)}")
        elif r < 0.25:
            add("heading", f"## [{rng.choice(VOCAB)}](https://ref/{rng.randrange(9)}) notes")
        elif r < 0.35:
            add("text", f"see ![img](https://img/{rng.randrange(99)}.png) and [this]({url}) page")
        else:
            n = rng.randint(6, 40)
            add("text", " ".join(rng.choice(VOCAB) for _ in range(n)) + ".")
    if rng.random() < 0.2:
        add("heading", rng.choice(["## Topics", "## See Also"]))
        add("text", "text after the terminator heading is dropped")
    return spans


def make_web(seed: int, n_hosts: int = 24, n_pages: int = 3000, n_seeds: int = 200,
             batch_size: int = 128) -> Web:
    """A few thousand pages over ``n_hosts`` hosts with one hot host.

    The hot host's token bucket refills ``batch_size // 4`` tokens a round,
    so its budget binds and the pop takes the budgeted path; every other
    host is unlimited.
    """
    rng = random.Random(seed)
    hosts = host_names(n_hosts)
    urls = []
    for i in range(n_pages):
        host = pick_host(rng, hosts)
        sect = "private" if rng.random() < 0.06 else "documentation"
        urls.append(f"https://{host}/{sect}/{rng.choice(VOCAB)}/{i}")
    by_host: dict[str, list[str]] = {}
    for u in urls:
        by_host.setdefault(u.split("/")[2], []).append(u)

    web = Web()
    for i, url in enumerate(urls):
        host = url.split("/")[2]
        r = rng.random()
        status, spans = 200, None
        if r < 0.05:
            status = rng.choice([403, 404, 410])
        elif r < 0.06:
            spans = [{"kind": "text", "text": "An unknown error occurred.",
                      "media_ref": None, "offset": 0}]
        elif r < 0.08:
            spans = []  # empty content: retried, then dead
        if spans is None:
            spans = _spans(rng, url)
        links = []
        for _ in range(rng.randint(3, 12)):
            pool = by_host[host] if rng.random() < 0.75 else urls
            links.append(raw_variant(rng, rng.choice(pool)))
        if links and rng.random() < 0.3:
            links.append(links[0])  # in-page duplicate
        if rng.random() < 0.1:
            links.append(malformed_variant(rng, rng.choice(urls)))
        if rng.random() < 0.05:
            links.append(f"https://{host}/documentation/gone/{n_pages + i}")  # 404
        if rng.random() < 0.05:
            links.append(f"https://{host}/documentation/{rng.choice(VOCAB)}/{i}/draft")
        web.corpus[url] = {
            "url": url, "host": host, "status_code": status,
            "spans": spans, "out_links": links,
        }

    fetchable = [
        u for u in urls
        if "/private/" not in u and web.corpus[u]["status_code"] == 200
        and web.corpus[u]["spans"]
    ]
    picked = rng.sample(fetchable, min(n_seeds, len(fetchable)))
    web.seeds = [(raw_variant(rng, u), rng.choice([0, 0, 1])) for u in picked]
    web.seeds.append((malformed_variant(rng, picked[0]), 0))

    for h in hosts:
        web.robots.append((h, "disallow", "/private/", 0.0))
        web.robots.append((h, "allow", "/", 0.0))
    web.robots.append((HOT_HOST, "disallow", "/documentation/*/draft$", 0.0))

    cap = float(max(1, batch_size // 4))
    web.budgets = {h: (1e9, 1e9) for h in hosts}
    web.budgets[HOT_HOST] = (cap, cap)
    return web


# ---------------------------------------------------------------------------
# bulk admission (crawl_loop, traced run): one candidate list against a seen set
# ---------------------------------------------------------------------------


@dataclass
class Candidates:
    raw: list = field(default_factory=list)  # raw candidate urls
    base_ids: list = field(default_factory=list)  # base id each candidate derives from
    base_urls: list = field(default_factory=list)  # canonical url of every base id
    seen_ids: list = field(default_factory=list)  # base ids already in the seen set
    robots: list = field(default_factory=list)
    tokens: dict = field(default_factory=dict)  # host -> tokens for the pop


def make_candidates(seed: int, n_candidates: int, n_hosts: int = 24,
                    pop_batch: int = 5000) -> Candidates:
    """About half of the candidates are already seen, about 4% are
    malformed, about 8% are disallowed by robots, and every base URL
    appears about twice in different raw forms."""
    rng = random.Random(seed)
    hosts = host_names(n_hosts)
    n_bases = max(1, n_candidates // 2)
    c = Candidates()
    for i in range(n_bases):
        host = pick_host(rng, hosts)
        sect = "private" if rng.random() < 0.08 else "documentation"
        c.base_urls.append(f"https://{host}/{sect}/{rng.choice(VOCAB)}/{i}")
    c.seen_ids = [i for i in range(n_bases) if rng.random() < 0.5]
    for _ in range(n_candidates):
        i = rng.randrange(n_bases)
        url = c.base_urls[i]
        raw = malformed_variant(rng, url) if rng.random() < 0.04 else raw_variant(rng, url)
        c.raw.append(raw)
        c.base_ids.append(i)
    for h in hosts:
        c.robots.append((h, "disallow", "/private/", 0.0))
        c.robots.append((h, "allow", "/", 0.0))
    c.tokens = {h: 1e9 for h in hosts}
    c.tokens[HOT_HOST] = float(pop_batch // 5)
    return c


def candidate_priority(base_id: int) -> int:
    return base_id % 3


# ---------------------------------------------------------------------------
# rag_ingest_serve: multi-chunk documents and a query mix
# ---------------------------------------------------------------------------


def make_documents(seed: int, n_docs: int, n_hosts: int = 24) -> list[tuple]:
    """(url, fetch_round, seq_in_round, content) rows of 1-4 chunks each."""
    rng = random.Random(seed)
    hosts = host_names(n_hosts)
    rows = []
    for i in range(n_docs):
        url = f"https://{pick_host(rng, hosts)}/documentation/{rng.choice(VOCAB)}/{i}"
        parts = ["breadcrumb line", f"# {rng.choice(VOCAB).title()} {i}"]
        for _ in range(rng.randint(3, 20)):
            if rng.random() < 0.2:
                parts.append(f"## {rng.choice(VOCAB).title()}")
            words = [rng.choice(VOCAB) for _ in range(rng.randint(20, 90))]
            if rng.random() < 0.1:
                words[rng.randrange(len(words))] = rng.choice(RARE)
            parts.append(" ".join(words) + ".")
        rows.append((url, i // 100, i % 100, "\n\n".join(parts)))
    return rows


QUERY_KINDS = ("common", "pair", "rare", "common", "pair", "unknown")


def make_queries(seed: int, n: int) -> list[str]:
    """Single common words (many keyword hits), word pairs (some), rare
    tokens (few) and unknown words (vector tier only). The kinds follow
    the fixed cycle QUERY_KINDS, so every run's first queries have the
    same mix and only the words depend on the seed."""
    rng = random.Random(seed ^ 0x5EED)
    out = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "common":
            out.append(rng.choice(VOCAB))
        elif kind == "pair":
            out.append(f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}")
        elif kind == "rare":
            out.append(rng.choice(RARE))
        else:
            out.append(f"unknownterm{rng.randrange(1000)}")
    return out
