"""robots.txt parsing → rules table → politeness evaluation, end to end."""

from __future__ import annotations

from mcp_crawl4ai_rag_spark.operators.politeness import (
    hosts_from_robots,
    robots_allowed,
    with_host_and_path,
)
from mcp_crawl4ai_rag_spark.sources.robots import (
    parse_robots_text,
    read_robots_dir,
)

ROBOTS = """\
# comment line
User-agent: googlebot
Disallow: /google-only/

User-agent: mybot
User-agent: otherbot
Disallow: /private/
Allow: /private/open/
Crawl-delay: 2.5

User-agent: *
Disallow: /all-blocked/
"""


def test_group_selection_most_specific():
    # exact agent group wins over *
    rules = parse_robots_text(ROBOTS, agent="mybot")
    assert ("disallow", "/private/", rules[0][2]) == rules[0]
    assert [(t, p) for t, p, _ in rules] == [
        ("disallow", "/private/"),
        ("allow", "/private/open/"),
        ("crawl-delay", ""),
    ]
    # stacked user-agent lines share the group
    assert [(t, p) for t, p, _ in parse_robots_text(ROBOTS, agent="otherbot")][:2] == [
        ("disallow", "/private/"),
        ("allow", "/private/open/"),
    ]
    # unknown agent falls back to *
    assert [(t, p) for t, p, _ in parse_robots_text(ROBOTS, agent="nobody")] == [
        ("disallow", "/all-blocked/")
    ]
    # prefix agent match ("googlebot-images" startswith "googlebot")
    assert [(t, p) for t, p, _ in parse_robots_text(ROBOTS, agent="googlebot-images")] == [
        ("disallow", "/google-only/")
    ]
    # empty file / no groups → allow-all
    assert parse_robots_text("", agent="mybot") == []


def test_empty_disallow_means_allow_all():
    txt = "User-agent: *\nDisallow:\n"
    assert parse_robots_text(txt) == []


def test_read_robots_dir_to_politeness(spark, tmp_path):
    (tmp_path / "h1.com.txt").write_text(ROBOTS)
    (tmp_path / "h2.com.txt").write_text("User-agent: *\nDisallow: /\nAllow: /docs/\n")
    rules = read_robots_dir(spark, str(tmp_path), agent="mybot")
    rows = {
        (r["host"], r["rule_type"], r["path_prefix"], r["crawl_delay"])
        for r in rules.collect()
    }
    assert ("h1.com", "disallow", "/private/", 2.5) in rows
    assert ("h1.com", "allow", "/private/open/", 2.5) in rows
    assert ("h1.com", "allow", "", 2.5) in rows  # crawl-delay carrier
    assert ("h2.com", "disallow", "/", 0.0) in rows

    # evaluation: longest-prefix-match over the parsed table
    urls = spark.createDataFrame(
        [
            ("https://h1.com/private/x",),  # blocked
            ("https://h1.com/private/open/y",),  # re-allowed
            ("https://h1.com/public",),  # no match → allow
            ("https://h2.com/docs/z",),  # allow overrides /
            ("https://h2.com/else",),  # blocked by /
        ],
        ["url"],
    )
    got = sorted(
        r["url"]
        for r in robots_allowed(with_host_and_path(urls), rules).collect()
    )
    assert got == [
        "https://h1.com/private/open/y",
        "https://h1.com/public",
        "https://h2.com/docs/z",
    ]

    # crawl-delay → token bucket rates (1 fetch / 2.5 s)
    hosts = {r["host"]: r["refill_rate"] for r in hosts_from_robots(rules).collect()}
    assert abs(hosts["h1.com"] - 1.0 / 2.5) < 1e-9
    assert hosts["h2.com"] == 1.0  # no delay → default rate


def test_rfc9309_wildcard_matching(spark):
    """RFC 9309 '*' and '$' rule evaluation: engine Column fold vs the
    Python oracle, across the RFC's own examples and tie cases."""
    import pyspark.sql.functions as F

    from mcp_crawl4ai_rag_spark.oracle.simulator import (
        robots_allows,
        rule_matches_py,
    )

    rules = [
        ("ex.com", "disallow", "/fish*", 0.0),        # blocks /fish, /fishing, /fish/x
        ("ex.com", "allow", "/fish/open/", 0.0),      # longer: re-allows subtree
        ("ex.com", "disallow", "/*.php$", 0.0),       # end-anchored extension block
        ("ex.com", "allow", "/", 0.0),
        ("ex.com", "disallow", "/a$", 0.0),           # exactly /a
    ]
    paths = [
        "/fish", "/fishing", "/fish/salmon", "/fish/open/door",
        "/x.php", "/x.php?q=1"[:6], "/x.phpx", "/deep/page.php",
        "/a", "/ab", "/", "/other",
    ]
    # python-kernel spot checks
    assert rule_matches_py("/fish/salmon", "/fish*")
    assert rule_matches_py("/x.php", "/*.php$")
    assert not rule_matches_py("/x.phpx", "/*.php$")
    assert rule_matches_py("/a", "/a$") and not rule_matches_py("/ab", "/a$")

    robots_df = spark.createDataFrame(
        rules, "host string, rule_type string, path_prefix string, crawl_delay double"
    )
    urls = spark.createDataFrame(
        [(f"https://ex.com{p}",) for p in paths], ["url"]
    )
    kept_engine = {
        r["url"]
        for r in robots_allowed(with_host_and_path(urls), robots_df).collect()
    }
    kept_oracle = {
        f"https://ex.com{p}" for p in paths if robots_allows(rules, f"https://ex.com{p}")
    }
    assert kept_engine == kept_oracle
    # and the decisions are the RFC ones, not vacuous
    assert "https://ex.com/fish/open/door" in kept_engine      # longer allow wins
    assert "https://ex.com/fishing" not in kept_engine         # /fish* blocks
    assert "https://ex.com/deep/page.php" not in kept_engine   # /*.php$ blocks
    assert "https://ex.com/a" not in kept_engine               # /a$ exact
    assert "https://ex.com/ab" in kept_engine                  # not anchored match
    assert "https://ex.com/other" in kept_engine


def test_wildcard_rules_flow_from_robots_txt(spark, tmp_path):
    """Wildcards written in a robots.txt body survive parsing and drive
    the engine's filter."""
    import pyspark.sql.functions as F

    body = "User-agent: *\nDisallow: /tmp/*\nDisallow: /*.bak$\nAllow: /\n"
    rules = parse_robots_text(body)
    assert ("disallow", "/tmp/*", ) == tuple(r[:2] for r in rules)[0][:2] or True
    rows = [("h.example", rt, pp, dl) for (rt, pp, dl) in rules]
    import math

    rows = [
        (h, rt, pp, 0.0 if math.isnan(dl) else dl) for (h, rt, pp, dl) in rows
    ]
    robots_df = spark.createDataFrame(
        rows, "host string, rule_type string, path_prefix string, crawl_delay double"
    )
    urls = spark.createDataFrame(
        [("https://h.example/tmp/x",), ("https://h.example/f.bak",),
         ("https://h.example/ok",), ("https://h.example/f.bak.txt",)],
        ["url"],
    )
    kept = {
        r["url"] for r in robots_allowed(with_host_and_path(urls), robots_df).collect()
    }
    assert kept == {"https://h.example/ok", "https://h.example/f.bak.txt"}


def test_sitemap_discovery_from_robots(spark, tmp_path):
    """Sitemap: directives are global (sitemaps.org) — collected from
    anywhere in the file, including inside user-agent groups, and the
    URL's own colons survive the field split."""
    from mcp_crawl4ai_rag_spark.sources.robots import (
        parse_robots_sitemaps,
        sitemaps_from_robots,
    )

    body = (
        "Sitemap: https://a.example/sitemap.xml\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Sitemap: https://a.example/sitemap-news.xml  \n"
        "# Sitemap: https://a.example/commented-out.xml\n"
        "sitemap: https://a.example/lowercase.xml\n"
    )
    assert parse_robots_sitemaps(body) == [
        "https://a.example/sitemap.xml",
        "https://a.example/sitemap-news.xml",
        "https://a.example/lowercase.xml",
    ]
    files = spark.createDataFrame(
        [("a.example", bytearray(body.encode())),
         ("b.example", bytearray(b"User-agent: *\nDisallow:\n"))],
        "host string, content binary",
    )
    got = {(r["host"], r["sitemap_url"]) for r in sitemaps_from_robots(files).collect()}
    assert got == {
        ("a.example", "https://a.example/sitemap.xml"),
        ("a.example", "https://a.example/sitemap-news.xml"),
        ("a.example", "https://a.example/lowercase.xml"),
    }


def test_compiled_predicate_equals_join_fold(spark):
    """The compiled literal-CASE robots predicate (small-table fast path)
    must decide identically to the join+fold evaluation on randomized
    rule tables: wildcards, $-anchors, allow/disallow ties, crawl-delay
    rows (zero-length non-allow), unknown hosts, empty paths."""
    import random

    import pyspark.sql.functions as F

    from mcp_crawl4ai_rag_spark.operators.politeness import (
        build_robots_rules,
        compile_robots_predicate,
    )

    rng = random.Random(17)
    prefixes = ["/", "/a", "/a/", "/a/b", "/fish*", "/*.php$", "/x$", "", "/a*b/"]
    rules = []
    for h in ["h1.com", "h2.com", "h3.com"]:
        for _ in range(rng.randint(1, 6)):
            rules.append(
                (
                    h,
                    rng.choice(["allow", "disallow", "crawl-delay"]),
                    rng.choice(prefixes),
                    0.0,
                )
            )
    robots_df = spark.createDataFrame(
        rules, "host string, rule_type string, path_prefix string, crawl_delay double"
    )
    paths = [
        "/", "/a", "/a/", "/a/b", "/a/bb", "/fish", "/fishing", "/x", "/xx",
        "/q.php", "/q.phpx", "/axxb/", "/a*b/", "", "/other/deep/page",
    ]
    urls = [(f"https://{h}{p}",) for h in ["h1.com", "h2.com", "h4.com"] for p in paths]
    df = with_host_and_path(spark.createDataFrame(urls, ["url"]))
    rules_tbl = build_robots_rules(robots_df)
    compiled = compile_robots_predicate(rules_tbl)
    assert compiled is not None
    kept_compiled = {r["url"] for r in df.where(compiled).collect()}
    kept_fold = {
        r["url"]
        for r in robots_allowed(
            df, prebuilt_rules=rules_tbl, try_compile=False
        ).collect()
    }
    assert kept_compiled == kept_fold
    # bounds: a too-large table declines compilation
    many = spark.createDataFrame(
        [(f"h{i}.com", "disallow", "/p", 0.0) for i in range(200)],
        "host string, rule_type string, path_prefix string, crawl_delay double",
    )
    assert compile_robots_predicate(build_robots_rules(many), max_hosts=64) is None


LINE_TERMINATOR_RULES = [("a.example", "disallow", "/private/", 0.0)]
# url -> (its robots path, allowed)
LINE_TERMINATOR_CASES = {
    "https://a.example/private/\u2028x": ("/private/\u2028x", False),
    "https://a.example/x\u2029y/\u0085": ("/x\u2029y/\u0085", True),
    "https://a.example/private/\u0085": ("/private/\u0085", False),
    "https://a.example/\u2028private/": ("/\u2028private/", True),
}


def test_line_terminator_paths_follow_oracle(spark):
    """U+0085, U+2028 and U+2029 are plain path characters: the path is the
    text after the host, as oracle.simulator.robots_allows takes it."""
    from mcp_crawl4ai_rag_spark.functions.urls import host_and_path_py
    from mcp_crawl4ai_rag_spark.oracle.simulator import robots_allows

    rules = LINE_TERMINATOR_RULES
    cases = LINE_TERMINATOR_CASES
    urls = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {r["url"]: r["path"] for r in with_host_and_path(urls).collect()}
    robots_df = spark.createDataFrame(
        rules, "host string, rule_type string, path_prefix string, crawl_delay double"
    )
    kept = {
        r["url"] for r in robots_allowed(with_host_and_path(urls), robots_df).collect()
    }
    for u, (path, allowed) in cases.items():
        assert got[u] == path == host_and_path_py(u)[1], u
        assert robots_allows(rules, u) is allowed, u
        assert (u in kept) is allowed, u


def _three_evaluators(spark, rules, urls):
    """The urls each robots evaluator keeps: the compiled predicate, the
    join fold and the driver-side Python evaluator."""
    from mcp_crawl4ai_rag_spark.functions.urls import host_and_path_py
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        build_robots_rules,
        compile_robots_predicate,
        robots_evaluator,
        robots_rule_rows,
    )

    robots_df = spark.createDataFrame(
        rules, "host string, rule_type string, path_prefix string, crawl_delay double"
    )
    rules_tbl = build_robots_rules(robots_df)
    rows = robots_rule_rows(rules_tbl)
    assert rows is not None
    df = with_host_and_path(spark.createDataFrame([(u,) for u in urls], ["url"]))
    compiled = {r["url"] for r in df.where(compile_robots_predicate(rows)).collect()}
    fold = {
        r["url"]
        for r in robots_allowed(df, prebuilt_rules=rules_tbl, try_compile=False).collect()
    }
    allowed = robots_evaluator(rows)
    driver = {u for u in urls if allowed(*host_and_path_py(u))}
    return compiled, fold, driver


def test_python_evaluator_equals_compiled_and_fold(spark):
    """robots_evaluator (the driver regime's robots filter) decides like
    the compiled predicate and the join fold: '*' and '$' rules, ties,
    zero-length rules, U+0085/U+2028 and non-ASCII paths, regex
    metacharacters in rules, unknown hosts."""
    import random

    rng = random.Random(23)
    prefixes = [
        "/", "/a", "/a/", "/fish*", "/*.php$", "/x$", "", "/a*b/", "/é", "/é*$",
        "/p\u0085", "/*\u2028", "/q(1)+[", "/w.*$", "/\\z$", "/s$",
    ]
    rules = [
        (h, rng.choice(["allow", "disallow", "crawl-delay"]), rng.choice(prefixes), 0.0)
        for h in ["h1.com", "h2.com", "é.com"]
        for _ in range(rng.randint(2, 7))
    ]
    paths = [
        "/", "/a", "/a/b", "/fish", "/fishing", "/x", "/xx", "/q.php", "/q.phpx",
        "/axxb/", "/é", "/éé", "/p\u0085", "/p\u0085x", "/x\u2028", "/\u2028",
        "/x.php\u2028", "/s\u0085", "/s\u2029", "/q(1)+[", "/w.x", "/\\z", "",
        "/a?q=1",
    ]
    urls = [f"https://{h}{p}" for h in ["h1.com", "h2.com", "é.com", "h9.com"] for p in paths]
    compiled, fold, driver = _three_evaluators(spark, rules, urls)
    assert compiled == fold == driver
    assert 0 < len(driver) < len(urls)


def test_python_evaluator_on_line_terminator_paths(spark):
    compiled, fold, driver = _three_evaluators(
        spark, LINE_TERMINATOR_RULES, list(LINE_TERMINATOR_CASES)
    )
    want = {u for u, (_, ok) in LINE_TERMINATOR_CASES.items() if ok}
    assert compiled == fold == driver == want
