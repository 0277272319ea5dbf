"""Differential tests for the fused URL-admission UDF (functions.urls.admit_url).

One Arrow pass returns struct(url, host, path, malformed). Each field must
equal the chain it replaces, on dirty hrefs: nulls, duplicates, non-ASCII,
the five Java line terminators, tab, over-long URLs and repeated
``https://`` / ``/documentation/`` tokens.

- url: canonicalize_url_py (and the canonicalize_url_det UDF);
- malformed: is_malformed_py (and the is_malformed Column predicate);
- host/path: operators.politeness.with_host_and_path of that url;
- the compiled robots predicate over the UDF's host/path: the join+fold
  robots path over with_host_and_path's columns, and robots_allows.

host/path follow the oracle's semantics (the path is the text after the
host, line terminators included), so robots_allows is asserted on every
URL, U+0085, U+2028 and U+2029 included.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.urls import (
    admit_arrow,
    admit_url,
    canonicalize_url_det,
    canonicalize_url_py,
    host_and_path_py,
    is_malformed,
    is_malformed_py,
)
from mcp_crawl4ai_rag_spark.operators.politeness import (
    build_robots_rules,
    compile_robots_predicate,
    robots_allowed,
    with_host_and_path,
)
from mcp_crawl4ai_rag_spark.oracle.simulator import robots_allows

LINE_TERMS = ["\n", "\r", "\u0085", "\u2028", "\u2029"]

piece = st.sampled_from(
    ["/", "//", "a", "B", "/documentation/", "https://", "http://",
     "developer.apple.com", "%ef%bb%bf", "\ufeff", "é", "日本", "\t", ";p",
     "?q=1", "#f", " ", "x" * 120, "private/", "open", ".php"]
    + LINE_TERMS
)
href = st.one_of(
    st.none(),
    st.builds(
        lambda scheme, host, parts: scheme + host + "".join(parts),
        st.sampled_from(["https://", "HTTPS://", "http://", "ftp://", "https:/", "", "1x://"]),
        st.sampled_from(["a.example", "A.Example", "developer.apple.com", "é.example", ""]),
        st.lists(piece, max_size=8),
    ),
)
# duplicates: the first half of every list appears twice
hrefs = st.lists(href, min_size=1, max_size=30).map(lambda xs: xs + xs[: len(xs) // 2])

ROBOTS = [
    ("a.example", "disallow", "/private/", 0.0),
    ("a.example", "allow", "/private/open", 0.0),
    ("a.example", "disallow", "/*.php$", 0.0),
    ("a.example", "disallow", "/x", 0.0),
    ("developer.apple.com", "allow", "/", 0.0),
    ("developer.apple.com", "disallow", "/documentation/x", 0.0),
    ("é.example", "disallow", "/", 0.0),
]

EDGE_CASES = [
    None,
    "https://a.example/x\ny",
    "HTTPS://A.example/private/\r/",
    "https://a.example/x\u2028",
    "https://a.example/private/\u2028x",
    "https://a.example/x\u2029y/\u0085",
    "https://a.example\u2028/private/",
    "https://a.example/\tprivate/",
    "https://a.example/q.php",
    # a '$' rule must not match before a final NEL, and '*' spans one
    "https://a.example/.php\u0085",
    "https://a.example/\u0085.php",
    "https://developer.apple.com/documentation/documentation/a",
    "https://developer.apple.com/documentation/x" + "y" * 200,
    "https://a.example/https://a.example/",
    "https:/a.example/x",
    "https://a.example/%ef%bb%bf",
    "https://é.example/Ü/",
    "",
]


def _want(u):
    """(url, malformed, allowed) from the pure-Python oracles."""
    if u is None:
        return None, True, None
    url = canonicalize_url_py(u)
    return url, is_malformed_py(url), robots_allows(ROBOTS, url)


@settings(max_examples=300, deadline=None)
@given(hrefs)
@example(EDGE_CASES)
def test_admit_arrow_equals_oracles(xs):
    """Kernel only (no Spark): fast-path host/path equal the row-wise
    twin host_and_path_py, url and malformed equal the oracles."""
    got = admit_arrow(pa.array(xs, type=pa.string())).to_pylist()
    for u, g in zip(xs, got):
        url, malformed, _ = _want(u)
        assert g["url"] == url, u
        assert g["malformed"] == malformed, u
        want_hp = (None, None) if url is None else host_and_path_py(url)
        assert (g["host"], g["path"]) == want_hp, u


@settings(max_examples=12, deadline=None)
@given(hrefs)
@example(EDGE_CASES)
def test_admit_url_equals_spark_chain_and_robots(spark, xs):
    """Spark: the UDF's fields equal canonicalize_url_det → is_malformed →
    with_host_and_path, and the compiled robots predicate over its
    host/path columns equals the join+fold path and robots_allows."""
    df = spark.createDataFrame(list(enumerate(xs)), "i long, href string")
    rules = build_robots_rules(
        spark.createDataFrame(
            ROBOTS, "host string, rule_type string, path_prefix string, crawl_delay double"
        )
    )
    compiled = compile_robots_predicate(rules)
    fused = (
        df.select("i", admit_url(F.col("href")).alias("a"))
        .select("i", "a.*")
        .withColumn("allowed", compiled)
    )
    chain = with_host_and_path(
        df.select("i", canonicalize_url_det(F.col("href")).alias("url"))
    ).withColumn("malformed", is_malformed(F.col("url")))
    got = {r["i"]: r for r in fused.collect()}
    ref = {r["i"]: r for r in chain.collect()}
    kept_by_fold = {
        r["i"]
        for r in robots_allowed(chain, prebuilt_rules=rules, try_compile=False)
        .select("i")
        .collect()
    }
    assert set(got) == set(ref) == set(range(len(xs)))
    for i, u in enumerate(xs):
        g, r = got[i], ref[i]
        url, malformed, allowed = _want(u)
        assert g["url"] == r["url"] == url, u
        assert g["malformed"] == malformed, u
        assert (g["host"], g["path"]) == (r["host"], r["path"]), u
        assert g["allowed"] == (i in kept_by_fold), u
        if url is not None:
            assert r["malformed"] == malformed, u
            assert g["allowed"] == allowed, u
