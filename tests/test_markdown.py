"""Markdown post-processing: Column implementation vs Python oracle,
including span-sequence equality (kind, text, media_ref, order)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mcp_crawl4ai_rag_spark.functions import markdown as M

SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)

LINES = [
    "plain text line",
    "# [Title](https://x.com/t) trailing junk",
    "## [Sub](https://x.com/s)",
    "  ### [Indented](u)",
    "text with ![img](https://x.com/i.png) inline image",
    "![only image](https://x.com/i.png)",
    "a [link](https://x.com/l) and [two](https://y.com/2) links",
    "escaped [lnk](https://x.com/a\\)b) paren",
    "## Topics",
    "## See Also",
    "   ## Topics   ",
    "#Topics no space",
    "## topics lowercase",
    "#### [Deep](u) head",
    "[start](u) of line",
    "",
    "no match ](x) [y",
    "![a](b)![c](d)",
    "# plain heading no link",
]


def random_doc(rng: random.Random) -> str:
    n = rng.randint(1, 12)
    return "\n".join(rng.choice(LINES) for _ in range(n))


def test_line_cleaning_matches_oracle(spark):
    rng = random.Random(7)
    docs = [random_doc(rng) for _ in range(300)] + LINES
    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    got = [
        r["c"]
        for r in df.select(M.clean_markdown_text(F.col("text")).alias("c")).collect()
    ]
    for doc, g in zip(docs, got):
        want = "\n".join(M.clean_markdown_line_py(line) for line in doc.split("\n"))
        assert g == want, repr(doc)


def make_spans(rng: random.Random, n: int) -> list[dict]:
    spans = []
    for i in range(n):
        if rng.random() < 0.25:
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": f"media://asset/{i}",
                    "offset": i,
                }
            )
        else:
            spans.append(
                {
                    "kind": rng.choice(["text", "heading", "code"]),
                    "text": random_doc(rng),
                    "media_ref": None,
                    "offset": i,
                }
            )
    return spans


def test_span_cleaning_sequence_equality(spark):
    """Span-sequence equality (kind, text, media_ref, order) — the
    BASELINE.json per-row invariant — between Column impl and oracle."""
    rng = random.Random(11)
    docs = [make_spans(rng, rng.randint(1, 10)) for _ in range(120)]
    df = spark.createDataFrame(
        [(i, [tuple(s.values()) for s in d]) for i, d in enumerate(docs)],
        StructType(
            [StructField("doc_id", IntegerType()), StructField("spans", SPAN_SCHEMA)]
        ),
    )
    out = (
        df.select("doc_id", M.clean_spans(F.col("spans")).alias("spans"))
        .orderBy("doc_id")
        .collect()
    )
    for row, doc in zip(out, docs):
        want = M.clean_spans_py(doc)
        got = [s.asDict() for s in row["spans"]]
        assert len(got) == len(want), f"doc {row['doc_id']}: span count"
        for g, w in zip(got, want):
            assert (g["kind"], g["text"], g["media_ref"], g["offset"]) == (
                w["kind"],
                w["text"],
                w["media_ref"],
                w["offset"],
            ), f"doc {row['doc_id']}"


def test_render_spans(spark):
    rng = random.Random(3)
    doc = make_spans(rng, 8)
    df = spark.createDataFrame(
        [([tuple(s.values()) for s in doc],)],
        StructType([StructField("spans", SPAN_SCHEMA)]),
    )
    got = df.select(M.render_spans_text(F.col("spans")).alias("t")).collect()[0]["t"]
    assert got == M.render_spans_text_py(doc)


def test_truncation_semantics():
    doc = "intro\n## Topics\nafter"
    assert M.post_process_markdown_py(doc) == "intro"
    doc2 = "intro\n  ## See Also  \nafter"
    assert M.post_process_markdown_py(doc2) == "intro"
    doc3 = "keep\n## topics\nalso kept"
    assert M.post_process_markdown_py(doc3) == doc3


# Python's str.isspace() set but the newline: the reference's strip()
# and \s see all of them, Java's \s and Spark's trim only some
WHITESPACE = (
    "\t\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0 "
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "    　"
)
_PIECES = [
    "# ", "## ", "#", "[T](u)", "[a](b\\)c)", "![i](p)", "## See Also", "## Topics",
    "tail", "x", "\n", "\n", "]", "(",
]


def _line_text():
    from hypothesis import strategies as st

    piece = st.one_of(
        st.sampled_from(_PIECES), st.text(alphabet=WHITESPACE + "#[]()!\n", max_size=3)
    )
    return st.lists(piece, max_size=8).map("".join)


def test_whitespace_edge_cases_match_oracle(spark):
    """The cases the Column form got wrong: non-ASCII and control
    whitespace around a terminator, before and inside a heading link,
    and a heading after a Java-only line terminator."""
    lines = [
        "\t## See Also", "## See Also\xa0", "　## See Also", "\x1c## Topics\x1f",
        "\xa0# [T](u) tail", "#\xa0[T](u) tail", " ## [T](u) tail",
        "x\x85# [T](u) tail", "x\r# [T](u) tail", "x ## [T](u) tail",
    ]
    df = spark.createDataFrame([([("text", line, None, 0)],) for line in lines],
                               StructType([StructField("spans", SPAN_SCHEMA)]))
    got = df.select(M.render_spans_text(M.clean_spans(F.col("spans"))).alias("t")).collect()
    for line, row in zip(lines, got):
        want = M.render_spans_text_py(M.clean_spans_py(
            [{"kind": "text", "text": line, "media_ref": None, "offset": 0}]
        ))
        assert row["t"] == want, repr(line)
    assert [r["t"] for r in got[:4]] == [""] * 4


def test_span_cleaning_whitespace_differential(spark):
    """Hypothesis: clean_spans + render_spans_text (Column form) equal
    clean_spans_py + render_spans_text_py over span documents built from
    the whole str.isspace() set, null texts and null kinds included."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    span = st.fixed_dictionaries({
        "kind": st.sampled_from(["text", "media", "heading", None]),
        "text": st.one_of(st.none(), _line_text()),
        "media_ref": st.sampled_from([None, "media://a"]),
        "offset": st.integers(0, 9),
    })
    docs_st = st.lists(st.lists(span, max_size=5), min_size=1, max_size=12)
    schema = StructType([StructField("spans", SPAN_SCHEMA)])

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(docs_st)
    def check(docs):
        df = spark.createDataFrame([([tuple(s.values()) for s in d],) for d in docs], schema)
        cleaned = df.select(M.clean_spans(F.col("spans")).alias("c"))
        rows = cleaned.select("c", M.render_spans_text(F.col("c")).alias("t")).collect()
        for doc, row in zip(docs, rows):
            want = M.clean_spans_py(doc)
            got = [s.asDict() for s in row["c"]]
            assert got == want, doc
            assert row["t"] == M.render_spans_text_py(want), doc

    check()
