"""Markdown post-processing over interleaved text+media span documents.

Reference behavior (src/crawler/apple_stealth_crawler.py:322-351), applied
line-by-line to the fetched markdown:

1. strip image links ``![alt](url)`` (line 331),
2. heading link ``# [title](url)...`` → ``# title`` — note the reference
   rebuilds the whole line, discarding any trailing text (lines 334-338),
3. inline link ``[text](url)`` → ``text`` with escape-aware url part
   (line 341),
4. truncate the document at the first cleaned line whose strip() is
   ``## Topics`` or ``## See Also`` (lines 346-347).

The reference *destroys* media (``exclude_all_images=True`` at line 246 plus
the strip at 331). Our span model instead retains media as
``kind='media'`` spans (per BASELINE.json input_hint) and applies the text
cleaning only to text-kind spans; truncation drops every span at/after the
first terminator span regardless of kind.

Two implementations, differential-tested against each other:
- ``clean_spans`` — pure Column expressions (transform/filter over the span
  array; JVM-side, no Python).
- ``clean_spans_py`` / ``post_process_markdown_py`` — Python oracles.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

TERMINATOR_HEADINGS = ("## Topics", "## See Also")

# Java-regex equivalents of the reference's per-line patterns. Because we
# apply them per *span* (which may hold several lines) we forbid newlines
# wherever the reference's per-line application made them impossible.
# Python's ``\s`` and ``str.strip()`` are ``str.isspace()``; within a line
# that is this class (the set minus ``\n``). Java's own ``\s`` and
# Spark's ``trim`` are narrower.
_WS_JAVA = (
    r"[\t\x0B\f\r\x1C-\x1F \x85\xA0\u1680\u2000-\u200A\u2028\u2029\u202F"
    r"\u205F\u3000]"
)
_IMG_PATTERN_JAVA = r"!\[[^\n]*?\]\([^)\n]+\)"
# (?d): only \n ends a line, as in the reference's split("\n"); Java's
# ^ would otherwise also match after \r, U+0085, U+2028 and U+2029
_HEADING_PATTERN_JAVA = (
    rf"(?md)^({_WS_JAVA}*)(#{{1,6}}){_WS_JAVA}*\[([^\n]*?)\]\(([^\n]*?)\)[^\n]*$"
)
# a cleaned line whose strip() is a terminator heading
_TERMINATOR_PATTERN_JAVA = (
    rf"^{_WS_JAVA}*(?:{'|'.join(TERMINATOR_HEADINGS)}){_WS_JAVA}*\z"
)
_INLINE_PATTERN_JAVA = r"\[([^\]\n]+)\]\((?:[^)\\\n]|\\[^\n])*\)"

_IMG_RE = re.compile(r"!\[.*?\]\([^)]+\)")
_HEADING_RE = re.compile(r"^(\s*)(#{1,6})\s*\[(.*?)\]\((.*?)\)")
_INLINE_RE = re.compile(r"\[([^\]]+)\]\((?:[^)\\]|\\.)*\)")


def clean_markdown_line_py(line: str) -> str:
    """Oracle: one line through steps 1-3 (apple_stealth_crawler.py:329-341)."""
    line = _IMG_RE.sub("", line)
    m = _HEADING_RE.match(line)
    if m:
        ws, level, title, _ = m.groups()
        line = f"{ws}{level} {title}"
    return _INLINE_RE.sub(r"\1", line)


def post_process_markdown_py(content: str) -> str:
    """Oracle transcription of _post_process_apple_content (lines 322-351)."""
    if not content:
        return ""
    out = []
    for line in content.split("\n"):
        line = clean_markdown_line_py(line)
        if line.strip() in TERMINATOR_HEADINGS:
            break
        out.append(line)
    return "\n".join(out)


def clean_spans_py(spans: list[dict]) -> list[dict]:
    """Oracle for the span-level cleaning used by the crawl pipeline.

    Text-kind spans get the per-line cleaning; media spans pass through
    untouched; the sequence truncates at the first span whose cleaned,
    stripped text is a terminator heading.
    """
    out = []
    for span in spans:
        # a null text stays null, as in the Column form
        if span["kind"] == "media" or span["text"] is None:
            out.append(dict(span))
            continue
        text = span["text"]
        cleaned_lines = []
        terminated = False
        for line in text.split("\n"):
            line = clean_markdown_line_py(line)
            if line.strip() in TERMINATOR_HEADINGS:
                terminated = True
                break
            cleaned_lines.append(line)
        new = dict(span)
        new["text"] = "\n".join(cleaned_lines)
        out.append(new)
        if terminated:
            break
    return out


# ---------------------------------------------------------------------------
# Column-expression implementation (JVM-side).
# ---------------------------------------------------------------------------

def clean_markdown_text(col: Column) -> Column:
    """Steps 1-3 over a (possibly multi-line) text block.

    Multi-line Java regex with per-line-equivalent character classes; see
    module docstring. Terminator truncation is handled separately because it
    needs line indexing.
    """
    cleaned = F.regexp_replace(col, _IMG_PATTERN_JAVA, "")
    cleaned = F.regexp_replace(cleaned, _HEADING_PATTERN_JAVA, "$1$2 $3")
    return F.regexp_replace(cleaned, _INLINE_PATTERN_JAVA, "$1")


def _truncate_at_terminator(text: Column) -> Column:
    """Drop the terminator line and everything after it (within one block).

    Returns a struct(text, terminated) so the caller can stop the span
    sequence.
    """
    lines = F.split(text, "\n", -1)
    is_term = lambda line: line.rlike(_TERMINATOR_PATTERN_JAVA)  # noqa: E731
    # 1-based index of the first terminator line, NULL if none.
    idx = F.array_min(
        F.zip_with(
            lines,
            F.sequence(F.lit(1), F.size(lines)),
            lambda line, i: F.when(is_term(line), i),
        )
    )
    kept = F.when(idx.isNull(), lines).otherwise(F.slice(lines, 1, idx - 1))
    return F.struct(
        F.array_join(kept, "\n").alias("text"), idx.isNotNull().alias("terminated")
    )


def clean_spans(spans_col: Column) -> Column:
    """Span-array cleaning, pure Column ops.

    spans: array<struct<kind,text,media_ref,offset>> → same type; text spans
    cleaned, sequence truncated at the first terminator span (the span whose
    text contained the terminator keeps its pre-terminator lines).
    """
    cleaned = F.transform(
        spans_col,
        lambda s: F.when(s["kind"] == "media", s).otherwise(
            F.struct(
                s["kind"].alias("kind"),
                _truncate_at_terminator(clean_markdown_text(s["text"]))["text"].alias(
                    "text"
                ),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            )
        ),
    )
    term_flags = F.transform(
        spans_col,
        lambda s: F.when(s["kind"] == "media", F.lit(False)).otherwise(
            _truncate_at_terminator(clean_markdown_text(s["text"]))["terminated"]
        ),
    )
    # index of first terminated span (1-based); keep spans up to & including it
    first_term = F.array_min(
        F.zip_with(
            term_flags,
            F.sequence(F.lit(1), F.greatest(F.size(term_flags), F.lit(1))),
            lambda flag, i: F.when(flag, i),
        )
    )
    return F.when(first_term.isNull(), cleaned).otherwise(
        F.slice(cleaned, 1, first_term)
    )


def render_spans_text(spans_col: Column) -> Column:
    """Render the text channel of a span document (media spans excluded),
    joining span blocks with newlines — the chunker input."""
    return F.array_join(
        F.transform(
            F.filter(spans_col, lambda s: s["kind"] != "media"),
            lambda s: s["text"],
        ),
        "\n",
    )


def render_spans_text_py(spans: list[dict]) -> str:
    """Oracle of render_spans_text: like ``array_join``, it skips null
    texts, and like its ``filter``, spans of null kind."""
    return "\n".join(
        s["text"]
        for s in spans
        if s["kind"] is not None and s["kind"] != "media" and s["text"] is not None
    )
