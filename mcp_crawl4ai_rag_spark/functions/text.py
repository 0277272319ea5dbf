"""Text-analysis functions for training-data pipelines.

These extend the reference's surface (it has only keyword ILIKE search,
operations.py:189-198) with the operations a large-scale corpus pipeline
needs: token counting, quality scoring, language ID, fingerprinting.

All pure Column expressions (JVM, whole-stage codegen) so they run at
100 TB without Python in the hot path. Each has an ANSI-SQL twin in
__spark_entry__.oracle_sql for the DuckDB correctness gate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Top English stopwords used by the n-gram language heuristic.
EN_STOPWORD_PATTERN = r"\b(the|and|of|to|in|is|that|for|with|was|are)\b"
PUNCT_PATTERN = r"[.,;:!?]"

# Canonical whitespace class, spelled explicitly so all three regex
# engines in the oracle chain agree exactly: RE2 (DuckDB) defines \s as
# [ \t\n\r\f]; Java (Spark) \s adds \x0B; Python re \s (unicode) adds
# NBSP, \x1c-\x1f, etc. Using the explicit RE2 class everywhere removes
# the latent Java/Python-vs-oracle divergence on \x0B / unicode
# whitespace (ADVICE r4). DuckDB oracles keep writing '\s+' — for RE2
# that IS this class.
WS_CLASS = r"[ \t\n\r\f]"
WS_RUN = WS_CLASS + "+"


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for blank strings."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, WS_RUN, -1))
    )


def punct_ratio(col: Column) -> Column:
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.regexp_count(col, F.lit(PUNCT_PATTERN)).cast("double") / F.length(col)
    )


def stopword_ratio(col: Column) -> Column:
    tokens = token_count(col)
    hits = F.regexp_count(F.lower(col), F.lit(EN_STOPWORD_PATTERN))
    return F.when(tokens == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / tokens.cast("double")
    )


def mean_word_len(col: Column) -> Column:
    tokens = token_count(col)
    chars = F.length(F.regexp_replace(col, WS_RUN, ""))
    return F.when(tokens == 0, F.lit(0.0)).otherwise(
        chars.cast("double") / tokens.cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    sane punctuation + sane mean word length."""
    length_ok = (F.length(col) >= 200) & (F.length(col) <= 50000)
    stop_ok = stopword_ratio(col) >= 0.05
    punct_ok = punct_ratio(col).between(0.001, 0.2)
    word_ok = mean_word_len(col).between(2.0, 12.0)
    return (
        length_ok.cast("double") * 0.25
        + stop_ok.cast("double") * 0.25
        + punct_ok.cast("double") * 0.25
        + word_ok.cast("double") * 0.25
    )


def lang_id(col: Column) -> Column:
    """Cheap language ID: English iff stopword ratio clears a threshold."""
    return F.when(stopword_ratio(col) >= 0.08, F.lit("en")).otherwise(F.lit("other"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), WS_RUN, " "))


def winnow_fingerprints_py(
    text: str, k: int = 8, window: int = 6
) -> list[int]:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    '03 — the MOSS algorithm): polynomial hash over byte k-grams of the
    normalized text, then the minimum hash of each sliding window of
    ``window`` consecutive k-gram hashes (rightmost min wins). Guarantees
    any shared substring of length >= k + window - 1 bytes yields at least
    one shared fingerprint — the local, position-robust complement to the
    global md5 ``fingerprint``.

    Fully numpy-vectorized (one sliding-window matvec per doc, wraparound
    uint64 arithmetic) — ~50x the pure-Python rolling loop, which matters
    because this runs inside a pandas UDF over the whole corpus."""
    import re

    import numpy as np

    # strip(" ") + explicit WS class mirrors the SQL twins' shape
    # TRIM + regexp_replace('\s+') exactly (RE2 \s == [ \t\n\r\f])
    s = re.sub(r"[ \t\n\r\f]+", " ", (text or "").lower().strip(" "))
    b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < k:
        return []
    powers = np.power(
        np.uint64(1000003), np.arange(k - 1, -1, -1, dtype=np.uint64)
    )
    with np.errstate(over="ignore"):
        grams = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
        hashes = (grams * powers[None, :]).sum(axis=1, dtype=np.uint64)
    m = len(hashes)
    if m < window:
        picks = np.array([m - 1 - int(np.argmin(hashes[::-1]))])
    else:
        hw = np.lib.stride_tricks.sliding_window_view(hashes, window)
        # rightmost min per window: argmin over the reversed axis
        rev_arg = np.argmin(hw[:, ::-1], axis=1)
        idx = np.arange(m - window + 1) + (window - 1 - rev_arg)
        keep = np.empty(len(idx), dtype=bool)
        keep[0] = True
        keep[1:] = idx[1:] != idx[:-1]  # drop consecutive repeats
        picks = np.unique(idx[keep])
    return hashes[picks].view(np.int64).tolist()


def make_winnow_udf(k: int = 8, window: int = 6):
    """Pandas UDF: text → array<bigint> winnowing fingerprints."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def winnow(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: winnow_fingerprints_py(t, k, window))

    return winnow


# Document-length cap for the md5 winnow variant: positions must fit the
# oracle's 2^20 pack space (hash * 2^20 + (2^20-1-pos) in one BIGINT).
_WINNOW_POS_BITS = 20


def winnow_fingerprints_md5_py(
    text: str, k: int = 8, window: int = 6, hex_chars: int = 10
) -> list[int]:
    """Winnowing with md5 CHARACTER-k-gram hashes (first ``hex_chars``
    md5 hex chars as an int) over the whitespace-normalized lowercased
    text — same rightmost-window-min selection rule and shared-substring
    guarantee (>= k+window-1 chars) as ``winnow_fingerprints_py``, but
    every step (substr, md5, hex→int, windowed min) is recomputable in
    ANSI SQL, so this variant carries an exact DuckDB oracle twin
    (`dedup_winnow_md5`), exactly as `dedup_simhash_md5` twins the
    blake2b simhash. Returns the DISTINCT fingerprints (sorted) — the
    postings layer dedups (id, fp) anyway and the oracle compares sets.

    40-bit hashes by default: the SQL twin packs hash*2^20 + position
    into one BIGINT for the rightmost-tie rule, so positions are capped
    at 2^20 (docs truncated at ~1M chars; fixtures are KBs). Cross-doc
    hash collisions don't affect the gate — both engines compute the
    same hashes — and at 2^40 space are negligible for dedup signal.

    A pure-Column implementation (transform/sequence/slice + F.md5) was
    tried and measured ~40x SLOWER than this Arrow kernel at sf0.1
    (~90 s vs ~2 s): higher-order-function lambdas are interpreted, not
    codegen'd, and per-gram md5 + per-window slice copies dominate —
    the same lesson as the JVM-hybrid canonicalizer (COVERAGE.md)."""
    import hashlib
    import re

    import numpy as np

    # cap gram count m at 2^20 - 1 (len = m + k - 1), matching the
    # oracle's least(length(t) - k + 1, 1048575) exactly. Normalization
    # mirrors the oracle's lower→TRIM→regexp_replace('\s+') with RE2's
    # ASCII \s == [ \t\n\r\f] (Python unicode \s would diverge on NBSP
    # and \x1c-\x1f — ADVICE r4).
    s = re.sub(r"[ \t\n\r\f]+", " ", (text or "").lower().strip(" "))[
        : (1 << _WINNOW_POS_BITS) - 2 + k
    ]
    if len(s) < k:
        return []
    md5 = hashlib.md5
    nbytes = hex_chars // 2
    hashes = np.fromiter(
        (
            int.from_bytes(md5(s[i : i + k].encode("utf-8")).digest()[:nbytes], "big")
            for i in range(len(s) - k + 1)
        ),
        dtype=np.uint64,
    )
    m = len(hashes)
    if m < window:
        picks = np.array([m - 1 - int(np.argmin(hashes[::-1]))])
    else:
        hw = np.lib.stride_tricks.sliding_window_view(hashes, window)
        # rightmost min per window: argmin over the reversed axis
        rev_arg = np.argmin(hw[:, ::-1], axis=1)
        idx = np.arange(m - window + 1) + (window - 1 - rev_arg)
        picks = np.unique(idx)
    return np.unique(hashes[picks]).astype(np.int64).tolist()


def winnow_fingerprints_md5(
    col: Column, k: int = 8, window: int = 6, hex_chars: int = 10
) -> Column:
    """Column wrapper for ``winnow_fingerprints_md5_py`` (Arrow-batched
    pandas UDF, array<bigint> of distinct fingerprints)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def winnow_md5(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: winnow_fingerprints_md5_py(t, k, window, hex_chars)
        )

    return winnow_md5(col)


def word_shingles(col: Column, k: int = 5) -> Column:
    """Word k-shingles as an array<string> Column — the pure-JVM twin of
    the Python ``_shingle_hashes`` tokenization (operators/dedup.py):
    lowercase, split on whitespace, join each k-token window with single
    spaces. Shorter-than-k texts collapse to one shingle (the whole
    token list); empty/blank texts yield an empty array."""
    toks = F.filter(
        F.split(F.lower(col), WS_RUN, -1), lambda t: F.length(t) > 0
    )
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(1), n - F.lit(k) + 1),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.array_join(toks, " ")))
        .otherwise(windows)
    )


def word_shingle_set(col: Column, k: int = 5) -> Column:
    """Distinct word k-shingles — precompute this per document BEFORE a
    pair join so shingling runs once per doc, not once per pair."""
    return F.array_distinct(word_shingles(col, k))


def jaccard_from_shingle_sets(sa: Column, sb: Column) -> Column:
    """Jaccard over two precomputed shingle-set columns. Both-empty pairs
    score 1.0, one-empty pairs 0.0."""
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return (
        F.when((F.size(sa) == 0) & (F.size(sb) == 0), F.lit(1.0))
        .when((F.size(sa) == 0) | (F.size(sb) == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    )


def ngram_jaccard(a: Column, b: Column, k: int = 5) -> Column:
    """Exact word-k-shingle Jaccard similarity between two text Columns,
    entirely in Column expressions (array_intersect/array_union inside
    whole-stage codegen — no Python in the verify hot path). Matches the
    pandas-UDF kernel ``make_ngram_jaccard_udf`` exactly when blake2b
    shingle-hash collisions are absent (64-bit hashes: negligible).

    Catalyst inlines the shingle subtree into every use site in the
    projection (runtime subexpression elimination dedupes within one
    Project, but the expression still re-evaluates per pair) — in a pair
    join, prefer ``word_shingle_set`` per side + ``jaccard_from_shingle_sets``
    so shingling is O(docs), not O(pairs)."""
    return jaccard_from_shingle_sets(word_shingle_set(a, k), word_shingle_set(b, k))


# PII scrubbing (training-data hygiene): patterns restricted to syntax
# Java regex and RE2 (the DuckDB oracle engine) interpret identically —
# no lookarounds, no backrefs. Order matters: emails before bare hosts,
# IPs before phone digits.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9]{7,15}\b"


def count_pii(col: Column) -> Column:
    """Struct of per-kind PII match counts (emails, ipv4, phones) — the
    audit signal a scrubbing pass reports per document."""
    return F.struct(
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_RE), F.lit(0))).alias("emails"),
        F.size(F.regexp_extract_all(col, F.lit(PII_IPV4_RE), F.lit(0))).alias("ipv4"),
        F.size(F.regexp_extract_all(col, F.lit(PII_PHONE_RE), F.lit(0))).alias("phones"),
    )


def scrub_pii(col: Column) -> Column:
    """Redact emails / IPv4 addresses / +international phone numbers with
    typed placeholder tokens. Pure Column regexp_replace chain — JVM
    whole-stage codegen, no UDF, linear in text size; idempotent (the
    placeholders match none of the patterns)."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def make_unicode_normalize_udf(form: str = "NFC"):
    """Unicode normalization (NFC/NFKC/...) as an Arrow-batched pandas UDF
    — Spark has no normalization builtin; pandas' vectorized
    ``Series.str.normalize`` wraps the same unicodedata tables DuckDB's
    ``nfc_normalize`` implements, so the oracle cross-checks the kernel."""
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("string")
    def norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return norm


def strip_control_chars(col: Column) -> Column:
    """Drop C0 control characters except tab/newline/carriage-return —
    the standard pre-tokenization cleanup; pure Column regexp."""
    return F.regexp_replace(col, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
