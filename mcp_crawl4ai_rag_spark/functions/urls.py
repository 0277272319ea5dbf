"""URL canonicalization, validation, routing, hashing.

Semantics matched to the reference (file:line cites into /root/reference):

- canonicalize: lowercase scheme + netloc + *path* (a reference-specific
  quirk we preserve for URL-seen-set equality), strip trailing '/' from the
  path, drop query + fragment — src/crawler/core.py:157-169.
- malformed filter — src/crawler/core.py:171-188.
- scope filter (allow-prefix) — src/crawler/core.py:75,212-215,444.
- error-page predicate — src/crawler/core.py:78-82,190-205.
- URL-kind router (web vs media) — src/database/operations.py:144-145,
  youtube_subtitles_extractor/youtube_processor.py:66-76.

The canonicalizer is a vectorized Arrow UDF; ``admit_url`` fuses it with
the malformed check and the host/path split for URL admission. The other
predicates are pure Column expressions (JVM-side, whole-stage codegen).
"""

from __future__ import annotations

from urllib.parse import urlparse, urlunparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

APPLE_DOCS_PREFIX = "https://developer.apple.com/documentation/"
PERMANENT_ERROR_CODES = (403, 404, 410)
HTTP_200_ERROR_PATTERN = "An unknown error occurred."


# ---------------------------------------------------------------------------
# Pure-Python oracles (used by tests and the sequential crawl simulator).
# ---------------------------------------------------------------------------

def canonicalize_url_py(url: str) -> str:
    """Oracle transcription of core.py:157-169 semantics."""
    parsed = urlparse(url)
    return urlunparse(
        parsed._replace(
            scheme=parsed.scheme.lower(),
            netloc=parsed.netloc.lower(),
            path=parsed.path.rstrip("/").lower(),
            query="",
            fragment="",
        )
    )


def is_malformed_py(url: str) -> bool:
    """Oracle transcription of core.py:171-188 (True = reject)."""
    return any(
        [
            url.count("https://") > 1 or url.count("http://") > 1,
            "%ef%bb%bf" in url or "﻿" in url,
            url.count("/documentation/") > 1,
            "https:/" in url and not url.startswith("https://"),
            len(url) > 200,
            url.count("developer.apple.com") > 1,
        ]
    )


def host_of_py(url: str) -> str:
    return urlparse(url).netloc.lower()


# ---------------------------------------------------------------------------
# Spark-side implementations.
# ---------------------------------------------------------------------------

_SIMPLE_URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?[^#]*)?(?:#.*)?$"

import re as _re

_SIMPLE_URL_RE_C = _re.compile(_SIMPLE_URL_RE)
# urlsplit deletes tab, CR and LF anywhere in the URL before parsing, so
# rows holding one before the query must take the oracle itself
_URLSPLIT_REMOVES = _re.compile(r"[\t\r\n]")


def _canonicalize_slow(u: str) -> str:
    """Row-wise canonicalizer for rows outside the Arrow kernel's numpy
    fast path (non-ASCII bytes, ';', tab/CR/LF, empty netloc, odd shapes).
    Simple-shape rows (regex match, a netloc, no ';' in the path group, no
    tab/CR/LF before the query) use the lower/rstrip formula; everything
    else the urlparse oracle — so the total function equals
    canonicalize_url_py."""
    m = _SIMPLE_URL_RE_C.match(u)
    if (
        m and m.group(2) and ";" not in m.group(3)
        and not _URLSPLIT_REMOVES.search(u, 0, m.end(3))
    ):
        return (
            m.group(1).lower() + "://" + m.group(2).lower()
            + m.group(3).rstrip("/").lower()
        )
    return canonicalize_url_py(u)


# with_host_and_path's scheme prefix
_SCHEME_PREFIX_RE = _re.compile(r"[a-z][a-z0-9+.\-]*://")


def host_and_path_py(url: str) -> tuple[str, str]:
    """Python twin of operators.politeness.with_host_and_path: host is the
    text between the ``scheme://`` prefix and the next '/', path the rest.
    No ``[a-z]``-led scheme prefix ⇒ ("", "")."""
    m = _SCHEME_PREFIX_RE.match(url)
    if m is None:
        return "", ""
    rest = url[m.end():]
    host = rest.partition("/")[0]
    return host, rest[len(host):]


# byte-class lookup tables for the Arrow kernel
_SCHEME_OK = np.zeros(256, dtype=bool)
_SCHEME_OK[np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789+.-",
    dtype=np.uint8,
)] = True
_ALPHA = np.zeros(256, dtype=bool)
_ALPHA[np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ", dtype=np.uint8
)] = True
_TO_LOWER = np.arange(256, dtype=np.uint8)
_TO_LOWER[65:91] += 32


def _first_per_row(positions: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Map sorted global byte ``positions`` to rows via ``offsets`` and
    keep the first position per row. Returns (row_idx, pos) pairs."""
    if len(positions) == 0:
        return positions, positions
    rows = np.searchsorted(offsets, positions, side="right") - 1
    first = np.ones(len(rows), dtype=bool)
    first[1:] = rows[1:] != rows[:-1]
    return rows[first], positions[first]


def _lower_slices(data: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> pa.Array:
    """String array of lowercased ``data[start:end]`` byte slices."""
    lens = ends - starts
    cum = np.concatenate(([0], np.cumsum(lens)))
    gather = np.repeat(starts - cum[:-1], lens) + np.arange(int(cum[-1]))
    return pa.StringArray.from_buffers(
        len(lens),
        pa.py_buffer(cum.astype(np.int32).tobytes()),
        pa.py_buffer(_TO_LOWER[data[gather]].tobytes()),
    )


class _Split:
    """The canonicalizer's row split: fast rows (``fidx``) with their byte
    bounds — scheme start, netloc start/end, canonical end — and the
    remaining non-null rows (``hidx``) with their raw values."""

    def __init__(self, arr: pa.Array):
        if isinstance(arr, pa.ChunkedArray):
            arr = (
                arr.chunk(0)
                if arr.num_chunks == 1
                else pa.concat_arrays(arr.chunks)
                if arr.num_chunks
                else pa.array([], type=pa.string())
            )
        n = self.n = len(arr)
        self.null_mask = arr.is_null().to_numpy(zero_copy_only=False)
        if n == 0:
            self.fidx = self.hidx = np.empty(0, dtype=np.int64)
            self.start = self.netloc = self.netloc_end = self.end = self.fidx
            self.hard = []
            return
        off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
        offs = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
            arr.offset : arr.offset + n + 1
        ].astype(np.int64)
        data = self.data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        lo, hi = int(offs[0]), int(offs[-1])
        view = data[lo:hi]

        s, e = offs[:-1], offs[1:]

        # first "://" per row (bounded inside the row)
        if len(view) >= 3:
            m = (view[:-2] == 58) & (view[1:-1] == 47) & (view[2:] == 47)
            cand = np.flatnonzero(m) + lo
        else:
            cand = np.empty(0, dtype=np.int64)
        crow = np.searchsorted(offs, cand, side="right") - 1
        ok = cand + 3 <= e[crow]
        cand, crow = cand[ok], crow[ok]
        first = np.ones(len(crow), dtype=bool)
        first[1:] = crow[1:] != crow[:-1]
        colon = np.full(n, -1, dtype=np.int64)
        colon[crow[first]] = cand[first]

        # cut = first '?' or '#' per row (none can precede the colon on rows
        # that pass the scheme check — '?'/'#' are not scheme chars)
        cut = e.copy()
        qrow, qpos = _first_per_row(np.flatnonzero((view == 63) | (view == 35)) + lo, offs)
        cut[qrow] = qpos

        has = colon >= 0
        colon_c = np.where(has, colon, s)  # clamp for safe indexing
        alpha_ok = np.zeros(n, dtype=bool)
        nz = e > s
        alpha_ok[nz] = _ALPHA[data[s[nz]]]

        # ';' (urlparse params), tab/CR/LF (deleted by urlsplit) and
        # non-ASCII bytes are rare: count-in-range via sparse position
        # lists + searchsorted instead of full-buffer prefix sums
        odd_pos = np.flatnonzero(
            (view == 59) | (view == 9) | (view == 10) | (view == 13)
        ) + lo
        na_pos = np.flatnonzero(view >= 128) + lo
        no_odd = np.searchsorted(odd_pos, cut) == np.searchsorted(odd_pos, s)
        all_ascii = np.searchsorted(na_pos, cut) == np.searchsorted(na_pos, s)

        # scheme charset check: gather just the scheme bytes (schemes are a
        # few bytes per row; cap 64 — longer prefixes go to the slow path)
        sch_len = colon_c - s
        sidx = np.flatnonzero(has & (sch_len > 0) & (sch_len <= 64))
        scheme_ok = np.zeros(n, dtype=bool)
        if len(sidx):
            L = sch_len[sidx]
            cumL = np.concatenate(([0], np.cumsum(L)))
            g = np.repeat(s[sidx] - cumL[:-1], L) + np.arange(int(cumL[-1]))
            badcum = np.concatenate(([0], np.cumsum(~_SCHEME_OK[data[g]])))
            scheme_ok[sidx] = badcum[cumL[1:]] == badcum[cumL[:-1]]

        # netloc end = first '/' at/after colon+3 (else cut)
        slashes = np.flatnonzero(view == 47) + lo
        j = np.searchsorted(slashes, colon_c + 3, side="left")
        j = np.minimum(j, max(len(slashes) - 1, 0))
        ne = cut.copy()
        if len(slashes):
            sl = slashes[j]
            in_row = (sl >= colon_c + 3) & (sl < cut)
            ne = np.where(in_row, sl, cut)
        # an empty netloc leaves the fast path: urlunparse then keeps '//'
        # only for the schemes in urllib's uses_netloc
        fast = (
            ~self.null_mask & has & alpha_ok & scheme_ok & all_ascii & no_odd
            & (ne > colon_c + 3)
        )

        # strip trailing '/' of the path, never past the netloc end: if the
        # byte at cut-1 is a slash, rewind to the start of its run (slash
        # runs derived from the sparse slash-position list)
        if len(slashes):
            brk = np.concatenate(([True], np.diff(slashes) != 1))
            run_start = slashes[brk][np.cumsum(brk) - 1]  # per slash
            ci = np.searchsorted(slashes, cut - 1, side="left")
            cic = np.minimum(ci, len(slashes) - 1)
            ends_in_slash = slashes[cic] == cut - 1
            new_end = np.where(ends_in_slash, np.maximum(ne, run_start[cic]), cut)
        else:
            new_end = cut.copy()
        new_end = np.maximum(np.minimum(new_end, cut), ne)

        fidx = self.fidx = np.flatnonzero(fast)
        self.start, self.netloc = s[fidx], colon_c[fidx] + 3
        self.netloc_end, self.end = ne[fidx], new_end[fidx]
        # hard rows: row-wise historical kernel (rare on real URL streams)
        self.hidx = np.flatnonzero(~fast & ~self.null_mask)
        self.hard = (
            arr.take(pa.array(self.hidx, type=pa.int64())).to_pylist()
            if len(self.hidx) else []
        )

    def fast_slices(self, starts: np.ndarray, ends: np.ndarray) -> pa.Array:
        if len(self.fidx) == 0:
            return pa.array([], type=pa.string())
        return _lower_slices(self.data, starts, ends)

    def combine(self, fast_arr: pa.Array, hard_vals: list) -> pa.Array:
        """One output array in input row order: fast values at ``fidx``,
        ``hard_vals`` at ``hidx``, null at null rows."""
        n = self.n
        if len(self.fidx) == n:
            return fast_arr
        combined = pa.concat_arrays([fast_arr, pa.array(hard_vals, type=pa.string())])
        if len(combined) == 0:
            return pa.nulls(n, pa.string())
        perm = np.empty(n, dtype=np.int64)
        perm[self.fidx] = np.arange(len(self.fidx))
        perm[self.hidx] = len(self.fidx) + np.arange(len(self.hidx))
        perm[self.null_mask] = 0  # masked out below
        return combined.take(pa.array(perm, type=pa.int64(), mask=self.null_mask))


def canonicalize_arrow(arr: pa.Array) -> pa.Array:
    """Byte-level vectorized canonicalizer over an Arrow string array.

    Fast path (pure numpy over the Arrow data buffer, no per-row Python):
    ASCII URLs of the common scheme://netloc/path[?query][#fragment]
    shape with a netloc and no ';', tab, CR or LF before the cut. For those
    the oracle semantics collapse to: lowercase everything before the
    first '?'/'#', then strip trailing '/' down to (not past) the netloc
    end. Everything else — no '://', non-scheme chars before it, non-ASCII
    bytes, ';' (urlparse params), tab/CR/LF (deleted by urlsplit), an
    empty netloc — falls back row-wise to the urlparse oracle, so output
    is identical to canonicalize_url_py for EVERY input
    (differential-tested in tests/test_urls.py / test_properties.py /
    test_admit_urls.py).
    """
    sp = _Split(arr)
    return sp.combine(
        sp.fast_slices(sp.start, sp.end), [_canonicalize_slow(v) for v in sp.hard]
    )


def canonicalize_batch(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalizer kernel (pandas wrapper around the Arrow
    kernel — kept as the differential-test surface)."""
    arr = pa.Array.from_pandas(urls, type=pa.string())
    return canonicalize_arrow(arr).to_pandas()


def malformed_arrow(urls: pa.Array) -> pa.Array:
    """is_malformed_py over an Arrow string array (True = reject); a null
    URL is rejected too. ``count_substring`` counts non-overlapping
    occurrences, as ``str.count`` does."""

    def twice(token: str):
        return pc.greater(pc.count_substring(urls, token), 1)

    bad = pc.or_(twice("https://"), twice("http://"))
    for flag in (
        pc.match_substring(urls, "%ef%bb%bf"),
        pc.match_substring(urls, "\ufeff"),
        twice("/documentation/"),
        pc.and_(
            pc.match_substring(urls, "https:/"),
            pc.invert(pc.starts_with(urls, "https://")),
        ),
        pc.greater(pc.utf8_length(urls), 200),
        twice("developer.apple.com"),
    ):
        bad = pc.or_(bad, flag)
    return pc.fill_null(bad, True)


ADMIT_FIELDS = ("url", "host", "path", "malformed")


def admit_arrow(arr: pa.Array) -> pa.StructArray:
    """URL admission in one vectorised pass over raw hrefs:
    ``struct(url, host, path, malformed)`` with ``url`` =
    canonicalize_arrow, ``host``/``path`` = with_host_and_path of that
    url and ``malformed`` = is_malformed_py of it (null href ⇒ null
    url/host/path, malformed). Fast rows take host and path from the
    canonicalizer's own byte bounds; the rest go through
    host_and_path_py."""
    sp = _Split(arr)
    hard_urls = [_canonicalize_slow(v) for v in sp.hard]
    hard_hp = [host_and_path_py(u) for u in hard_urls]
    url = sp.combine(sp.fast_slices(sp.start, sp.end), hard_urls)
    host = sp.combine(
        sp.fast_slices(sp.netloc, sp.netloc_end), [h for h, _ in hard_hp]
    )
    path = sp.combine(sp.fast_slices(sp.netloc_end, sp.end), [p for _, p in hard_hp])
    return pa.StructArray.from_arrays(
        [url, host, path, malformed_arrow(url)], names=list(ADMIT_FIELDS)
    )


@arrow_udf(StringType())
def _canonicalize_url_udf(urls: pa.Array) -> pa.Array:
    """Vectorized canonicalizer (Arrow batch in/out, no pandas boundary)."""
    return canonicalize_arrow(urls)


# Non-deterministic flag (value is fully deterministic): stops the
# optimizer's pushed-down-filter copy of the UDF — a filter on the canon
# output otherwise evaluates the whole canonicalize (and everything
# feeding it) TWICE, once below the filter and once in the projection
# (guide §4.4: two ArrowEvalPython nodes for one call).
canonicalize_url = _canonicalize_url_udf.asNondeterministic()

# Deterministic alias for callers with no filter on the output, where
# the optimizer's normal freedoms (column pruning under count, etc.)
# are wanted. Same kernel, same values.
canonicalize_url_det = _canonicalize_url_udf

@arrow_udf(
    StructType(
        [StructField(f, StringType()) for f in ADMIT_FIELDS[:3]]
        + [StructField("malformed", BooleanType())]
    )
)
def _admit_url_udf(urls: pa.Array) -> pa.Array:
    return admit_arrow(urls)


# Non-deterministic for the same reason as canonicalize_url: admission
# filters on the ``malformed`` field.
admit_url = _admit_url_udf.asNondeterministic()


def admit_urls(df: DataFrame, raw_col: str) -> DataFrame:
    """``df`` plus the ``url``, ``host`` and ``path`` columns of each row
    whose ``raw_col`` canonicalizes to a well-formed URL; other rows are
    dropped. One admit_url pass replaces canonicalize_url →
    ~is_malformed → with_host_and_path, and the robots predicate then
    reads plain columns."""
    a = F.col("__admit")
    return (
        df.withColumn("__admit", admit_url(F.col(raw_col)))
        .where(~a["malformed"])
        .withColumns({"url": a["url"], "host": a["host"], "path": a["path"]})
        .drop("__admit")
    )


def _occurs_twice(col: Column, token: str) -> Column:
    """str.count(token) > 1 (non-overlapping), as two allocation-free
    ``locate`` scans with early exit — replaces the length(replace(...))
    count, which materialized a full copy of the string per token."""
    first = F.call_function("locate", F.lit(token), col)
    return (first > 0) & (
        F.call_function("locate", F.lit(token), col, first + F.lit(len(token))) > 0
    )


def is_malformed(col: Column) -> Column:
    """Column predicate matching is_malformed_py (True = reject).

    Pure expressions — stays inside whole-stage codegen.
    """
    return (
        _occurs_twice(col, "https://")
        | _occurs_twice(col, "http://")
        | col.contains("%ef%bb%bf")
        | col.contains("﻿")
        | _occurs_twice(col, "/documentation/")
        | (col.contains("https:/") & ~col.startswith("https://"))
        | (F.length(col) > 200)
        | _occurs_twice(col, "developer.apple.com")
    )


def is_permanent_error(status: Column, content: Column) -> Column:
    """Error-page predicate (core.py:78-82,190-205).

    Permanent iff status in {403,404,410}, or status==200 with the known
    error body pattern. NULL status → not an error (retry path).
    """
    return F.when(status.isNull(), F.lit(False)).otherwise(
        status.isin(*PERMANENT_ERROR_CODES)
        | (
            (status == 200)
            & content.isNotNull()
            & content.contains(HTTP_200_ERROR_PATTERN)
        )
    )


def is_error_page_py(content: str, status_code: int | None) -> bool:
    """Oracle twin of is_permanent_error."""
    if not status_code:
        return False
    if status_code in PERMANENT_ERROR_CODES:
        return True
    if status_code == 200 and content:
        return HTTP_200_ERROR_PATTERN in content
    return False


def url_kind(col: Column, web_prefix: str = APPLE_DOCS_PREFIX) -> Column:
    """Route URLs to pipelines (operations.py:144-145, youtube_processor.py:66-76)."""
    return (
        F.when(
            col.startswith(web_prefix) | (col == web_prefix.rstrip("/")), F.lit("web")
        )
        .when(col.like("https://www.youtube.com/watch?v=%"), F.lit("media"))
        .otherwise(F.lit("other"))
    )


def url_id(col: Column) -> Column:
    """64-bit stable URL id — replaces the reference's UUID pk and feeds the
    bloom/cuckoo filters (north rule: xxhash64 hashing)."""
    return F.xxhash64(col)
