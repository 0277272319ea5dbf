"""Driver-side XXH64 — bit-identical to Spark's ``F.xxhash64`` on strings.

Spark computes ``xxhash64(col)`` as XXH64 (Yann Collet's public-domain
xxHash spec, https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md)
over the UTF-8 bytes with seed 42, returned as a SIGNED 64-bit long. The
crawl engine buckets hosts by ``pmod(xxhash64(host), HOST_BUCKETS)``;
maintenance paths (``CrawlEngine.purge_host``) need that same bucket for
ONE host string, which previously cost a 1-row Spark job per call. This
module computes it in pure Python — a few microseconds, no job.

Parity with the JVM implementation is pinned by
tests/test_crawl_e2e.py::test_xxh64_matches_spark (random strings, all
length classes: empty, <4, <8, <32, >=32 bytes).
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge(h: int, acc: int) -> int:
    h ^= _round(0, acc)
    return (h * _P1 + _P4) & _MASK


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 digest of ``data`` as an unsigned 64-bit int. Seed defaults
    to 42 — the constant Spark's xxhash64 expression uses."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def spark_xxhash64_str(s: str, seed: int = 42) -> int:
    """``F.xxhash64(lit(s))`` as Spark returns it: SIGNED 64-bit."""
    u = xxh64(s.encode("utf-8"), seed)
    return u - (1 << 64) if u >= (1 << 63) else u


def host_bucket(host: str, n_buckets: int) -> int:
    """``pmod(xxhash64(host), n_buckets)`` computed driver-side. Python's
    ``%`` on a positive modulus is already pmod (non-negative result)."""
    return spark_xxhash64_str(host) % n_buckets
