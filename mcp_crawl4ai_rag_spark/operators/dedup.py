"""URL-seen dedup + document dedup suite.

URL-seen (north rule): the reference's dedup is a PostgreSQL unique
constraint (`INSERT ... ON CONFLICT (url) DO NOTHING`,
src/database/operations.py:32-59). At 10^10-URL scale that becomes:

1. a *partitioned bloom filter* prefilter — per-partition bitmaps built
   with mapInPandas (numpy), OR-merged, broadcast; candidates that miss the
   bloom are definitely-new and skip the expensive anti-join; hits are
   resolved EXACTLY by a left_anti join, so bloom false positives (and stale
   entries left by deleted dead URLs) never affect correctness, only the
   volume of exact work;
2. a *cuckoo filter* variant whose deletable fingerprints let DEAD-url
   reclamation (operations.py:108-122 deletes pages) shrink the filter
   instead of poisoning it.

Both filters key on 64-bit hashes (xxhash64(url) on the JVM side); the
Python side derives its two probe hashes from the key with two splitmix64
rounds (``_hash_pair_vec``).

Document dedup suite (training-data extensions): exact (fingerprint
groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard verification,
embedding-cosine near-dup.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

# ---------------------------------------------------------------------------
# Bloom filter (numpy bitmap, double hashing)
# ---------------------------------------------------------------------------


def _hash_pair_vec(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized double hashing: two rounds of splitmix64 over int64 keys."""
    def splitmix(x: np.ndarray, gamma: np.uint64) -> np.ndarray:
        x = (x + gamma).astype(np.uint64)
        x ^= x >> np.uint64(30)
        x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
        x ^= x >> np.uint64(27)
        x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
        x ^= x >> np.uint64(31)
        return x

    k = keys.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        return splitmix(k, np.uint64(0x9E3779B97F4A7C15)), splitmix(
            k, np.uint64(0xD1B54A32D192ED03)
        )


class BloomFilter:
    """Fixed-size bloom bitmap over int64 keys; numpy-vectorized add/contains.

    Merge = bitwise OR, so per-partition filters built in executors combine
    on the driver — the "partitioned bloom" build.
    """

    def __init__(self, num_bits: int = 1 << 23, num_hashes: int = 7, bits: np.ndarray | None = None):
        assert num_bits % 8 == 0
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        self.bits = bits if bits is not None else np.zeros(num_bits // 8, dtype=np.uint8)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1, h2 = _hash_pair_vec(keys)
        i = np.arange(self.num_hashes, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.num_bits)).astype(
                np.uint64
            )

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(np.asarray(keys)).ravel()
        np.bitwise_or.at(self.bits, (pos >> np.uint64(3)).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8))

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(keys))
        byte = self.bits[(pos >> np.uint64(3)).astype(np.int64)]
        hit = (byte & (1 << (pos & np.uint64(7))).astype(np.uint8)) != 0
        return hit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.num_bits == other.num_bits and self.num_hashes == other.num_hashes
        return BloomFilter(self.num_bits, self.num_hashes, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, num_hashes: int = 7) -> "BloomFilter":
        bits = np.frombuffer(data, dtype=np.uint8).copy()
        return cls(len(bits) * 8, num_hashes, bits)


def build_bloom(df: DataFrame, key_col: str, num_bits: int = 1 << 23, num_hashes: int = 7) -> BloomFilter:
    """Distributed partitioned-bloom build: per-partition bitmaps in
    executors (mapInPandas), OR-merge on the driver."""
    return build_bloom_with_count(df, key_col, num_bits, num_hashes)[0]


def build_bloom_with_count(
    df: DataFrame, key_col: str, num_bits: int = 1 << 23, num_hashes: int = 7
) -> tuple[BloomFilter, int]:
    """The partitioned-bloom build with the row count from the SAME job:
    per-partition (bitmap, rowcount) pairs, OR-merge + sum on the driver
    (bitwise OR is order-free). A caller that needs both saves a separate
    count() job."""
    nb, nh = num_bits, num_hashes

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter(nb, nh)
        n = 0
        for batch in batches:
            keys = batch[key_col].to_numpy(dtype=np.int64)
            bf.add_many(keys)
            n += len(batch)
        if n:
            yield pd.DataFrame({"bits": [bf.to_bytes()], "n": [n]})

    parts = df.select(key_col).mapInPandas(per_partition, "bits binary, n long").collect()
    out = BloomFilter(nb, nh)
    total = 0
    for row in parts:
        out = out.merge(BloomFilter.from_bytes(row["bits"], nh))
        total += row["n"]
    return out, total


# ---------------------------------------------------------------------------
# Cuckoo filter (deletable approximate membership)
# ---------------------------------------------------------------------------


# alt-index hash over the whole 16-bit fingerprint space, precomputed once —
# lets both the per-key eviction loop and the vectorized batch probe share
# the identical alt mapping without hashing per key
_ALT16 = None


def _alt_table() -> np.ndarray:
    global _ALT16
    if _ALT16 is None:
        fps = np.arange(1 << 16, dtype=np.int64)
        h, _ = _hash_pair_vec(fps)
        _ALT16 = h
    return _ALT16


class CuckooFilter:
    """Bucketed cuckoo filter: 4 slots/bucket, 16-bit fingerprints.

    Supports delete — used to reclaim DEAD urls (the reference deletes the
    page row, operations.py:108-122, making the URL re-discoverable; a bloom
    can't forget, a cuckoo can). Sharded by hash range in the engine so each
    shard can live with (and be maintained by) one frontier partition.

    Hashing is splitmix64 (_hash_pair_vec) so batch probes vectorize;
    deletes are sound (no false negatives for other keys) because every
    insert stores its own fingerprint copy and the engine deletes only keys
    it previously inserted — per-(bucket, fp) copy counts stay exact.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, num_buckets: int = 1 << 16, table: np.ndarray | None = None):
        assert num_buckets & (num_buckets - 1) == 0, "power of two"
        self.num_buckets = num_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((num_buckets, self.SLOTS), dtype=np.uint16)
        )
        self._rng = np.random.default_rng(0xC0FFEE)

    def _fp_and_index(self, key: int) -> tuple[int, int]:
        h1, h2 = _hash_pair_vec(np.asarray([key], dtype=np.int64))
        fp = (int(h2[0]) & 0xFFFF) or 1  # fingerprint 0 means empty slot
        return fp, int(h1[0]) % self.num_buckets

    def _alt_index(self, idx: int, fp: int) -> int:
        # standard partial-key cuckoo: alt = idx XOR hash(fp)
        return (idx ^ int(_alt_table()[fp])) % self.num_buckets

    def insert(self, key: int) -> bool:
        fp, i1 = self._fp_and_index(key)
        i2 = self._alt_index(i1, fp)
        for i in (i1, i2):
            empty = np.flatnonzero(self.table[i] == 0)
            if len(empty):
                self.table[i, empty[0]] = fp
                return True
        # evict
        i = int(self._rng.choice((i1, i2)))
        cur = np.uint16(fp)
        for _ in range(self.MAX_KICKS):
            slot = int(self._rng.integers(self.SLOTS))
            cur, self.table[i, slot] = self.table[i, slot], cur
            i = self._alt_index(i, int(cur))
            empty = np.flatnonzero(self.table[i] == 0)
            if len(empty):
                self.table[i, empty[0]] = cur
                return True
        return False  # full

    def contains(self, key: int) -> bool:
        fp, i1 = self._fp_and_index(key)
        i2 = self._alt_index(i1, fp)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def contains_many_vec(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized batch probe — no per-key Python in the prefilter path."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hash_pair_vec(np.asarray(keys, dtype=np.int64))
        fp = (h2 & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        i1 = (h1 % np.uint64(self.num_buckets)).astype(np.int64)
        alt = _alt_table()[fp.astype(np.int64)]
        i2 = ((i1.astype(np.uint64) ^ alt) % np.uint64(self.num_buckets)).astype(
            np.int64
        )
        return (self.table[i1] == fp[:, None]).any(axis=1) | (
            self.table[i2] == fp[:, None]
        ).any(axis=1)

    def delete(self, key: int) -> bool:
        fp, i1 = self._fp_and_index(key)
        for i in (i1, self._alt_index(i1, fp)):
            hit = np.flatnonzero(self.table[i] == fp)
            if len(hit):
                self.table[i, hit[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, num_buckets: int) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).reshape(num_buckets, cls.SLOTS).copy()
        return cls(num_buckets, table)


class ShardedCuckoo:
    """Hash-range-sharded cuckoo filters — the distributed layout: shard i
    holds keys with hash%n == i, mirroring frontier partitioning. Shards are
    MAINTAINED in executors (``maintain_sharded_cuckoo``: ops shuffle to
    their shard's task, each task rewrites one shard's bytes) — the driver
    only reassembles n_shards small blobs, never touches keys."""

    # a lone 128-bucket table took keys past 94% load before its first
    # failed insert in each of 200 random fills; at 16 buckets some
    # failed below 90%, the load at which the crawl engine regrows it
    MIN_BUCKETS = 1 << 7
    SHARD_BUCKETS = 1 << 14

    def __init__(self, num_shards: int = 8, buckets_per_shard: int = SHARD_BUCKETS):
        self.num_shards = num_shards
        self.buckets_per_shard = buckets_per_shard
        self.shards = [CuckooFilter(buckets_per_shard) for _ in range(num_shards)]

    @classmethod
    def for_keys(cls, n: int) -> "ShardedCuckoo":
        """The smallest power-of-two layout that holds ``n`` keys at most
        half full: one shard of at least MIN_BUCKETS buckets, split into
        shards of SHARD_BUCKETS buckets once it outgrows one. Shards that
        large hold within a fraction of a percent of their mean share of
        the keys; small ones skew, and a skewed shard overflows first."""
        buckets = cls.MIN_BUCKETS
        while buckets * CuckooFilter.SLOTS < 2 * n:
            buckets *= 2
        shards = max(1, buckets // cls.SHARD_BUCKETS)
        return cls(shards, buckets // shards)

    @property
    def slots(self) -> int:
        return self.num_shards * self.buckets_per_shard * CuckooFilter.SLOTS

    def _shard(self, key: int) -> CuckooFilter:
        return self.shards[key % self.num_shards]

    def insert_many(self, keys) -> None:
        for k in keys:
            self._shard(int(k)).insert(int(k))

    def delete_many(self, keys) -> None:
        for k in keys:
            self._shard(int(k)).delete(int(k))

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        out = np.zeros(len(keys), dtype=bool)
        shard_ids = keys % self.num_shards  # numpy % matches Python for n>0
        for s in range(self.num_shards):
            m = shard_ids == s
            if m.any():
                out[m] = self.shards[s].contains_many_vec(keys[m])
        return out

    def to_bytes(self) -> bytes:
        import struct

        head = struct.pack("<II", self.num_shards, self.buckets_per_shard)
        return head + b"".join(s.to_bytes() for s in self.shards)

    @classmethod
    def from_bytes(cls, data: bytes) -> "ShardedCuckoo":
        import struct

        n, nb = struct.unpack("<II", data[:8]) if len(data) >= 8 else (0, 0)
        size = nb * CuckooFilter.SLOTS * 2
        if n * size == 0 or len(data) != 8 + n * size:
            raise ValueError("cuckoo filter state is not one whole filter")
        out = cls.__new__(cls)
        out.num_shards = n
        out.buckets_per_shard = nb
        out.shards = [
            CuckooFilter.from_bytes(data[8 + i * size : 8 + (i + 1) * size], nb)
            for i in range(n)
        ]
        return out


def maintain_sharded_cuckoo(
    spark,
    sc: ShardedCuckoo,
    new_keys: DataFrame,
    dead_keys: DataFrame | None = None,
    key_col: str = "url_hash",
) -> ShardedCuckoo:
    """Distributed seen-filter maintenance (SURVEY §2.4 J3 shape).

    Insert/delete ops shuffle to their shard (pmod(key, n_shards)); each
    task deserializes exactly ONE shard's table from the broadcast state,
    applies its deletes *then* inserts (matching the round contract: dead
    URLs leave the seen set before link insertion), and emits the updated
    shard bytes. Driver-side work is O(n_shards) blob reassembly — no key
    ever hits the driver. At cluster scale the broadcast becomes shard-local
    state co-partitioned with the frontier (same shard math), the plan is
    unchanged.

    Raises on shard overflow: a failed insert would be a silent false
    negative in the prefilter, which (unlike a false positive) breaks
    dedup correctness — size the filter with ``ShardedCuckoo.for_keys``.
    """
    n, nb = sc.num_shards, sc.buckets_per_shard
    blobs = spark.sparkContext.broadcast([s.to_bytes() for s in sc.shards])

    ops = new_keys.select(F.col(key_col).alias("key"), F.lit(0).alias("is_del"))
    if dead_keys is not None:
        ops = ops.unionByName(
            dead_keys.select(F.col(key_col).alias("key"), F.lit(1).alias("is_del"))
        )
    ops = ops.withColumn("shard", F.pmod(F.col("key"), F.lit(n)).cast("int"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts: dict[int, tuple[list, list]] = {}
        for batch in batches:
            for sid, grp in batch.groupby("shard"):
                ins, dels = parts.setdefault(int(sid), ([], []))
                ins.extend(grp.loc[grp["is_del"] == 0, "key"].tolist())
                dels.extend(grp.loc[grp["is_del"] == 1, "key"].tolist())
        for sid, (ins, dels) in parts.items():
            cf = CuckooFilter.from_bytes(blobs.value[sid], nb)
            for k in dels:
                cf.delete(int(k))
            fails = sum(0 if cf.insert(int(k)) else 1 for k in ins)
            yield pd.DataFrame(
                {"shard": [sid], "fails": [fails], "bits": [cf.to_bytes()]}
            )

    rows = (
        ops.repartition(n, "shard")
        .mapInPandas(run, "shard int, fails int, bits binary")
        .collect()
    )
    out = ShardedCuckoo.__new__(ShardedCuckoo)
    out.num_shards, out.buckets_per_shard = n, nb
    out.shards = list(sc.shards)
    total_fails = 0
    for r in rows:
        out.shards[r["shard"]] = CuckooFilter.from_bytes(r["bits"], nb)
        total_fails += r["fails"]
    if total_fails:
        raise RuntimeError(
            f"cuckoo filter overflow: {total_fails} inserts failed — a false "
            "negative would silently break URL dedup; increase buckets_per_shard"
        )
    return out


def update_seen_filter(
    spark,
    f: BloomFilter | ShardedCuckoo,
    new_keys: DataFrame,
    dead_keys: DataFrame | None = None,
    key_col: str = "url_hash",
) -> BloomFilter | ShardedCuckoo:
    """Absorb one batch of seen-set changes into either filter kind, in
    one distributed job. A bloom ORs in the bitmap of ``new_keys``; it
    cannot forget, so ``dead_keys`` stay in it as false positives. A
    cuckoo deletes ``dead_keys`` then inserts ``new_keys``, shard by
    shard (``maintain_sharded_cuckoo``)."""
    if isinstance(f, BloomFilter):
        return f.merge(build_bloom(new_keys, key_col, f.num_bits, f.num_hashes))
    return maintain_sharded_cuckoo(spark, f, new_keys, dead_keys, key_col)


_WORKER_FILTER_CACHE: dict = {}


def make_contains_udf(spark, f: BloomFilter | ShardedCuckoo):
    """Broadcast a membership filter (either kind); return a pandas UDF
    Column predicate over its int64 keys.

    The deserialized filter is memoized per (worker process, broadcast id)
    so the copy happens once per worker, not once per Arrow batch.
    """
    import uuid

    b = spark.sparkContext.broadcast(f)
    cache_key = uuid.uuid4().hex  # closure constant identifying this filter

    @pandas_udf(BooleanType())
    def might_contain(keys: pd.Series) -> pd.Series:
        live = _WORKER_FILTER_CACHE.get(cache_key)
        if live is None:
            live = b.value
            _WORKER_FILTER_CACHE.clear()  # at most one live filter per worker
            _WORKER_FILTER_CACHE[cache_key] = live
        return pd.Series(live.contains_many(keys.to_numpy(dtype=np.int64)))

    return might_contain


# ---------------------------------------------------------------------------
# URL-seen dedup operator (S1/S2/J3)
# ---------------------------------------------------------------------------


def first_occurrences(values: "pa.Array | pa.ChunkedArray") -> np.ndarray:
    """Ascending positions of the first occurrence of each distinct value
    (nulls are one value)."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    codes = pc.fill_null(pc.dictionary_encode(values).indices, -1)
    _, first = np.unique(codes.to_numpy(), return_index=True)
    return np.sort(first)


def new_urls(
    candidates: "DataFrame | pa.Table",
    seen: "DataFrame | pa.Array | pa.ChunkedArray",
    url_col: str = "url",
    bloom: BloomFilter | ShardedCuckoo | None = None,
    spark=None,
    probe_broadcast: bool = False,
) -> "DataFrame | pa.Table":
    """Exactly the set of candidate urls not in `seen` (operations.py:43-59
    batch-upsert semantics), with an optional approximate-membership
    prefilter ``bloom``: a BloomFilter, or its deletable ShardedCuckoo
    variant, over xxhash64(url).

    Arrow form: ``candidates`` a driver-side ``pyarrow.Table`` and
    ``seen`` the seen urls as an Arrow array. Each url keeps its first
    row, in table order, and the seen set is probed with the candidate
    urls (the probe_broadcast shape: one pass over seen, hashing only the
    candidates); no filter or Spark job.

    candidates are deduped internally first (dropDuplicates) — the
    reference's executemany upsert keeps the first occurrence.

    Two scale shapes, chosen by the caller (identical output, pinned by
    tests/test_dedup_filters.py):

    - ``probe_broadcast=False`` (default): candidates ANTI JOIN seen,
      prefilter-miss branch skipping the join. The right shape when the
      candidate batch is itself huge (the bulk-ingest path): seen should
      then be pre-partitioned/bucketed on the join key so only the
      candidates shuffle.
    - ``probe_broadcast=True``: probe `seen` with a broadcast semi-join
      of the (prefiltered) candidate urls — ONE full seen scan, ZERO seen
      shuffle — then anti-join the candidates against the broadcast hit
      set (<= candidates). The right shape for the crawl round, where
      candidates are bounded by batch x out-degree but seen is the
      10^10-row frontier: the plain anti-join would let Spark sort-merge
      (full seen shuffle per round) or auto-broadcast the whole seen set
      through the driver. Callers should cache() the candidates frame —
      the probe build and the final anti-join both read it.

    The prefilter only shrinks the probe/join: a miss is proof-of-new (a
    bloom never forgets; a cuckoo deletes only keys it inserted and
    raises on overflow), a hit is resolved exactly, so output is exact
    either way.

    When to pass a prefilter (measured, pinned cores, steady state, 32M
    candidates vs 16M pre-partitioned+sorted cached seen): in the
    bulk-ingest shape the bloom path costs 168.3 s (1 core) / 59.2 s
    (4 cores) vs 73.9 s / 27.8 s for the plain anti-join — the TWO
    Python/Arrow probe passes (the `tagged` split evaluates the UDF once
    per branch) outweigh the candidate shuffle volume they save once the
    seen side is pre-partitioned (no per-batch seen exchange either way).
    Pass a prefilter only where it removes work the join cannot avoid:
    the probe_broadcast crawl-round regime (shrinks the broadcast probe
    set before the full seen scan), or when the seen side is NOT
    pre-partitioned and hit-rate is low.
    """
    if isinstance(candidates, pa.Table):
        cands = candidates.take(first_occurrences(candidates[url_col]))
        hits = pc.filter(seen, pc.is_in(seen, value_set=cands[url_col], skip_nulls=True))
        return cands.filter(
            pc.invert(pc.is_in(cands[url_col], value_set=hits, skip_nulls=True))
        )
    cands = candidates.dropDuplicates([url_col])
    might = make_contains_udf(spark, bloom) if bloom is not None else None
    if probe_broadcast:
        probe = cands.select(url_col)
        if might is not None:
            probe = probe.where(might(F.xxhash64(F.col(url_col))))
        hits = seen.select(url_col).join(
            F.broadcast(probe), url_col, "left_semi"
        )
        return cands.join(F.broadcast(hits), url_col, "left_anti")
    if might is None:
        return cands.join(seen.select(url_col), url_col, "left_anti")
    tagged = cands.withColumn("__hit", might(F.xxhash64(F.col(url_col))))
    definitely_new = tagged.where(~F.col("__hit")).drop("__hit")
    maybe_seen = tagged.where(F.col("__hit")).drop("__hit")
    resolved = maybe_seen.join(seen.select(url_col), url_col, "left_anti")
    return definitely_new.unionByName(resolved)


# ---------------------------------------------------------------------------
# Document dedup suite (training-data extensions)
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups by normalized-text fingerprint; returns
    (fingerprint, dup_count, keep_id, member_ids)."""
    from mcp_crawl4ai_rag_spark.functions.text import fingerprint

    return (
        df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("member_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def _shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Word k-shingles → stable 64-bit hashes."""
    toks = (text or "").lower().split()
    if len(toks) < k:
        shingles = [" ".join(toks)] if toks else []
    else:
        shingles = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    out = np.empty(max(len(shingles), 0), dtype=np.uint64)
    for i, s in enumerate(shingles):
        out[i] = int.from_bytes(
            hashlib.blake2b(s.encode(), digest_size=8).digest(), "little"
        )
    return out


def make_minhash_udf(num_perm: int = 64, shingle_k: int = 5):
    """MinHash signature pandas UDF: array<bigint> of length num_perm."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, 1 << 61, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 61, size=num_perm, dtype=np.uint64)
    prime = np.uint64((1 << 61) - 1)

    @pandas_udf("array<bigint>")
    def minhash(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            h = _shingle_hashes(t, shingle_k)
            if len(h) == 0:
                out.append([0] * num_perm)
                continue
            with np.errstate(over="ignore"):
                vals = (h[None, :] * a[:, None] + b[:, None]) % prime
            out.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return minhash


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: shingle→minhash→band→bucket
    self-join. Returns (id_a, id_b) with id_a < id_b.

    Scale notes: the self-join shuffles on (band, band_hash) — uniformly
    hashed keys, no skew; signature width is num_perm*8 bytes/doc.
    """
    from mcp_crawl4ai_rag_spark.partitioning import spread_for_compute

    rows_per_band = num_perm // bands
    # signature UDF (shingle + blake2b per doc) is the expensive stage:
    # spread an under-split scan across the session first (guide §2.5)
    df = spread_for_compute(df, id_col)
    sig = df.select(
        F.col(id_col).alias("id"), make_minhash_udf(num_perm, shingle_k)(F.col(text_col)).alias("sig")
    ).cache()  # self-joined below: avoid recomputing the signature UDF per side
    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.xxhash64(
                    F.slice(F.col("sig"), band * rows_per_band + 1, rows_per_band),
                    band,
                ),
            )
        ).alias("band", "band_hash"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def make_ngram_jaccard_udf(shingle_k: int = 5):
    @pandas_udf("double")
    def jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            sa, sb = set(_shingle_hashes(x, shingle_k)), set(_shingle_hashes(y, shingle_k))
            if not sa and not sb:
                out.append(1.0)
            elif not sa or not sb:
                out.append(0.0)
            else:
                out.append(len(sa & sb) / len(sa | sb))
        return pd.Series(out)

    return jaccard


def near_duplicates_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Candidates from LSH, verified by exact n-gram Jaccard >= threshold.

    The exact verify runs JVM-side: shingle sets are computed once per
    document in the projection that joins onto the candidate pairs (so
    shingling is O(docs), not O(candidate pairs)), and the Jaccard is
    array_intersect/array_union inside whole-stage codegen. The
    pandas-UDF kernel stays available as the differential test oracle."""
    from mcp_crawl4ai_rag_spark.functions.text import WS_RUN

    cands = minhash_lsh_candidates(df, text_col, id_col, num_perm, bands, shingle_k).cache()
    # shingle only docs that appear in candidate pairs (semi-join first):
    # the broadcast side carries |candidate docs| shingle arrays, not the
    # whole corpus's
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    in_cands = cands.select(F.col("id_a").alias("id")).union(
        cands.select(F.col("id_b").alias("id"))
    )
    # Shingle-set construction: the word_shingle_set HOF formulation
    # (transform + slice + array_join per window) is INTERPRETED per
    # element (~1 ms/doc measured) — build the same k-shingles with
    # codegen'd window leads instead, and carry 64-bit shingle hashes:
    # |intersect| / |union| over the hash sets equals the string-set
    # Jaccard absent an xxhash64 collision inside one pair's union
    # (<= ~hundreds of shingles — the dedup_substring precedent).
    ctexts = texts.join(in_cands, "id", "left_semi")
    toks = F.filter(
        F.split(F.lower(F.col("t")), WS_RUN, -1), lambda x: F.length(x) > 0
    )
    tok = ctexts.select(
        "id", F.size(toks).alias("n"), F.posexplode(toks).alias("pos", "w")
    )
    w_doc = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [
        F.lead("w", i).over(w_doc) for i in range(1, shingle_k)
    ]
    shingle = F.when(
        F.col("n") < shingle_k, F.concat_ws(" ", F.collect_list("w").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ))
    ).otherwise(F.concat_ws(" ", *leads))
    grams = (
        tok.withColumn("__s", shingle)
        .where((F.col("n") < shingle_k) | (F.col("pos") <= F.col("n") - shingle_k))
        .select("id", F.xxhash64("__s").alias("g"))
    )
    sh = grams.groupBy("id").agg(F.collect_set("g").alias("sh")).cache()
    # left joins + empty-set coalesce: blank docs produce no gram rows but
    # must keep the shingle-set semantics (both-empty pairs score 1.0)
    empty = F.array().cast("array<bigint>")
    joined = (
        cands.join(
            sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
            "left",
        )
        .join(
            sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
            "left",
        )
        .withColumn("sh_a", F.coalesce(F.col("sh_a"), empty))
        .withColumn("sh_b", F.coalesce(F.col("sh_b"), empty))
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = (
        F.when((F.size("sh_a") == 0) & (F.size("sh_b") == 0), F.lit(1.0))
        .when((F.size("sh_a") == 0) | (F.size("sh_b") == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    )
    return (
        joined.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def make_simhash_udf(bits: int = 64, hasher: str = "blake2b"):
    """hasher='blake2b' (default, fast) or 'md5' — the md5 token hash is
    ``int(md5(tok).hexdigest()[:16], 16)``, byte-identical to SQL
    ``md5()``'s first 16 hex chars, so a DuckDB oracle can recompute the
    signature exactly (blake2b has no SQL twin)."""
    shifts = np.arange(bits, dtype=np.uint64)
    if hasher == "blake2b":
        def tok_hash(tok: str) -> int:
            return int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "little"
            )
    elif hasher == "md5":
        def tok_hash(tok: str) -> int:
            return int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
    else:
        raise ValueError(f"unknown hasher {hasher!r}")

    @pandas_udf("bigint")
    def simhash(texts: pd.Series) -> pd.Series:
        token_hash_cache: dict[str, int] = {}
        out = []
        for t in texts:
            toks = (t or "").lower().split()
            if not toks:
                out.append(0)
                continue
            hs = np.empty(len(toks), dtype=np.uint64)
            for i, tok in enumerate(toks):
                h = token_hash_cache.get(tok)
                if h is None:
                    h = tok_hash(tok)
                    token_hash_cache[tok] = h
                hs[i] = h
            # vectorized bit vote: +1 for set bits, -1 for clear bits
            bitmat = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
            acc = 2 * bitmat.astype(np.int64).sum(axis=0) - len(toks)
            val = int(((acc > 0).astype(np.uint64) << shifts).sum())
            out.append(val - (1 << bits) if val >= (1 << (bits - 1)) else val)
        return pd.Series(out)

    return simhash


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    n_blocks: int = 4, hasher: str = "blake2b",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into ``n_blocks``
    blocks (sizes as even as 64/n allows), bucket-join on equal blocks,
    then verify hamming distance with bit ops.

    Pigeonhole recall: hamming <= h and n_blocks > h ⇒ at least one block
    is equal, so with ``n_blocks > max_hamming`` recall is 100% —
    corpus-independent, which is what lets the md5 variant's exact
    all-pairs DuckDB oracle assert set EQUALITY (entry `dedup_simhash_md5`).
    The default 4 blocks only guarantees hamming <= 3; callers using a
    larger max_hamming trade recall in the (n_blocks..max_hamming] band
    for fewer candidates, exactly like MinHash banding."""
    from mcp_crawl4ai_rag_spark.partitioning import (
        LIGHT_KERNEL_BYTES_PER_TASK,
        spread_for_compute,
    )

    # the signature UDF dominates; don't let an under-split scan feed it
    # to 1-2 tasks (guide §2.5 input skew). Light kernel → byte floor.
    df = spread_for_compute(
        df, id_col, min_bytes_per_task=LIGHT_KERNEL_BYTES_PER_TASK
    )
    sim = df.select(
        F.col(id_col).alias("id"),
        make_simhash_udf(hasher=hasher)(F.col(text_col)).alias("sh"),
    )
    return hamming_near_duplicates(sim, "sh", "id", max_hamming, n_blocks)


def hamming_near_duplicates(
    hashed: DataFrame, hash_col: str, id_col: str,
    max_hamming: int = 3, n_blocks: int = 4,
) -> DataFrame:
    """Banded Hamming join over ANY 64-bit signature column — the shared
    machinery behind simhash text near-dup and dHash/aHash perceptual
    media near-dup (operators/multimodal.media_near_duplicates).

    Band the signature into ``n_blocks`` blocks (sizes as even as 64/n
    allows), bucket-join on equal (block_idx, block_val), verify the
    exact Hamming distance with bit ops. Pigeonhole: hamming <= h and
    n_blocks > h ⇒ at least one block equal, so ``n_blocks > max_hamming``
    gives 100% recall on any corpus — what lets the md5-simhash and
    media-phash oracles assert exact all-pairs set EQUALITY.

    Scale shape: the join key (block_idx, block_val) is uniform for
    hash-like signatures (expected random-pair collisions n_blocks *
    N^2 / 2^block_width per bucket space); the verify is one xor +
    bit_count in codegen; output O(qualifying pairs)."""
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    sim = hashed.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("sh")
    ).cache()  # self-joined below: avoid recomputing the hash UDF per side
    blocks = sim.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), starts[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1)
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", ham).where(ham <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def embedding_near_duplicates(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
    dim: int = 64, probe_margin: float = 0.05, max_probes: int = 32,
    planes: int = 16, tables: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup via multi-probe sign-random-projection
    LSH: candidate pairs from a bucket join, then exact cosine verify
    (pure Column fold).

    **Scale shape — the bucket count grows with the corpus.** Each of the
    ``tables`` independent hash tables uses a FULL-WIDTH ``planes``-bit
    signature as its bucket key, so per-table bucket occupancy is
    N / 2^planes and expected random-pair collisions are
    tables * N^2 / 2^(planes+1): ``planes`` is the knob that keeps the
    within-bucket verify linear. Size it ~ log2(N / target_occupancy):
    the default 16 suits 10^5-10^7 vectors (occupancy 1-150); a 10^10-row
    corpus wants planes≈30-34 (bucket ids stay int64 up to
    planes + log2(tables) < 63). This replaces the round-3 shape — a
    single 8-plane table whose FIXED 256 buckets made candidate pairs
    N^2/256, i.e. all-pairs with a constant discount — the one plan that
    would not survive 100x.

    **Recall.** Narrow bucket keys (many planes) lower per-table recall
    for moderately-similar pairs, recovered two ways:

    - *Multi-probe (deterministic, near-identical regime).* A plane whose
      |projection| < probe_margin * ||v|| is *uncertain*, and the probing
      side emits every sign combination over its uncertain planes. The
      probe is ONE-SIDED by a symmetry argument: if the pair's signs
      differ on plane i, then d_a(i) and d_b(i) straddle zero with
      |d_a - d_b| <= ||a - b|| * ||h_i||, so BOTH |d_a(i)| and |d_b(i)|
      are under that bound — whenever the margin covers the pair's
      distance, every differing plane is uncertain for BOTH vectors, and
      the left side's probe set contains the right side's PRIMARY bucket.
      Guarantee (PER TABLE, so any one table suffices): every pair with
      ||a - b|| * max_i||h_i|| < probe_margin * min(||a||, ||b||) is
      found. Without the probe, plain SRP misses near-identical pairs
      whenever one projection sits within the perturbation of zero
      (observed: 1 of 223 planted pairs at sf0.1).
    - *Independent tables (probabilistic, moderate band).* A pair at
      angle θ collides in one table w.p. (1 - θ/π)^planes; ``tables``
      tables give 1-(1-p)^tables — the standard LSH OR-construction,
      raise ``tables`` to chase recall below the margin-guaranteed band.

    Cost: the probing side explodes to tables * E[2^#uncertain] ≈
    tables * (1 + 2*Φ(margin)-1)^planes rows per vector (≈ 3.7 at the
    defaults; hard cap ``max_probes`` per table — the primary bucket is
    slice element 1, never dropped), the primary side to ``tables`` rows.
    Within one table a pair matches on AT MOST one probe value; across
    tables it may match several times, so the final dropDuplicates
    de-dups the (tiny, post-verify) pair set.

    dim MUST match the embedding dimensionality (explicit parameter — not
    probed with .first(), so building the plan launches no Spark job).

    Kernel: the tables*planes projections are ONE numpy matmul per Arrow
    batch (a pandas UDF, per the no-per-row-Python contract — a Catalyst
    fold of 2*16 separate zip_with/aggregate array traversals measured
    ~2.5x slower at sf0.1 and scales worse with dim). Sign-vs-zero could
    differ between BLAS pairwise and sequential summation only where
    |dot| ~ ulp — far inside the uncertain band, where BOTH signs are
    probed, so the candidate set is summation-order-robust."""
    from mcp_crawl4ai_rag_spark.functions.embedding import cosine_sim

    if planes + max(0, tables - 1).bit_length() >= 63:
        raise ValueError("planes too large: bucket ids must fit int64")
    rng = np.random.default_rng(7)
    # random hyperplanes, deterministic; one (dim x tables*planes) matrix
    hyper = rng.standard_normal((tables, planes, dim))
    hyper_flat = np.ascontiguousarray(
        hyper.reshape(tables * planes, dim).T
    )  # dim x (tables*planes)
    powers = (1 << np.arange(planes)).astype(np.int64)
    offsets = (np.arange(tables, dtype=np.int64) << planes)

    @pandas_udf("array<array<long>>")
    def probe_buckets(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # n x dim
        if m.shape[1] != dim:
            raise ValueError(f"embedding dim {m.shape[1]} != declared dim {dim}")
        dots = m @ hyper_flat  # n x tables*planes, one BLAS op
        norms = np.linalg.norm(m, axis=1)
        bits = (dots >= 0).astype(np.int64).reshape(-1, tables, planes)
        primary = bits @ powers + offsets  # n x tables
        uncertain = (np.abs(dots) < probe_margin * norms[:, None]).reshape(
            -1, tables, planes
        )
        n_unc = uncertain.sum(axis=2)  # n x tables
        out = []
        for i in range(m.shape[0]):
            row = []
            for t in range(tables):
                p = int(primary[i, t])
                u = n_unc[i, t]
                if u == 0:  # the common case: primary only, no Python math
                    row.append([p])
                    continue
                idx = np.nonzero(uncertain[i, t])[0]
                # every sign combination over the uncertain planes; XOR
                # masks keep the primary as element 1 (combo 0), so the
                # max_probes cap never drops it
                combos = np.arange(1 << u, dtype=np.int64)[:max_probes]
                masks = (
                    ((combos[:, None] >> np.arange(u)) & 1) * powers[idx]
                ).sum(axis=1)
                row.append((p ^ masks).tolist())
            out.append(row)
        return pd.Series(out)

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).where(
        F.col(vec_col).isNotNull()
    )
    sig = base.withColumn("__tbl_probes", probe_buckets(F.col("vec")))
    probing = sig.select(
        "id", "vec", F.explode(F.flatten(F.col("__tbl_probes"))).alias("bucket")
    )
    # element 1 of each table's probe array IS that table's primary bucket
    primary = sig.select(
        "id",
        "vec",
        F.explode(
            F.transform(F.col("__tbl_probes"), lambda a: F.element_at(a, 1))
        ).alias("bucket"),
    )
    l, r = probing.alias("l"), primary.alias("r")
    pairs = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") != F.col("r.id")),
    ).select(
        F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
        F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
        F.col("l.vec").alias("vec_a"),
        F.col("r.vec").alias("vec_b"),
    )
    return (
        pairs.withColumn("cos", cosine_sim(F.col("vec_a"), F.col("vec_b")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .dropDuplicates(["id_a", "id_b"])
    )


def winnow_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 6,
    min_shared: int = 3,
    max_df: int = 1000,
    hasher: str = "poly",
) -> DataFrame:
    """Near-dup pairs via shared winnowing fingerprints (the MOSS shape):
    docs explode to (fingerprint, id) postings, the self-join on the
    fingerprint is the inverted index, pairs sharing >= min_shared
    fingerprints survive. Returns (id_a, id_b, shared, overlap) with
    overlap = shared / min(|fp_a|, |fp_b|) counted over *informative*
    fingerprints (those surviving the max_df guard), so the threshold a
    caller puts on overlap is insensitive to how much boilerplate the
    corpus shares — and to corpus size, which changes how many
    fingerprints the guard removes.

    Scale notes: postings shuffle on the 64-bit fingerprint — uniform, no
    skew; the stop-fingerprint guard drops fingerprints shared by more
    than ``max_df`` docs (boilerplate) before the pair join — each such
    fingerprint would contribute C(df,2) pairs and carries no pair-local
    signal, exactly like common-token filtering in MinHash pipelines.
    Tune max_df down hard (10-50) on templated corpora.

    hasher: 'poly' (default) = numpy rolling polynomial hash over byte
    k-grams (the fast 100-TB kernel); 'md5' = md5 char-gram hashes (also
    an Arrow-batched kernel) — same winnowing selection rule but
    SQL-recomputable, so the `dedup_winnow_md5` entry carries an exact
    DuckDB oracle for this kernel class (the `dedup_simhash_md5` trick).
    """
    from mcp_crawl4ai_rag_spark.functions.text import (
        make_winnow_udf,
        winnow_fingerprints_md5,
    )

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    # the winnow UDF dominates this plan — make sure it runs on every core
    # (a small union/scan often arrives as 1-2 partitions)
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target, "id")
    if hasher == "md5":
        fps_col = winnow_fingerprints_md5(F.col("t"), k, window)
    elif hasher == "poly":
        fps_col = make_winnow_udf(k, window)(F.col("t"))
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    raw = (
        src.select(
            "id",
            F.explode(fps_col).alias("fp"),
        )
        .dropDuplicates(["id", "fp"])
        .cache()  # postings feed the guard, sizes, and both join sides
    )
    # boilerplate guard: a fingerprint present in >max_df docs pairs
    # quadratically and carries no near-dup signal
    hot = raw.groupBy("fp").agg(F.count("*").alias("df")).where(F.col("df") > max_df)
    fps = raw.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    sizes = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    l, r = fps.alias("l"), fps.alias("r")
    pairs = (
        l.join(r, (F.col("l.fp") == F.col("r.fp")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_fp", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_fp", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            F.round(F.col("shared") / F.least("n_a", "n_b"), 6).alias("overlap"),
        )
    )


def _duplicated_hits(
    df: DataFrame, text_col: str, id_col: str, k: int, min_df: int
) -> DataFrame:
    """(doc_id, pos, h) of every k-token shingle whose 64-bit hash occurs
    in >= min_df distinct documents: the shared front half of the
    duplicated-substring detect and remove operators. One shuffle on the
    uniform hash key; O(total tokens) exploded rows."""
    from mcp_crawl4ai_rag_spark.partitioning import spread_for_compute

    # the shingle explode + per-position hash is O(tokens x k) CPU and
    # runs below the first exchange — spread an under-split scan first
    df = spread_for_compute(df, id_col)
    toks = F.split(F.col(text_col), " ")
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                F.size(toks) >= k,
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            ).otherwise(F.expr("CAST(array() AS array<int>)"))
        ).alias("pos"),
        toks.alias("__toks"),
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.array_join(F.slice(F.col("__toks"), F.col("pos"), k), " ")).alias(
            "h"
        ),
    )
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("h")
    )
    return sh.join(dup, "h", "left_semi")


def duplicated_token_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection (the Lee et al. 2021 "dedup
    makes LMs better" substring pass): find every maximal token span of
    length >= k that occurs verbatim in >= min_df distinct documents.

    Returns (doc_id, span_start, span_end, n_shingles) — token positions
    (1-based, inclusive) of each maximal duplicated region per document,
    built by merging overlapping duplicated k-shingles (gaps-and-islands:
    consecutive hit positions <= k apart extend the same island).

    Scale shape: explode k-token shingles with positions (O(total
    tokens) rows), reduce to shingle -> distinct-doc count on the 64-bit
    shingle hash (uniform keys, one shuffle; the hash — not the ~10-token
    string — is what shuffles), semi-join hits back, then a per-document
    window for the interval merge (per-doc row counts are bounded by doc
    length, so no single-task funnel). No pairwise comparison anywhere —
    cost is O(tokens + duplicated positions), not O(docs^2).
    """
    hits = _duplicated_hits(df, text_col, id_col, k, min_df).select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        hits.withColumn(
            "brk",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") - F.lag("pos").over(w) > k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        F.count("*").alias("n_shingles"),
    ).drop("island")


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """The removal half of substring dedup (Lee et al. 2021): keep ONE
    occurrence of every duplicated k-token shingle — the globally first by
    (doc_id, pos) — and cut the tokens covered by every other occurrence.

    Returns (doc_id, cleaned_text, n_tokens, n_tokens_removed); docs
    without duplicated content pass through unchanged.

    Shape: shared _duplicated_hits front half, a per-hash window picks
    the keeper (partitioned by the uniform hash — no skew), removable
    positions aggregate per doc (collect_list bounded by doc length), and
    the token cut is a pure Column filter: token i survives unless some
    removable window [p, p+k-1] covers it (F.exists over the per-doc
    removal array — O(tokens x removals_per_doc), both bounded by doc
    length, never by corpus size).
    """
    hits = _duplicated_hits(df, text_col, id_col, k, min_df)
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    removable = (
        hits.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select("doc_id", "pos")
        .distinct()
    )
    return _cut_token_windows(df, text_col, id_col, removable, k)


def _cut_token_windows(
    df: DataFrame, text_col: str, id_col: str, removable: DataFrame, k: int
) -> DataFrame:
    """Cut every token covered by a removal window: ``removable`` is
    (doc_id, pos) start positions (1-based) and each window spans
    [pos, pos+k-1]. Returns (doc_id, cleaned_text, n_tokens,
    n_tokens_removed); docs with no windows pass through unchanged.

    Pure Column cut: removal positions aggregate per doc (collect_list
    bounded by doc length), then token i survives unless some window
    covers it (F.exists over the per-doc array — O(tokens ×
    removals_per_doc), both bounded by doc length, never corpus size).
    Shared by `remove_duplicated_spans` and `decontaminate_spans`.
    """
    per_doc = removable.groupBy("doc_id").agg(F.collect_list("pos").alias("__rm")).select(
        F.col("doc_id").alias("__rm_id"), "__rm"
    )
    toks = F.split(F.col(text_col), " ")
    joined = df.join(
        per_doc, df[id_col] == per_doc["__rm_id"], "left"
    ).select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.coalesce(F.col("__rm"), F.expr("CAST(array() AS array<int>)")).alias("__rm"),
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("__toks"))),
            lambda i: F.struct(
                i.alias("i"), F.element_at(F.col("__toks"), i).alias("t")
            ),
        ),
        lambda x: ~F.exists(
            F.col("__rm"), lambda p: (p <= x["i"]) & (x["i"] <= p + (k - 1))
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda x: x["t"]), " ").alias("cleaned_text"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


# ---------------------------------------------------------------------------
# Test-set decontamination (n-gram overlap vs an evaluation corpus)
# ---------------------------------------------------------------------------


def _positional_gram_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, pos, g): every n-token gram's 64-bit hash WITH its 1-based
    start position — the front half of `_duplicated_hits` without the
    document-frequency reduction, for span-level operators that must map
    a gram hit back to the tokens it covers."""
    from mcp_crawl4ai_rag_spark.partitioning import spread_for_compute

    df = spread_for_compute(df, id_col)
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                F.size(toks) >= n,
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            ).otherwise(F.expr("CAST(array() AS array<int>)"))
        ).alias("pos"),
        toks.alias("__toks"),
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.array_join(F.slice(F.col("__toks"), F.col("pos"), n), " ")).alias("g"),
    )


def _distinct_gram_hashes(df: DataFrame, text_col: str, id_col: str | None, n: int) -> DataFrame:
    """Distinct n-token-gram 64-bit hashes, optionally per document.

    Same tokenization + gram construction as `_duplicated_hits` (split on
    single space, `F.slice` over the token array, `xxhash64` of the
    space-joined gram) so the whole overlap check stays JVM-side: the
    hash — never the n-token string — is what shuffles or broadcasts.
    """
    from mcp_crawl4ai_rag_spark.partitioning import spread_for_compute

    df = spread_for_compute(df, *([id_col] if id_col else []))
    toks = F.split(F.col(text_col), " ")
    cols = [F.col(id_col).alias("doc_id")] if id_col else []
    grams = df.select(
        *cols,
        F.explode(
            F.when(
                F.size(toks) >= n,
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            ).otherwise(F.expr("CAST(array() AS array<int>)"))
        ).alias("pos"),
        toks.alias("__toks"),
    ).select(
        *(["doc_id"] if id_col else []),
        F.xxhash64(F.array_join(F.slice(F.col("__toks"), F.col("pos"), n), " ")).alias("g"),
    )
    return grams.distinct()


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    eval_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    >= ``min_hits`` distinct ``n``-token grams with an evaluation corpus
    (the GPT-3 appendix-C / Gopher §A.3 / Llama overlap rule — the stage
    every production training pipeline runs between dedup and sampling;
    the reference repo has no analogue, this is a training-data
    extension).

    Returns (doc_id, contaminated_grams, contaminated) for EVERY training
    doc — callers drop `contaminated` rows or route them to an audit sink.

    Scale shape at 100 TB: the training side is O(total tokens) exploded
    gram hashes (uniform 64-bit keys, map-side `distinct` partial
    aggregation prunes within-doc repeats before any exchange). Eval
    benchmarks are tiny relative to the corpus (10^5-10^7 grams), so the
    overlap check is a broadcast LEFT SEMI join — zero shuffle of the
    training grams; `broadcast_eval=False` falls back to a plain
    hash-partitioned semi join for pathologically large eval suites.
    Nothing is ever all-pairs and no per-doc state leaves the JVM.
    """
    eval_grams = _distinct_gram_hashes(eval_df, eval_text_col, None, n)
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    doc_grams = _distinct_gram_hashes(df, text_col, id_col, n)
    hits = (
        doc_grams.join(eval_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("contaminated_grams"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("contaminated_grams"), F.lit(0)).alias(
                "contaminated_grams"
            ),
            (F.coalesce(F.col("contaminated_grams"), F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def decontaminate_spans(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    eval_text_col: str = "text",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Surgical decontamination: instead of dropping a contaminated
    document wholesale (`decontaminate`), cut ONLY the tokens covered by
    an eval-overlapping n-gram window and keep the rest — the removal
    counterpart, exactly as `remove_duplicated_spans` is to
    `duplicated_token_spans` (and with the same one-pass caveat: the cut
    can create new grams across the splice boundary; rerun to a fixed
    point if the threat model demands it, as in Lee et al. substring
    removal).

    Returns (doc_id, cleaned_text, n_tokens, n_tokens_removed) for every
    training doc. Scale shape: positional gram hashes are O(total
    tokens) with uniform 64-bit keys; the overlap check is the same
    broadcast LEFT SEMI as `decontaminate` (eval side is the only
    broadcast; `broadcast_eval=False` falls back to a hash-partitioned
    semi join); removal windows and the token cut are per-doc bounded
    (`_cut_token_windows`). Nothing is all-pairs, no per-row Python.
    """
    eval_grams = _distinct_gram_hashes(eval_df, eval_text_col, None, n)
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    hits = (
        _positional_gram_hashes(df, text_col, id_col, n)
        .join(eval_grams, "g", "left_semi")
        .select("doc_id", "pos")
        .distinct()
    )
    return _cut_token_windows(df, text_col, id_col, hits, n)
