"""Embedding stub + vector math.

The reference embeds chunks with Qwen3-Embedding-4B (2560-dim, L2-normalized
— src/embedding/providers/local_qwen3.py:66-104, dim from
src/embedding/config.py:24). No model ships in this sandbox, so the engine
uses a *deterministic hash embedding*: seeded Gaussian from a stable digest
of the text, L2-normalized (matching the reference's normalization step at
local_qwen3.py:98 and apple-dev-mcp.py:144-146). The vector is meaningless
semantically but (a) deterministic across runs/partitions, (b) unit-norm,
(c) exercises the full vector pipeline (store, cosine top-k, hybrid merge).

Query-mode embeddings prepend the instruction prefix the reference uses
(local_qwen3.py:56-58).

Cosine similarity has two paths:
- ``cosine_sim`` — pure Column fold (zip_with + aggregate), JVM-side; exact
  sequential double-precision sum matching the DuckDB oracle.
- ``cosine_rows`` — the numpy kernel over a batch of rows: the same
  sequential fold below ``BLAS_DIM_THRESHOLD``, vectorized pairwise row
  sums at or above it. ``make_cosine_batch_udf`` and ``search.rag_query``'s Arrow
  pass both call it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 64
QUERY_INSTRUCTION = (
    "Instruct: Given a web search query, retrieve relevant passages that "
    "answer the query\nQuery: "
)


def hash_embed_py(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic unit-norm vector from text (oracle + kernel)."""
    digest = hashlib.blake2b((text or "").encode("utf-8"), digest_size=8).digest()
    seed = int.from_bytes(digest, "big")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim)
    n = np.linalg.norm(v)
    if n == 0:
        v = np.ones(dim)
        n = np.linalg.norm(v)
    return (v / n).astype(np.float32).tolist()


def make_hash_embed_udf(dim: int = DEFAULT_DIM):
    @pandas_udf(ArrayType(FloatType()))
    def hash_embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: hash_embed_py(t, dim))

    return hash_embed


def embed_query_py(query: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Query-mode embedding (instruction prefix, local_qwen3.py:56-58)."""
    return hash_embed_py(QUERY_INSTRUCTION + query.strip(), dim)


def feature_hash_embed(
    df, text_col: str, id_col: str, dim: int = 64
):
    """Sparse feature-hashing embedding (the "hashing trick", Weinberger
    et al. ICML'09): tokens hash to ``dim`` buckets (first 8 md5 hex
    chars mod dim) with a ±1 sign from a second hash bit (9th hex char
    parity), signed counts per bucket are L2-normalized per document.
    Returns exploded sparse rows (id, bucket, weight) — only nonzero
    buckets — rounded to 6dp.

    Unlike the Gaussian-RNG ``hash_embed_py`` stub (which emulates a
    neural embedder and is inherently non-SQL), every step here is a
    built-in: split/explode/md5/conv/groupBy/window — pure JVM
    whole-stage-codegen Columns, no Python, and the `feature_hash_embed`
    entry carries an exact DuckDB oracle twin.

    Scale shape: explode is a generator (no per-row Python); the signed
    count groupBy shuffles on (id, bucket) and the norm window on id —
    both uniform in the doc id, no hot keys; output is O(distinct
    buckets per doc) <= dim rows per document. At 100 TB this is the
    standard one-pass hashing-trick featurizer."""
    from mcp_crawl4ai_rag_spark.partitioning import spread_for_compute

    # the token explode + per-token md5 runs below the first exchange —
    # spread an under-split scan across the session first (§2.5)
    df = spread_for_compute(df, id_col)
    # explicit RE2-equivalent whitespace class: Java \s would also split
    # on \x0B, which DuckDB's RE2 \s does not — the one char on which the
    # oracle twin could diverge (ADVICE r4)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[ \t\n\r\f]+", -1),
        lambda t: F.length(t) > 0,
    )
    tok = F.explode(toks).alias("tok")
    base = df.select(F.col(id_col).alias("id"), tok)
    h = F.md5(F.col("tok"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim).alias(
        "bucket"
    )
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    counts = (
        base.select("id", bucket, sign.alias("s"))
        .groupBy("id", "bucket")
        .agg(F.sum("s").alias("cnt"))
        .where(F.col("cnt") != 0)
    )
    from pyspark.sql import Window

    norm = F.sqrt(
        F.sum(F.col("cnt") * F.col("cnt")).over(Window.partitionBy("id"))
    )
    return counts.select(
        "id",
        "bucket",
        F.round(F.col("cnt") / norm, 6).alias("weight"),
    )


def cosine_sim(vec_col: Column, query: list[float] | Column) -> Column:
    """Sequential-fold cosine similarity, pure Column expressions.

    Both vectors cast to double; sums fold left-to-right so the result is
    bit-stable and matches a sequential oracle. For unit vectors this equals
    the dot product, but we normalize anyway (operations.py:180-186 uses
    pgvector cosine distance, which normalizes). A zero-norm vector scores
    0.0, as in ``cosine_rows``, instead of a DIVIDE_BY_ZERO error under
    ANSI mode; every other row is the plain quotient.
    """
    q = F.lit(query) if isinstance(query, list) else query
    x = F.transform(vec_col, lambda v: v.cast("double"))
    y = F.transform(q, lambda v: v.cast("double"))
    dot = F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    nx = F.sqrt(F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v))
    ny = F.sqrt(F.aggregate(y, F.lit(0.0), lambda acc, v: acc + v * v))
    norms = nx * ny
    return F.when(norms == 0.0, F.lit(0.0)).otherwise(dot / norms)


# Above this dimensionality the Catalyst zip_with/aggregate fold (which
# expands to a per-element expression tree) loses to one vectorized numpy
# pass per Arrow batch. The reference's production vectors are 2560-dim halfvec
# (src/database/client.py:131, src/embedding/config.py:24) — firmly in
# BLAS territory; the 64-dim oracle fixtures stay on the exact
# sequential fold so the DuckDB hash gate remains bit-stable.
BLAS_DIM_THRESHOLD = 256


def cosine_rows(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of each row of the float64 matrix ``m`` against ``q``.

    Below BLAS_DIM_THRESHOLD the sums are left-to-right cumsum folds, bit-
    equal to ``cosine_sim``; at or above it, numpy's pairwise row sums,
    equal to the fold within float rounding. Either way each row's score
    depends on that row alone, not on its position in ``m``, so equal
    embeddings score bit-equal and tie (a BLAS matvec ``m @ q`` does not
    guarantee that). A zero-norm row scores 0.0 on both paths, as in
    ``cosine_sim``."""
    if m.shape[1] != q.shape[0]:
        raise ValueError(
            f"cosine: embedding dim {m.shape[1]} != query dim {q.shape[0]}"
        )
    if q.shape[0] >= BLAS_DIM_THRESHOLD:
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return (m * q).sum(axis=1) / (norms * np.linalg.norm(q))
    dot = np.cumsum(m * q, axis=1)[:, -1]
    nx = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
    nx[nx == 0] = 1.0
    return dot / (nx * np.sqrt(np.cumsum(q * q)[-1]))


def make_cosine_batch_udf(query: list[float]):
    """Numpy-vectorized cosine vs a fixed query, one ``cosine_rows`` call
    per Arrow batch."""
    q = np.asarray(query, dtype=np.float64)

    @pandas_udf("double")
    def cos(vecs: pd.Series) -> pd.Series:
        return pd.Series(cosine_rows(np.vstack(vecs.to_numpy()).astype(np.float64), q))

    return cos
