"""Link-graph operators: connected components + PageRank.

Neither exists in the reference (its dedup is per-URL and its scheduling
is FIFO — src/database/operations.py), but both are core large-scale
training-data-pipeline operations:

- ``connected_components`` turns near-dup PAIRS (from the minhash /
  simhash / winnow / embedding dedup families in operators/dedup.py)
  into dedup GROUPS, so a pipeline can keep one canonical document per
  group. Implemented as iterative min-label propagation over DataFrames —
  the standard Spark shape for components at scale (alternating
  small-star contraction; converges in O(log d) rounds on real graphs).
- ``pagerank`` scores the crawled link graph; the score is a frontier
  priority signal (CrawlEngine.seed_df accepts per-URL priorities), the
  classic crawl-ordering improvement over BFS.

Scale notes: every iteration is one shuffle on the node id (uniform
hash); labels/ranks are checkpointed to parquet every few rounds to cut
the lineage (iterative plans otherwise re-grow Catalyst trees); dangling
mass in PageRank is redistributed via a scalar aggregate, not a
collect of vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mcp_crawl4ai_rag_spark.frames import local_frame


def _edges_undirected(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    a = F.col(id_a).alias("src")
    b = F.col(id_b).alias("dst")
    return pairs.select(a, b).union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_max_edges: int = 1 << 17,
) -> DataFrame:
    """Connected components over an undirected pair list.

    Returns (id, component) where component = min node id in the
    component — the canonical "keep id" convention the exact-dedup
    operator already uses (dedup.py:exact_duplicates keep_id).

    Size-aware dispatch (the bounded-probe pattern of
    compile_robots_predicate / the engine's rank_window_threshold): a
    ``limit(driver_max_edges // 2 + 1)`` collect of the two id columns
    checks whether the WHOLE undirected edge list (two edges per pair)
    has at most ``driver_max_edges`` edges. If so, a union-find with
    union-by-min-root labels it in O(edges α) — by induction the root
    of every tree is its set's minimum, so find(v) IS the canonical min
    label, independent of edge order — replacing ~2 Spark jobs per
    propagation round with the single probe job, and the labels go back
    as an Arrow-backed local frame. A larger graph falls through to the
    distributed path below (the probe is one truncated extra job). Both
    paths produce the identical (id, comp) labeling; tests pin equality
    with the driver path disabled (``driver_max_edges=0``).

    Distributed path — iterative min-label propagation: each round every
    node takes the min of its own label and its neighbors' labels; stop
    when no label changes. Rounds are bounded by graph diameter (near-dup
    clusters are shallow); each round is one groupBy shuffle on node id.
    Labels are localCheckpointed each round to keep the plan tree flat.
    """
    edges = _edges_undirected(pairs, id_a, id_b)
    if driver_max_edges:
        probe = pairs.select(id_a, id_b).limit(driver_max_edges // 2 + 1).collect()
        if 2 * len(probe) <= driver_max_edges:
            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in probe:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                if a is None or b is None:
                    # as on the distributed path, whose equi-joins never
                    # match NULL: a null id is a node labeled NULL and
                    # its edges connect nothing
                    continue
                ra, rb = find(a), find(b)
                if ra != rb:
                    # always hang the larger root under the smaller one:
                    # keeps every tree's root = min of its members
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            rows = sorted(((v, find(v)) for v in parent), key=lambda r: (r[0] is None, r[0]))
            dtype = edges.schema["src"].dataType
            return local_frame(
                pairs.sparkSession,
                rows,
                StructType([StructField("id", dtype), StructField("comp", dtype)]),
            )
    edges = edges.cache()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                (
                    F.coalesce(F.col("nbr_comp"), F.col("comp")) < F.col("comp")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("changed")).limit(1).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("id", "comp")


def dedup_groups(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pairs → (component, n_members, keep_id, member_ids):
    one row per dedup group, members sorted, keep = min id."""
    comp = connected_components(pairs, id_a, id_b)
    return comp.groupBy("comp").agg(
        F.count("*").alias("n_members"),
        F.min("id").alias("keep_id"),
        F.sort_array(F.collect_list("id")).alias("member_ids"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """PageRank over a directed edge list; returns (id, rank), sum(rank)
    = n_nodes (the classic normalization where a rank of 1.0 is the
    uniform baseline).

    Per iteration: the ranks-with-degree state is localCheckpointed once
    (bounding lineage AND feeding both consumers without recompute), then
    one scalar aggregate picks up the dangling mass (nodes with no
    out-edges redistribute uniformly — computed as n_nodes minus the mass
    held by linking nodes, never a driver-side vector) and one groupBy
    shuffle sums contributions per destination. Deterministic: plain
    float arithmetic over a fixed iteration count.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).cache()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(n_iter):
        with_deg = ranks.join(out_deg, "id", "left").localCheckpoint()
        linking = with_deg.where(F.col("out_deg").isNotNull())
        # mass from linking nodes flows along edges; the rest is dangling.
        # The scalar aggregate stays IN the plan as a broadcast single-row
        # frame (no per-iteration driver collect — one fewer job each
        # round); the arithmetic is the same IEEE-754 double sequence the
        # collect-based formulation ran on the driver.
        mass = linking.agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__linking_mass")
        )
        contribs = (
            e.join(linking.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        dangling_share = (
            F.lit(float(n_nodes)) - F.col("__linking_mass")
        ) / F.lit(float(n_nodes))
        ranks = (
            nodes.join(contribs, "id", "left")
            .crossJoin(F.broadcast(mass))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + dangling_share)
                ).alias("rank"),
            )
        )
    e.unpersist()
    return ranks
