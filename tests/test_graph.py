"""Link-graph operators: connected components + PageRank.

PageRank is differentially tested against a numpy power-iteration oracle
implementing the identical formulation (rank sums to n, dangling mass
redistributed uniformly, (1-d) + d * inflow update).
"""

import numpy as np
import pytest

from mcp_crawl4ai_rag_spark.operators import graph as G


@pytest.fixture(scope="module")
def spark():
    from mcp_crawl4ai_rag_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=4)


def test_connected_components_chain_and_islands(spark):
    # two islands + a 5-node chain (diameter 4 → needs >1 propagation round)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13), (13, 14)],
        ["id_a", "id_b"],
    )
    comp = {r["id"]: r["comp"] for r in G.connected_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1,
        5: 5, 6: 5,
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
    }


def test_connected_components_driver_vs_distributed(spark):
    """The bounded-probe union-find path must label exactly like the
    distributed min-label propagation (driver_max_edges=0 disables the
    probe), including schema, on a random multi-component graph with
    dup/reversed/self edges."""
    rng = np.random.default_rng(7)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 60, size=(120, 2))
    ]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got_drv = G.connected_components(pairs)
    got_dist = G.connected_components(pairs, driver_max_edges=0)
    assert got_drv.schema == got_dist.schema
    drv = {r["id"]: r["comp"] for r in got_drv.collect()}
    dist = {r["id"]: r["comp"] for r in got_dist.collect()}
    assert drv == dist
    # threshold boundary: a graph larger than the cap takes the
    # distributed path and still matches
    tiny_cap = G.connected_components(pairs, driver_max_edges=8)
    assert {r["id"]: r["comp"] for r in tiny_cap.collect()} == drv


def test_connected_components_null_ids_driver_vs_distributed(spark):
    """Null ids: both paths return the same rows — a null id is one node
    labeled NULL, and an edge touching it connects nothing."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (None, None), (4, 5), (5, None), (6, 6)],
        "id_a long, id_b long",
    )

    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()), key=lambda t: (t[0] is None, t)
        )

    drv = rows(G.connected_components(pairs))
    dist = rows(G.connected_components(pairs, driver_max_edges=0))
    assert drv == dist == [
        (1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 6), (None, None)
    ]


def test_connected_components_driver_cap_boundary(spark, monkeypatch):
    """The probe collects pairs, and each pair is two undirected edges: a
    graph of exactly ``driver_max_edges`` edges takes the driver path, one
    edge fewer in the cap sends it to the distributed path, and both label
    it as ``driver_max_edges=0`` does."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 5), (9, 9), (4, None)], "id_a long, id_b long"
    )
    n_edges = 2 * pairs.count()
    driver_calls = []
    local_frame = G.local_frame
    monkeypatch.setattr(
        G, "local_frame", lambda *a: driver_calls.append(1) or local_frame(*a)
    )

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=lambda t: (t[0] is None, t))

    want = rows(G.connected_components(pairs, driver_max_edges=0))
    assert not driver_calls
    for cap, on_driver in [(n_edges, True), (n_edges + 1, True), (n_edges - 1, False)]:
        driver_calls.clear()
        assert rows(G.connected_components(pairs, driver_max_edges=cap)) == want
        assert bool(driver_calls) is on_driver, cap


def test_dedup_groups_membership(spark):
    pairs = spark.createDataFrame([(4, 2), (2, 9), (7, 8)], ["id_a", "id_b"])
    groups = {r["comp"]: r for r in G.dedup_groups(pairs).collect()}
    assert groups[2]["n_members"] == 3
    assert groups[2]["keep_id"] == 2
    assert groups[2]["member_ids"] == [2, 4, 9]
    assert groups[7]["member_ids"] == [7, 8]


def _pagerank_numpy(edges, n_iter=10, damping=0.85):
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    rank = np.ones(n)
    for _ in range(n_iter):
        inflow = np.zeros(n)
        for s, d in edges:
            inflow[idx[d]] += rank[idx[s]] / out_deg[idx[s]]
        dangling = rank[out_deg == 0].sum()
        rank = (1 - damping) + damping * (inflow + dangling / n)
    return {v: rank[idx[v]] for v in nodes}


def test_pagerank_matches_power_iteration(spark):
    # hub/authority structure + a dangling node (4 has no out-edges)
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (1, 4), (5, 3), (5, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in G.pagerank(df, n_iter=10).collect()}
    exp = _pagerank_numpy(edges, n_iter=10)
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-9, (v, got[v], exp[v])
    # mass conservation: sum(rank) == n_nodes
    assert abs(sum(got.values()) - len(exp)) < 1e-9


def test_pagerank_uniform_on_cycle(spark):
    # symmetric cycle → uniform ranks exactly 1.0
    edges = [(i, (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for r in G.pagerank(df, n_iter=7).collect():
        assert abs(r["rank"] - 1.0) < 1e-12


def test_entry_pagerank_ranks_clear_of_rounding_boundary():
    """The link_pagerank oracle gate compares ranks ROUNDED to 6dp; cross-
    engine float-summation spread is ~1e-9 over 8 iterations, so the gate
    is only stable if no fixture rank sits within ~1e-9 of a 0.5e-6
    rounding boundary. Pin that margin here (numpy twin of the entry
    graph: doc_id -> (doc_id*13+7) % 100) for the driver's sf0.01 and the
    local gates' sf0.001 — if a future fixture lands on a boundary, THIS
    fails with a clear message instead of the gate hash flipping
    nondeterministically."""
    for n_docs in (500, 5000):  # documents rows at sf0.001/0.01 and sf0.1
        edges = [
            (i, (i * 13 + 7) % 100) for i in range(n_docs) if i != (i * 13 + 7) % 100
        ]
        exp = _pagerank_numpy(edges, n_iter=8)
        for v, rank in exp.items():
            frac = abs(rank * 1e6 - np.floor(rank * 1e6) - 0.5)
            assert frac > 1e-3, (
                f"rank of node {v} at n_docs={n_docs} is within 1e-9 of a "
                f"6dp rounding boundary ({rank!r}) — the oracle hash gate "
                "would be summation-order-sensitive"
            )
