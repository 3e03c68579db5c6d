"""Golden toy-graph tests replicating the reference's test fixtures
(FIXTURES.md §2, citations into /root/reference) plus numpy/union-find
oracle checks on seeded random graphs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from giraph_spark.algorithms import (
    bfs,
    connected_components,
    label_propagation,
    max_label_propagation,
    pagerank,
    sssp,
    triangle_count,
    triangles_per_vertex,
)
from giraph_spark.algorithms.wcc import largest_component
from tests.oracles import (
    lpa_oracle,
    pagerank_oracle,
    sssp_oracle,
    triangles_oracle,
    wcc_oracle,
)

# ---------------------------------------------------------------- fixtures

# ConnectedComponentsComputationTest.java:48-107 (undirected adjacency)
WCC_EDGES = [
    (1, 2), (1, 3), (2, 4), (2, 5), (3, 4), (4, 5), (4, 13), (5, 12),
    (5, 13), (12, 13), (6, 7), (6, 8), (7, 10), (7, 11), (8, 10), (10, 11),
    (9, 9),  # vertex 9 is isolated — modeled as a self-loop row then dropped
]

# TestUndirectedTriangleCounting.java:35-80 (symmetric input)
TRI_EDGES = [
    (1, 4), (1, 5), (1, 6), (2, 4), (2, 6), (3, 6), (4, 5), (5, 6),
    (7, 8), (7, 9), (8, 9),
    (10, 11), (10, 12), (10, 13), (10, 14), (11, 12), (11, 13), (12, 13), (13, 14),
]
TRI_GOLDEN = {1: 2, 2: 0, 3: 0, 4: 1, 5: 2, 6: 1, 7: 1, 8: 1, 9: 1,
              10: 4, 11: 3, 12: 3, 13: 4, 14: 1}

# PageRankComputationTest.java:41-79 (directed; 3 is target-only + dangling)
PR_RW_EDGES = [(1, 4), (1, 2), (1, 3), (2, 1), (4, 3), (4, 2), (5, 2), (5, 4)]
PR_RW_GOLDEN = {
    1: 0.28159076008518047, 2: 0.2514648601529863, 3: 0.22262961972286327,
    4: 0.17646783276703806, 5: 0.06784692727193153,
}


def _edges_df(spark, pairs, weights=None):
    if weights is None:
        return spark.createDataFrame(pairs, "src long, dst long")
    rows = [(s, t, float(w)) for (s, t), w in zip(pairs, weights)]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def _random_digraph(seed: int, n: int, m: int) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    src = rng.randint(0, n, m)
    dst = rng.randint(0, n, m)
    return sorted({(int(s), int(t)) for s, t in zip(src, dst) if s != t})


# ---------------------------------------------------------------- PageRank


def test_pagerank_clique_and_ring_closed_form(spark):
    # PageRankTest.java:18-110 analytic graphs, 1e-7 after enough iterations
    n = 6
    clique = [(i, j) for i in range(n) for j in range(n) if i != j]
    res = pagerank(spark, _edges_df(spark, clique), max_supersteps=50).vertices.collect()
    assert all(abs(r["rank"] - 1.0) < 1e-7 for r in res)

    ring = [(i, (i + 1) % n) for i in range(n)]
    res = pagerank(spark, _edges_df(spark, ring), max_supersteps=50).vertices.collect()
    assert all(abs(r["rank"] - 1.0) < 1e-7 for r in res)


def test_pagerank_random_walk_fixture(spark):
    # normalized probabilities = blocks rank / N (mass conserved at N)
    run = pagerank(spark, _edges_df(spark, PR_RW_EDGES), max_supersteps=50)
    got = {r["id"]: r["rank"] / 5.0 for r in run.vertices.collect()}
    for v, p in PR_RW_GOLDEN.items():
        assert got[v] == pytest.approx(p, abs=1e-2)  # EPSILON from RandomWalkTestUtils.java:28


def test_pagerank_random_walk_knob_parity(spark):
    # salt / pre_partitioned must not change results beyond FP add-order
    # (salted two-level sum and a different partition layout both reorder
    # the gather sum -> ulp-level drift only, same class as the 7dp oracle)
    from giraph_spark.algorithms.pagerank import pagerank_random_walk

    edges = _edges_df(
        spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1), (6, 3), (2, 4)]
    )
    base = {r["id"]: r["rank"]
            for r in pagerank_random_walk(spark, edges, max_supersteps=12).vertices.collect()}
    for kw in ({"salt": 4}, {"pre_partitioned": True}):
        got = {r["id"]: r["rank"]
               for r in pagerank_random_walk(
                   spark, edges, max_supersteps=12, **kw).vertices.collect()}
        assert got.keys() == base.keys()
        assert all(abs(got[k] - base[k]) <= 1e-12 * max(1.0, abs(base[k])) for k in base), kw
    assert sum(base.values()) == pytest.approx(1.0, abs=1e-9)
    # the random walk is pagerank(damping = 1 - teleport) scaled by 1/N
    pr = {r["id"]: r["rank"]
          for r in pagerank(spark, edges, damping=0.85, max_supersteps=12).vertices.collect()}
    assert pr.keys() == base.keys()
    assert all(abs(pr[k] / len(pr) - base[k]) <= 1e-12 for k in base)


def test_pagerank_matches_numpy_oracle_exactly(spark):
    edges = _random_digraph(7, 60, 400)
    run = pagerank(spark, _edges_df(spark, edges), max_supersteps=40)
    got = {r["id"]: r["rank"] for r in run.vertices.collect()}
    want = pagerank_oracle(edges, iters=40)
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 1e-9 for v in want)


def test_pagerank_convergence_halt_and_mass_conservation(spark):
    edges = _random_digraph(11, 50, 300)
    run = pagerank(
        spark, _edges_df(spark, edges), max_supersteps=100, tolerance=1e-6, convergence="l1"
    )
    assert run.converged
    assert run.last_stats["l1"] < 1e-6
    n = run.vertices.count()
    total = run.vertices.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(n, rel=1e-9)


def test_pagerank_weighted_uniform_equals_unweighted(spark):
    # PageRankTest.java weighted≡unweighted equivalence under uniform weights
    edges = _random_digraph(3, 40, 200)
    unw = pagerank(spark, _edges_df(spark, edges), max_supersteps=20).vertices
    wdf = _edges_df(spark, edges, weights=[2.5] * len(edges))
    wei = pagerank(spark, wdf, weighted=True, max_supersteps=20).vertices
    joined = unw.withColumnRenamed("rank", "r1").join(
        wei.withColumnRenamed("rank", "r2"), "id"
    )
    bad = joined.where(F.abs(F.col("r1") - F.col("r2")) > 1e-7).count()
    assert bad == 0


def test_pagerank_salted_equals_unsalted(spark):
    edges = _random_digraph(5, 50, 400)
    a = pagerank(spark, _edges_df(spark, edges), max_supersteps=15).vertices
    b = pagerank(spark, _edges_df(spark, edges), max_supersteps=15, salt=4).vertices
    joined = a.withColumnRenamed("rank", "r1").join(b.withColumnRenamed("rank", "r2"), "id")
    bad = joined.where(F.abs(F.col("r1") - F.col("r2")) > 1e-9).count()
    assert bad == 0


# ---------------------------------------------------------------- WCC


def test_wcc_reference_fixture(spark):
    run = connected_components(spark, _edges_df(spark, WCC_EDGES))
    got = {r["id"]: r["component"] for r in run.vertices.collect()}
    # vertex 9's self-loop is dropped by symmetrize+clean; it stays isolated
    # only if present as a vertex — the engine derives vertices from edges,
    # so model isolation by checking the two big components exactly
    want = wcc_oracle([(a, b) for a, b in WCC_EDGES if a != b])
    for v, c in want.items():
        assert got[v] == c
    assert run.converged


def test_wcc_matches_union_find_on_random_graph(spark):
    edges = _random_digraph(13, 120, 200)
    run = connected_components(spark, _edges_df(spark, edges))
    got = {r["id"]: r["component"] for r in run.vertices.collect()}
    want = wcc_oracle(edges)
    assert got == want
    comp, size = largest_component(run.vertices)
    sizes: dict[int, int] = {}
    for c in want.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert size == max(sizes.values())


# ---------------------------------------------------------------- LPA


def test_max_label_fixture(spark):
    # MaxComputationTest.java:37-55 — directed 5->1, 1->5, 1->2, 2->5
    edges = [(5, 1), (1, 5), (1, 2), (2, 5)]
    run = max_label_propagation(spark, _edges_df(spark, edges))
    got = {r["id"]: r["label"] for r in run.vertices.collect()}
    assert got == {1: 5, 2: 5, 5: 5}


def test_lpa_two_cliques_match_oracle(spark):
    # two 4-cliques bridged by one edge; LPA should label each clique by
    # its min member (deterministic tie-break)
    cl1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = cl1 + cl2 + [(4, 10)]
    run = label_propagation(spark, _edges_df(spark, edges), max_supersteps=10)
    got = {r["id"]: r["label"] for r in run.vertices.collect()}
    want = lpa_oracle(edges, iters=run.supersteps)
    assert got == want


def test_lpa_matches_oracle_random(spark):
    edges = _random_digraph(23, 40, 120)
    run = label_propagation(spark, _edges_df(spark, edges), max_supersteps=5)
    got = {r["id"]: r["label"] for r in run.vertices.collect()}
    want = lpa_oracle(edges, iters=run.supersteps)
    assert got == want


def test_lpa_incremental_equals_full(spark):
    # The affected-dst recount (send-on-change economy) must be exactly
    # the synchronous fixpoint: threshold 1.0 forces the incremental
    # path from superstep 1 on; labels, supersteps, and the oracle all
    # have to match the always-full-scatter run.
    edges = _random_digraph(47, 60, 200)
    full = label_propagation(
        spark, _edges_df(spark, edges), max_supersteps=8,
        incremental_threshold=None,
    )
    incr = label_propagation(
        spark, _edges_df(spark, edges), max_supersteps=8,
        incremental_threshold=1.0,
    )
    assert any(h.get("incremental") for h in incr.history)
    assert incr.supersteps == full.supersteps
    a = {r["id"]: r["label"] for r in full.vertices.collect()}
    b = {r["id"]: r["label"] for r in incr.vertices.collect()}
    assert a == b
    assert b == lpa_oracle(edges, iters=incr.supersteps)


def test_lpa_incremental_weighted_equals_full(spark):
    import random

    rng = random.Random(11)
    rows = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(1, 4))
        for _ in range(150)
    ]
    rows = [(s, d, w) for s, d, w in rows if s != d]
    df = spark.createDataFrame(rows, "src long, dst long, n_links long")
    full = label_propagation(
        spark, df, max_supersteps=6, weight_col="n_links",
        incremental_threshold=None,
    )
    incr = label_propagation(
        spark, df, max_supersteps=6, weight_col="n_links",
        incremental_threshold=1.0,
    )
    assert any(h.get("incremental") for h in incr.history)
    a = {r["id"]: r["label"] for r in full.vertices.collect()}
    b = {r["id"]: r["label"] for r in incr.vertices.collect()}
    assert a == b


# ---------------------------------------------------------------- Triangles


def test_triangles_reference_fixture(spark):
    df = triangles_per_vertex(_edges_df(spark, TRI_EDGES))
    got = {r["id"]: r["triangles"] for r in df.collect()}
    assert got == TRI_GOLDEN
    assert triangle_count(_edges_df(spark, TRI_EDGES)) == sum(TRI_GOLDEN.values()) // 3 == 8


def test_triangles_random_matches_oracle(spark):
    edges = _random_digraph(31, 40, 250)
    got = {
        r["id"]: r["triangles"]
        for r in triangles_per_vertex(_edges_df(spark, edges)).collect()
    }
    want = triangles_oracle(edges)
    assert got == want


# ---------------------------------------------------------------- paths


def test_sssp_reference_fixture(spark):
    # SimpleShortestPathsComputationTest.java:114-152
    edges = [(1, 2, 1.0), (1, 3, 3.0), (2, 3, 1.0), (2, 4, 10.0), (3, 4, 2.0)]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    run = sssp(spark, df, source=1)
    got = {r["id"]: r["distance"] for r in run.vertices.collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: 4.0}


def test_sssp_random_matches_bellman_ford(spark):
    rng = np.random.RandomState(17)
    pairs = _random_digraph(17, 50, 300)
    edges = [(s, t, float(rng.randint(1, 10))) for s, t in pairs]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    run = sssp(spark, df, source=pairs[0][0])
    got = {r["id"]: r["distance"] for r in run.vertices.collect()}
    want = sssp_oracle(edges, source=pairs[0][0])
    assert got == want


def test_bfs_hops(spark):
    edges = [(1, 2), (2, 3), (3, 4), (9, 10)]
    run = bfs(spark, _edges_df(spark, edges), seeds=1)
    got = {r["id"]: r["hops"] for r in run.vertices.collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 9: -1, 10: -1}


def test_wcc_star_matches_frontier_on_random_graph(spark):
    """Alternating large/small-star == frontier min-label on arbitrary
    digraphs (same (id, component) contract)."""
    from giraph_spark.algorithms.wcc import (
        connected_components,
        connected_components_star,
    )

    n = 300
    rows = sorted(
        {((i * 13 + 7) % n, (i * 29 + 3) % n) for i in range(420)} - {(i, i) for i in range(n)}
    )
    e = spark.createDataFrame(rows, "src long, dst long")
    want = {
        r.id: r.component
        for r in connected_components(spark, e, max_supersteps=60).vertices.collect()
    }
    got_run = connected_components_star(spark, e)
    got = {r.id: r.component for r in got_run.vertices.collect()}
    assert got == want


def test_wcc_star_log_rounds_on_chain(spark):
    """A 2048-vertex chain needs ~2048 frontier supersteps but only
    O(log n) alternating-star rounds — the scale-path property."""
    from giraph_spark.algorithms.wcc import connected_components_star

    n = 2048
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    run = connected_components_star(spark, e)
    labels = {r.id: r.component for r in run.vertices.collect()}
    assert set(labels.values()) == {0} and len(labels) == n
    assert run.supersteps <= 15, f"took {run.supersteps} rounds"
