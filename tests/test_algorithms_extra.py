"""SCC, MIS, personalized PageRank, blocks framework, reducers library."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from giraph_spark.algorithms.bowtie import bowtie_decomposition
from giraph_spark.algorithms.kcore import coreness, k_core
from giraph_spark.algorithms.mis import maximal_independent_set
from giraph_spark.algorithms.ppr import personalized_pagerank
from giraph_spark.algorithms.scc import strongly_connected_components
from giraph_spark.blocks import (
    for_all_vertices,
    reduce_and_broadcast,
    remove_vertices,
    repeat,
    repeat_until,
    run_block,
    sequence,
)
from giraph_spark.reducers import arg_max, keyed_reduce, reducer, top_n
from tests.oracles import (
    bowtie_oracle,
    is_maximal_independent_set,
    ppr_oracle,
    scc_oracle,
)


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


# --- SCC -------------------------------------------------------------------

SCC_TOY = [
    # cycle {1,2,3}, cycle {4,5}, chain 3->4, isolated-ish 6->1
    (1, 2), (2, 3), (3, 1),
    (4, 5), (5, 4),
    (3, 4), (6, 1),
]


def test_scc_toy(spark):
    got = {
        r.id: r.scc
        for r in strongly_connected_components(spark, _edges_df(spark, SCC_TOY)).collect()
    }
    assert got == scc_oracle(SCC_TOY)


def test_scc_random(spark):
    rng = random.Random(11)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    got = {
        r.id: r.scc
        for r in strongly_connected_components(spark, _edges_df(spark, edges)).collect()
    }
    assert got == scc_oracle(edges)


def test_scc_long_path_inside_one_color(spark):
    """SCC {0, 1000} beside a 60-vertex path 1 -> ... -> 60 <-> 61 that
    1000 feeds: everything takes color 1000, and the backward closure
    from the root 1000 is two edges deep, so the default ``max_iters``
    suffices even though vertex 1 reaches 61 only 60 edges on."""
    edges = [(0, 1000), (1000, 0), (60, 61), (61, 60)]
    edges += [(1000, i) for i in range(1, 61)] + [(i, i + 1) for i in range(1, 60)]
    got = {
        r.id: r.scc
        for r in strongly_connected_components(spark, _edges_df(spark, edges)).collect()
    }
    assert got == scc_oracle(edges)


# --- MIS -------------------------------------------------------------------


def test_mis_is_maximal_independent(spark):
    rng = random.Random(5)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    rows = maximal_independent_set(spark, _edges_df(spark, edges)).collect()
    chosen = {r.id for r in rows if r.in_set}
    sym = edges + [(b, a) for a, b in edges]
    assert is_maximal_independent_set(sym, chosen)
    # determinism across runs
    rows2 = maximal_independent_set(spark, _edges_df(spark, edges)).collect()
    assert {r.id for r in rows2 if r.in_set} == chosen


# --- maximal matching ------------------------------------------------------


def test_maximal_matching_invariants(spark):
    from giraph_spark.algorithms.matching import maximal_matching

    rng = random.Random(11)
    edges = list({(rng.randrange(48), rng.randrange(48)) for _ in range(140)})
    edges = [(a, b) for a, b in edges if a != b]
    pairs = {(r.a, r.b) for r in maximal_matching(spark, _edges_df(spark, edges)).collect()}
    canon = {(min(a, b), max(a, b)) for a, b in edges}
    assert pairs <= canon
    # no vertex matched twice
    seen = [v for p in pairs for v in p]
    assert len(seen) == len(set(seen))
    # maximality: every unmatched edge touches a matched vertex
    matched_v = set(seen)
    for a, b in canon - pairs:
        assert a in matched_v or b in matched_v, (a, b)
    # determinism across runs
    pairs2 = {(r.a, r.b) for r in maximal_matching(spark, _edges_df(spark, edges)).collect()}
    assert pairs2 == pairs


def test_maximal_matching_matches_sql_replay(spark):
    import duckdb

    from giraph_spark.algorithms.matching import maximal_matching, matching_sql

    rng = random.Random(23)
    edges = list({(rng.randrange(64), rng.randrange(64)) for _ in range(200)})
    edges = [(a, b) for a, b in edges if a != b]
    got = {(r.a, r.b) for r in maximal_matching(spark, _edges_df(spark, edges)).collect()}
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    cte = f"edges AS MATERIALIZED (SELECT * FROM (VALUES {vals}) AS t(src, dst))"
    want = set(duckdb.sql(matching_sql(cte, 24)).fetchall())
    assert got == want


# --- personalized PageRank -------------------------------------------------

PPR_TOY = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]


def test_ppr_matches_oracle(spark):
    run = personalized_pagerank(
        spark, _edges_df(spark, PPR_TOY), sources=[1], teleport=0.2,
        max_supersteps=60, tolerance=1e-10,
    )
    got = {r.id: r.rank for r in run.vertices.collect()}
    want = ppr_oracle(PPR_TOY, [1], 0.2, iters=200)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_ppr_mass_biased_to_source_neighborhood(spark):
    run = personalized_pagerank(
        spark, _edges_df(spark, PPR_TOY), sources=[1], teleport=0.3,
        max_supersteps=40,
    )
    got = {r.id: r.rank for r in run.vertices.collect()}
    assert got[1] > got[5]


# --- blocks ----------------------------------------------------------------


def test_blocks_sequence_repeat(spark):
    v0 = spark.createDataFrame([(i, 0) for i in range(4)], "id long, x long")
    inc = for_all_vertices(lambda df: df.withColumn("x", F.col("x") + 1))
    run = run_block(spark, v0, sequence(inc, repeat(3, inc)))
    assert {r.x for r in run.vertices.collect()} == {4}


def test_blocks_repeat_until(spark):
    v0 = spark.createDataFrame([(i, 0) for i in range(4)], "id long, x long")

    def bump_and_count(df, s):
        out = df.withColumn("x", F.col("x") + 1)
        return out, {"max_x": out.agg(F.max("x")).collect()[0][0]}

    from giraph_spark.blocks import piece

    run = run_block(
        spark, v0,
        repeat_until(100, lambda stats, s: stats["max_x"] >= 5, piece(bump_and_count)),
    )
    assert {r.x for r in run.vertices.collect()} == {5}


def test_blocks_remove_and_broadcast(spark):
    v0 = spark.createDataFrame([(i, float(i)) for i in range(6)], "id long, v double")
    blk = sequence(
        remove_vertices(F.col("id") >= 4),
        reduce_and_broadcast(
            {"total": F.sum("v")},
            lambda df, vals: df.withColumn("share", F.col("v") / vals["total"]),
        ),
    )
    run = run_block(spark, v0, blk)
    rows = {r.id: r.share for r in run.vertices.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert abs(sum(rows.values()) - 1.0) < 1e-12


# --- reducers --------------------------------------------------------------


def test_reducer_library(spark):
    df = spark.createDataFrame(
        [(1, 2.0, True, "a"), (2, 3.0, False, "b"), (3, 4.0, True, "c")],
        "k long, v double, b boolean, s string",
    )
    row = df.agg(
        reducer("sum", "v").alias("sum"),
        reducer("min", "v").alias("min"),
        reducer("max", "v").alias("max"),
        reducer("product", "v").alias("product"),
        reducer("and", "b").alias("band"),
        reducer("or", "b").alias("bor"),
        reducer("xor", "k").alias("xor"),
        reducer("count", "v").alias("count"),
    ).collect()[0]
    assert row["sum"] == 9.0 and row["min"] == 2.0 and row["max"] == 4.0
    assert row["product"] == 24.0
    assert row["band"] is False and row["bor"] is True
    assert row["xor"] == (1 ^ 2 ^ 3)
    assert row["count"] == 3


def test_top_n_and_arg_max(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 30.0)], "k long, v double"
    )
    # deterministic: ties on v broken by ascending k
    assert [r.k for r in top_n(df, "v", 2).collect()] == [2, 4]
    assert [r.k for r in top_n(df, "v", 3).collect()] == [2, 4, 3]
    am = arg_max(df, "k", "v").collect()[0]
    assert am["k"] == 2 and am["v"] == 30.0  # tie -> smaller key


def test_keyed_reduce(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (1, 7.0), (2, 1.0)], "k long, v double"
    )
    got = {r.k: r.total for r in keyed_reduce(df, "k", "sum", "v", "total").collect()}
    assert got == {1: 12.0, 2: 1.0}


def test_send_message_chain_two_rounds(spark):
    """SendMessageChain.java:80-141 semantics: round 1 sums values into
    _received, round 2 forwards _received with a max combiner; a null
    message (no received value) sends nothing."""
    from giraph_spark.blocks import send_message_chain

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    ).persist()
    v0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "id long, value double"
    )
    blk = send_message_chain(
        [
            (lambda v: F.col("value"), edges, "sum"),
            (lambda v: F.col("_received"), edges, "max"),
        ],
        consume=lambda v: v.select(
            "id", F.coalesce("_received", F.lit(-1.0)).alias("value")
        ),
    )
    run = run_block(spark, v0, blk)
    got = {r.id: r.value for r in run.vertices.collect()}
    # round1 sums: 1<-70 (30+40), 2<-10, 3<-20, 4<-null
    # round2 forwards received: 1<-20, 2<-70, 3<-10, 4 sends nothing
    assert got == {1: 20.0, 2: 70.0, 3: 10.0, 4: -1.0}
    # two links + the consume piece + run_block's end-detection step
    assert run.supersteps == 4
    edges.unpersist()


def test_matrix_and_vector_reduce(spark):
    from giraph_spark.reducers import matrix_reduce, vector_reduce

    m = spark.createDataFrame(
        [(0, 0, 1.0), (0, 0, 2.0), (0, 1, 5.0), (2, 1, -1.0)],
        "row long, col long, val double",
    )
    got = {(r.row, r.col): r.val for r in matrix_reduce(m).collect()}
    assert got == {(0, 0): 3.0, (0, 1): 5.0, (2, 1): -1.0}
    got_max = {(r.row, r.col): r.val for r in matrix_reduce(m, "max").collect()}
    assert got_max[(0, 0)] == 2.0

    vec = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (1, 3.5)], "pos long, val double"
    )
    got_v = {r.pos: r.val for r in vector_reduce(vec).collect()}
    assert got_v == {0: 1.0, 1: 5.5}


def test_k_core_matches_python_peeling(spark):
    n = 120
    rows = sorted({((i * 7 + 3) % n, (i * 11 + 5) % n) for i in range(400)})
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    for k in (2, 4, 6):
        got = {r.id: r.in_core for r in k_core(spark, e, k).collect()}
        # python peeling model
        import collections

        adj = collections.defaultdict(set)
        for a, b in rows:
            adj[a].add(b)
            adj[b].add(a)
        deg = {v: len(s) for v, s in adj.items()}
        nbr = {v: set(s) for v, s in adj.items()}
        while True:
            drop = [v for v, d in deg.items() if d < k]
            if not drop:
                break
            for v in drop:
                for u in nbr[v]:
                    if u in deg and u not in drop:
                        deg[u] -= 1
                        nbr[u].discard(v)
                deg.pop(v)
                nbr.pop(v)
        want = {v: (1 if v in deg else 0) for v in adj}
        assert got == want, f"k={k}"


def test_hits_matches_numpy_power_iteration(spark):
    import numpy as np

    from giraph_spark.algorithms.hits import hits

    n = 60
    rows = sorted({((i * 13 + 1) % n, (i * 29 + 7) % n) for i in range(220)})
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    run = hits(spark, e, max_supersteps=6)
    got = {r.id: (r.auth, r.hub) for r in run.vertices.collect()}

    # numpy model: A[u,v]=1 for edge u->v; a'=A.T h; h'=A a'; L2-normalize
    ids = sorted({v for r in rows for v in r})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for u, v in rows:
        A[idx[u], idx[v]] = 1.0
    h = np.full(len(ids), 1.0 / np.sqrt(len(ids)))
    a = h.copy()
    for _ in range(6):
        a = A.T @ h
        h_raw = A @ a
        a = a / np.linalg.norm(a)
        h = h_raw / np.linalg.norm(h_raw)
    for v in ids:
        assert abs(got[v][0] - a[idx[v]]) < 1e-9, f"auth {v}"
        assert abs(got[v][1] - h[idx[v]]) < 1e-9, f"hub {v}"
    assert run.supersteps == 6


def test_rmat_skewed_and_parallelism_invariant(spark):
    from giraph_spark.datasets import rmat_edges

    e = rmat_edges(spark, scale=10, n_edges=4096, seed=3, partitions=8)
    rows = {(r.src, r.dst) for r in e.collect()}
    assert all(0 <= a < 1024 and 0 <= b < 1024 and a != b for a, b in rows)
    # identical set at a different partitioning (pure function of i)
    e2 = rmat_edges(spark, scale=10, n_edges=4096, seed=3, partitions=2)
    assert {(r.src, r.dst) for r in e2.collect()} == rows
    # hub skew: with a=0.57 the max in-degree dwarfs the mean
    indeg = {}
    for _, b in rows:
        indeg[b] = indeg.get(b, 0) + 1
    mean = sum(indeg.values()) / len(indeg)
    assert max(indeg.values()) > 8 * mean


def test_pointer_jump_resolves_chains_and_detects_cycles(spark):
    from giraph_spark.algorithms.paths import pointer_jump

    # chain 5->4->3->2->1->0 plus a side branch 9->3
    links = [(i, i - 1) for i in range(1, 6)] + [(9, 3)]
    e = spark.createDataFrame(links, "src long, dst long")
    got = {r.id: (r.final, r.hops) for r in pointer_jump(spark, e).collect()}
    assert got == {1: (0, 1), 2: (0, 2), 3: (0, 3), 4: (0, 4),
                   5: (0, 5), 9: (0, 4)}

    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match="cycle"):
        pointer_jump(spark, cyc, max_rounds=6)


def test_rectangle_count_matches_bruteforce(spark):
    from giraph_spark.algorithms.triangles import rectangle_count

    rng = random.Random(7)
    n = 18
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    e = _edges_df(spark, edges)
    got = rectangle_count(e).collect()[0].n_rectangles

    adj = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    walks = 0  # each 4-cycle appears 8x as an ordered closed walk tuple
    for a in range(n):
        for b in range(n):
            if (a, b) not in adj:
                continue
            for c in range(n):
                if c == a or (b, c) not in adj:
                    continue
                for d in range(n):
                    if d in (a, b) or c == b:
                        continue
                    if (c, d) in adj and (d, a) in adj:
                        walks += 1
    assert walks % 8 == 0
    assert got == walks // 8
    # a cap at max degree must not change the exact count
    max_deg = max(
        sum(1 for x in adj if x[0] == v) for v in range(n)
    )
    capped = rectangle_count(e, max_pivot_degree=max_deg).collect()[0]
    assert capped.n_rectangles == got


def test_trustrank_matches_numpy_iteration(spark):
    import numpy as np

    from giraph_spark.algorithms.ppr import trustrank

    # weighted digraph with a sink (vertex 5 has no out-edges)
    rows = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 3.0), (2, 3, 1.0),
            (3, 0, 1.0), (3, 4, 4.0), (4, 5, 1.0), (2, 5, 2.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    seeds = [0, 3]
    run = trustrank(spark, e, seeds, teleport=0.15, max_supersteps=6,
                    weighted=True)
    got = {r.id: r.trust for r in run.vertices.collect()}

    n = 6
    W = np.zeros((n, n))
    for u, v, w in rows:
        W[u, v] = w
    out = W.sum(axis=1)
    has_out = out > 0
    Wn = np.divide(W, out[:, None], out=np.zeros_like(W), where=out[:, None] > 0)
    d = np.zeros(n)
    for s in seeds:
        d[s] = 1.0 / len(seeds)
    t = d.copy()
    for _ in range(6):
        sink = t[~has_out].sum()
        t = 0.85 * (Wn.T @ t + sink * d) + 0.15 * d
    for v in range(n):
        assert abs(got[v] - t[v]) < 1e-12, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_katz_matches_numpy_iteration(spark):
    import numpy as np

    from giraph_spark.algorithms.hits import katz_centrality

    n = 50
    rows = sorted({((i * 7 + 3) % n, (i * 23 + 11) % n) for i in range(180)})
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    run = katz_centrality(spark, e, alpha=0.05, beta=1.0, max_supersteps=7)
    got = {r.id: r.katz for r in run.vertices.collect()}

    ids = sorted({v for r in rows for v in r})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for u, v in rows:
        A[idx[u], idx[v]] = 1.0
    x = np.full(len(ids), 1.0)
    for _ in range(7):
        x = 1.0 + 0.05 * (A.T @ x)
    for v in ids:
        assert abs(got[v] - x[idx[v]]) < 1e-9, v
    assert run.supersteps == 7

    # tolerance halt
    t = katz_centrality(spark, e, max_supersteps=60, tolerance=1e-12)
    assert t.converged and t.supersteps < 60


def test_hits_tolerance_halts(spark):
    from giraph_spark.algorithms.hits import hits

    n = 40
    rows = sorted({((i * 3 + 2) % n, (i * 17 + 5) % n) for i in range(150)})
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    run = hits(spark, e, max_supersteps=50, tolerance=1e-12)
    assert run.converged and run.supersteps < 50


def _alg_fn(module: str, name: str):
    import importlib

    return getattr(importlib.import_module(f"giraph_spark.algorithms.{module}"), name)


def _pairs(n: int, m: int, a: int, b: int, c: int, d: int) -> list[tuple[int, int]]:
    rows = sorted({((i * a + b) % n, (i * c + d) % n) for i in range(m)})
    return [(u, v) for u, v in rows if u != v]


# caller -> (edge pairs, key columns, call(spark, edges, salt) -> result frame)
_SALT_PARITY = {
    "ppr": (_pairs(50, 180, 7, 3, 23, 11), ["id"], lambda s, e, salt: _alg_fn(
        "ppr", "personalized_pagerank")(s, e, [3, 10], max_supersteps=8, tolerance=None, salt=salt)),
    "ppr_batch": (_pairs(50, 180, 7, 3, 23, 11), ["seed", "id"], lambda s, e, salt: _alg_fn(
        "ppr", "ppr_batch")(s, e, [3, 10], max_supersteps=8, tolerance=None, salt=salt)),
    "eigenvector": (_pairs(50, 180, 7, 3, 23, 11), ["id"], lambda s, e, salt: _alg_fn(
        "hits", "eigenvector_centrality")(s, e, max_supersteps=6, salt=salt)),
    "salsa": (_pairs(50, 180, 7, 3, 23, 11), ["id"], lambda s, e, salt: _alg_fn(
        "hits", "salsa")(s, e, max_supersteps=6, salt=salt)),
    "hits": (_pairs(40, 150, 3, 2, 17, 5), ["id"], lambda s, e, salt: _alg_fn(
        "hits", "hits")(s, e, max_supersteps=4, salt=salt)),
    "katz": (_pairs(50, 180, 7, 3, 23, 11), ["id"], lambda s, e, salt: _alg_fn(
        "hits", "katz_centrality")(s, e, alpha=0.05, max_supersteps=7, salt=salt)),
}


@pytest.mark.parametrize("name", sorted(_SALT_PARITY))
def test_salted_gather_equals_unsalted(spark, name):
    """salt=4 (the two-level content-salted gather) gives the unsalted
    result to 1e-12 on every value column."""
    rows, keys, call = _SALT_PARITY[name]
    e = spark.createDataFrame(rows, "src long, dst long")

    def values(salt):
        return {
            tuple(r[k] for k in keys): [v for c, v in r.asDict().items() if c not in keys]
            for r in call(spark, e, salt).vertices.collect()
        }

    plain, salted = values(None), values(4)
    assert plain and plain.keys() == salted.keys()
    for k, vals in plain.items():
        for a, b in zip(vals, salted[k], strict=True):
            assert abs(a - b) < 1e-12, (name, k, a, b)


def test_random_walks_deterministic_and_valid(spark):
    from giraph_spark.algorithms.walks import random_walks

    n = 50
    # two generators per source → out-degree ≥ 2, so the hash actually chooses
    rows = sorted(
        {((i * 7 + 1) % n, (i * 19 + 3) % n) for i in range(160)}
        | {((i * 7 + 1) % n, (i * 31 + 11) % n) for i in range(160)}
    )
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    out = random_walks(spark, e, length=5, seed=3)
    got = {(r.walk, r.step): r.vertex for r in out.collect()}

    # every consecutive hop must be a real edge; step0 = start
    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
    starts = {v for r in rows for v in r}
    assert {w for (w, s) in got if s == 0} == starts
    for (w, s), v in got.items():
        if s == 0:
            assert v == w
        else:
            prev = got.get((w, s - 1))
            assert prev is not None and v in adj[prev]
        # a walk row exists at step s only if the previous hop had out-edges
    # deterministic: rerun gives identical rows
    again = {(r.walk, r.step): r.vertex for r in
             random_walks(spark, e, length=5, seed=3).collect()}
    assert got == again
    # different seed diverges somewhere
    other = {(r.walk, r.step): r.vertex for r in
             random_walks(spark, e, length=5, seed=4).collect()}
    assert got != other


def test_adamic_adar_matches_bruteforce(spark):
    import math

    from giraph_spark.algorithms.linkpred import adamic_adar, skipped_pivots

    n = 40
    rows = sorted(
        {((i * 3 + 1) % n, (i * 11 + 5) % n) for i in range(120)}
        | {((i * 13 + 2) % n, (i * 7 + 9) % n) for i in range(120)}
    )
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    cap = 8
    got = {
        (r.u, r.v): (r.common_neighbors, r.aa)
        for r in adamic_adar(e, max_degree=cap).collect()
    }

    nbr: dict[int, set[int]] = {}
    for a, b in rows:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    want = {}
    for z, s in nbr.items():
        if len(s) > cap:
            continue
        for u in s:
            for v in s:
                if u < v and v not in nbr[u]:
                    c, aa = want.get((u, v), (0, 0.0))
                    want[(u, v)] = (c + 1, aa + 1.0 / math.log(len(s)))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9
    skipped = {r.z for r in skipped_pivots(e, cap).collect()}
    assert skipped == {z for z, s in nbr.items() if len(s) > cap}


def test_degree_assortativity(spark):
    from giraph_spark.graph import degree_assortativity

    # star graph: hub degree n-1 links only to leaves (degree 1) → r < 0
    star = spark.createDataFrame([(0, i) for i in range(1, 8)], "src long, dst long")
    r = degree_assortativity(star).collect()[0][0]
    assert r < -0.99
    # cycle: all degrees equal → corr undefined (null)
    cyc = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)], "src long, dst long")
    assert degree_assortativity(cyc).collect()[0][0] is None


def test_harmonic_centrality_matches_bruteforce(spark):
    from collections import deque

    from giraph_spark.algorithms.paths import harmonic_centrality

    n = 45
    rows = sorted(
        {((i * 5 + 2) % n, (i * 17 + 3) % n) for i in range(140)}
        | {((i * 9 + 1) % n, (i * 23 + 6) % n) for i in range(140)}
    )
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    seeds = [0, 1, 2, 5]
    run = harmonic_centrality(spark, e, seeds)
    got = {r.id: (r.harmonic, r.n_reached) for r in run.vertices.collect()}

    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
    verts = {v for r in rows for v in r}
    want = {v: [0.0, 0] for v in verts}
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj.get(u, ()):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        for v, d in dist.items():
            if d > 0:
                want[v][0] += 1.0 / d
                want[v][1] += 1
    assert set(got) == set(want)
    for v in verts:
        assert abs(got[v][0] - want[v][0]) < 1e-9, v
        assert got[v][1] == want[v][1], v


def test_sample_neighbors_deterministic_subset(spark):
    from giraph_spark.algorithms.walks import sample_neighbors

    n = 30
    rows = sorted(
        {(i % n, (i * 7 + j) % n) for i in range(90) for j in (1, 2, 3, 4, 5)}
    )
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {(r.src, r.dst) for r in sample_neighbors(e, fanout=3, seed=2).collect()}
    assert got <= set(rows)
    import collections

    per_src = collections.Counter(s for s, _ in got)
    deg = collections.Counter(s for s, _ in rows)
    for s, d in deg.items():
        assert per_src[s] == min(3, d), s
    # salted path must agree exactly with the unsalted one
    salted = {(r.src, r.dst) for r in
              sample_neighbors(e, fanout=3, seed=2, salt=4).collect()}
    assert salted == got
    # different seed picks a different subset somewhere
    other = {(r.src, r.dst) for r in sample_neighbors(e, fanout=3, seed=9).collect()}
    assert other != got


def test_neighborhood_mean_two_hops(spark):
    from giraph_spark.algorithms.linkpred import neighborhood_mean

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    feats = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 4.0), (4, 8.0)], "id long, f double"
    )
    got = {r.id: (r.h1, r.h2) for r in neighborhood_mean(edges, feats).collect()}
    # h1: 3 <- mean(1,2)=1.5; 4 <- 4.0; 1 <- 8.0; 2 <- none
    assert got[3][0] == 1.5 and got[4][0] == 4.0 and got[1][0] == 8.0
    assert got[2][0] is None
    # h2: 3 <- mean(h1[1], h1[2]) = mean(8.0, null) = 8.0; 4 <- h1[3]=1.5; 1 <- h1[4]=4.0
    assert got[3][1] == 8.0 and got[4][1] == 1.5 and got[1][1] == 4.0
    assert got[2][1] is None


def test_node2vec_walks_model(spark):
    from giraph_spark.algorithms.walks import node2vec_walks

    M = 2_147_483_647

    def prio(cur, dst, step, seed):
        inner = (
            ((cur % M) * 2654435761) % M
            + ((dst % M) * 2246822519) % M
            + step * 40503
            + seed * 97
        ) % M
        return (inner * inner + inner) % M

    n = 35
    rows = sorted(
        {((i * 3 + 1) % n, (i * 11 + 4) % n) for i in range(110)}
        | {((i * 13 + 5) % n, (i * 7 + 2) % n) for i in range(110)}
    )
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    p_, q_, seed, L = 2.0, 0.5, 6, 4
    got = {(r.walk, r.step): r.vertex
           for r in node2vec_walks(spark, e, length=L, p=p_, q=q_, seed=seed).collect()}

    adj = {}
    eset = set(rows)
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
    cp, ck, cq = 2000, 1000, 500
    want = {}
    for w in {v for r in rows for v in r}:
        prev, cur = None, w
        want[(w, 0)] = w
        for t in range(1, L + 1):
            if cur not in adj:
                break

            def score(d, prev=prev, cur=cur, t=t):
                pen = 1 if prev is None else (
                    cp if d == prev else (ck if (prev, d) in eset else cq)
                )
                return (prio(cur, d, t, seed) * pen, d)

            nxt = min(adj[cur], key=score)
            want[(w, t)] = nxt
            prev, cur = cur, nxt
    assert got == want
    # p=q=1 must equal random_walks' choices
    from giraph_spark.algorithms.walks import random_walks

    uni = {(r.walk, r.step): r.vertex
           for r in node2vec_walks(spark, e, length=3, p=1.0, q=1.0, seed=2).collect()}
    plain = {(r.walk, r.step): r.vertex
             for r in random_walks(spark, e, length=3, seed=2).collect()}
    assert uni == plain


def test_pagerank_warm_start(spark):
    """init_ranks = the incremental-recompute path after a mutation:
    seeding with a converged vector converges immediately on the same
    graph, and on a perturbed graph reaches the perturbed fixpoint
    (contraction-stable — how many steps it saves depends on how far
    the perturbation moved the fixpoint, so only correctness is
    asserted)."""
    from giraph_spark.algorithms.pagerank import pagerank

    n = 200
    rows = sorted(
        {((i * 7 + 1) % n, (i * 13 + 5) % n) for i in range(700)}
        | {((i * 3 + 2) % n, (i * 29 + 7) % n) for i in range(700)}
    )
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    cold = pagerank(spark, e, max_supersteps=150, tolerance=1e-9)
    assert cold.converged

    # same graph: already at the fixpoint -> halts in one superstep
    same = pagerank(
        spark, e, max_supersteps=150, tolerance=1e-9, init_ranks=cold.vertices
    )
    assert same.converged and same.supersteps <= 2

    # perturbed graph: warm start converges to the SAME fixpoint a cold
    # run finds (vertices missing from init_ranks default to 1.0)
    e2 = spark.createDataFrame(rows[10:], "src long, dst long")
    warm = pagerank(
        spark, e2, max_supersteps=150, tolerance=1e-9,
        init_ranks=cold.vertices.limit(150),  # partial warm vector
    )
    cold2 = pagerank(spark, e2, max_supersteps=150, tolerance=1e-9)
    assert warm.converged and cold2.converged
    a = {r.id: r.rank for r in warm.vertices.collect()}
    b = {r.id: r.rank for r in cold2.vertices.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-5, k


def test_eccentricity_path_and_sink_seed(spark):
    from giraph_spark.algorithms.paths import eccentricity

    # directed path 0->1->2->3; seed 3 has no out-edges (ecc 0 over
    # its reachable set, n_reached 0)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    run = eccentricity(spark, e, seeds=[0, 1, 3])
    got = {r.seed: (r.eccentricity, r.n_reached) for r in run.vertices.collect()}
    assert got == {0: (3, 3), 1: (2, 2), 3: (0, 0)}
    assert run.converged


def test_modularity_two_triangles(spark):
    from giraph_spark.graph import modularity

    # two triangles bridged by one edge: Q of the natural partition is
    # 12/14 - 2*(7/14)^2 = 5/14
    tri = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = spark.createDataFrame(tri, "src long, dst long")
    labels = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "id long, label long"
    )
    q = modularity(e, labels).collect()[0][0]
    assert abs(q - 5.0 / 14.0) < 1e-9
    # one community holding everything scores exactly 0
    one = spark.createDataFrame([(i, 7) for i in range(6)], "id long, label long")
    assert abs(modularity(e, one).collect()[0][0]) < 1e-9


def test_k_truss_two_triangles_and_k4(spark):
    from giraph_spark.algorithms.kcore import k_truss

    # triangles (0,1,2) and (1,2,3) share edge (1,2): its support is 2,
    # every other edge's is 1
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    t3 = {(r.u, r.v): r.support for r in k_truss(spark, e, k=3).collect()}
    assert t3 == {(0, 1): 1, (0, 2): 1, (1, 2): 2, (1, 3): 1, (2, 3): 1}
    # k=4 peels everything: dropping the support-1 edges leaves (1,2)
    # triangle-free, so the 4-truss is empty
    assert k_truss(spark, e, k=4).count() == 0
    # K4 is its own 4-truss (every edge in exactly 2 triangles)
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    t4 = {(r.u, r.v): r.support for r in k_truss(spark, k4, k=4).collect()}
    assert t4 == {(a, b): 2 for a in range(4) for b in range(a + 1, 4)}


def test_reciprocity_and_transitivity(spark):
    from giraph_spark.graph import reciprocity, transitivity

    # (0,1)+(1,0) mutual, (1,2) not; self-loop and duplicate ignored
    e = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 2), (1, 2)], "src long, dst long"
    )
    assert abs(reciprocity(e).collect()[0][0] - 2.0 / 3.0) < 1e-12
    # triangle: every wedge closed
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    assert abs(transitivity(tri).collect()[0][0] - 1.0) < 1e-12
    # path: two wedge-less leaves + one open wedge -> 0
    path = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    assert transitivity(path).collect()[0][0] == 0.0
    # single edge: no wedge at all -> NULL (try_divide)
    one = spark.createDataFrame([(0, 1)], "src long, dst long")
    assert transitivity(one).collect()[0][0] is None


def test_watts_strogatz_lattice_and_rewiring(spark):
    from giraph_spark.datasets import watts_strogatz_edges

    # beta=0: the exact ring lattice, no edge dropped
    ws0 = watts_strogatz_edges(spark, 64, 3, 0.0, seed=3)
    got = {(r.src, r.dst) for r in ws0.collect()}
    want = {(v, (v + j) % 64) for v in range(64) for j in (1, 2, 3)}
    assert got == want
    # beta=1: every edge re-drawn -> far from the lattice, deterministic
    ws1 = watts_strogatz_edges(spark, 64, 3, 1.0, seed=3)
    g1 = {(r.src, r.dst) for r in ws1.collect()}
    assert g1 == {(r.src, r.dst) for r in watts_strogatz_edges(spark, 64, 3, 1.0, seed=3).collect()}
    assert len(g1 & want) < len(want) // 2


def test_betweenness_path_diamond_multiseed(spark):
    from giraph_spark.algorithms.betweenness import betweenness_centrality

    # diamond 0->{1,2}->3, seed 0: two shortest paths to 3 split the
    # dependency: delta(1) = delta(2) = 1/2
    dia = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {r.id: r.betweenness for r in betweenness_centrality(spark, dia, [0]).collect()}
    assert got == {0: 0.0, 1: 0.5, 2: 0.5, 3: 0.0}
    # path 0->1->2->3, seeds {0,1}: B(1) = delta_0(1) = 2,
    # B(2) = delta_0(2) + delta_1(2) = 1 + 1
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    got = {
        r.id: r.betweenness
        for r in betweenness_centrality(spark, path, [0, 1]).collect()
    }
    assert got == {0: 0.0, 1: 2.0, 2: 2.0, 3: 0.0}


def test_salsa_star_and_l1(spark):
    from giraph_spark.algorithms.hits import salsa

    # 3 hubs -> one authority: auth concentrates on 0, hubs split evenly
    star = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "src long, dst long")
    run = salsa(spark, star, max_supersteps=4)
    got = {r.id: (r.auth, r.hub) for r in run.vertices.collect()}
    assert abs(got[0][0] - 1.0) < 1e-12 and abs(got[0][1]) < 1e-12
    for u in (1, 2, 3):
        assert abs(got[u][0]) < 1e-12 and abs(got[u][1] - 1.0 / 3.0) < 1e-12
    # L1 masses stay 1 on an arbitrary graph
    rows = [((i * 7 + 3) % 30, (i * 11 + 5) % 30) for i in range(80)]
    g = spark.createDataFrame([(a, b) for a, b in rows if a != b], "src long, dst long")
    run2 = salsa(spark, g, max_supersteps=3)
    s = run2.vertices.agg(F.sum("auth"), F.sum("hub")).collect()[0]
    assert abs(s[0] - 1.0) < 1e-9 and abs(s[1] - 1.0) < 1e-9


def test_bowtie_classic_shape(spark):
    from giraph_spark.algorithms.bowtie import canonical_seed

    # IN: 10->0; CORE: 0<->1 cycle (seed = max-degree vertex 0);
    # OUT: 1->20->21; OTHER: 30->31 disconnected
    e = spark.createDataFrame(
        [(10, 0), (0, 1), (1, 0), (1, 20), (20, 21), (30, 31)],
        "src long, dst long",
    )
    assert canonical_seed(e) == 0  # degree 3, beats vertex 1 on id tie? no: 1 also 3 -> min id
    got = {r.id: r.region for r in bowtie_decomposition(spark, e).collect()}
    assert got == {
        0: "CORE", 1: "CORE", 10: "IN", 20: "OUT", 21: "OUT",
        30: "OTHER", 31: "OTHER",
    }


@pytest.mark.parametrize(
    "graph_seed, seed_in_small_scc", [(3, False), (17, False), (29, True)]
)
def test_bowtie_random_digraphs(spark, graph_seed, seed_in_small_scc):
    """Against the reachability oracle, from the canonical seed or from an
    explicit seed inside a 2-4 vertex SCC (then CORE is that SCC)."""
    rng = random.Random(graph_seed)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    seed = None
    if seed_in_small_scc:
        sizes = Counter(scc_oracle(edges).values())
        seed = min(label for label, size in sizes.items() if 2 <= size <= 4)
    got = bowtie_decomposition(spark, _edges_df(spark, edges), seed=seed).collect()
    want = bowtie_oracle(edges, seed=seed)
    assert {r.id: r.region for r in got} == want
    if seed_in_small_scc:
        assert 2 <= list(want.values()).count("CORE") <= 4


# cycle length -> a call whose propagation budget is too small for it
_BUDGET_CASES = {
    "scc": (12, lambda s, e: strongly_connected_components(s, e, max_iters=2)),
    "bowtie": (31, lambda s, e: bowtie_decomposition(s, e, seed=0, max_supersteps=5)),
}


@pytest.mark.parametrize("case", sorted(_BUDGET_CASES))
def test_reachability_budget_exhausted_raises(spark, case):
    """A closure that runs out of supersteps raises instead of returning a
    partial answer (on a cycle, which is one SCC: singleton SCCs, or
    IN/OUT/OTHER where every vertex is CORE), and frees its blocks."""
    n, call = _BUDGET_CASES[case]
    sc = spark.sparkContext
    e = _edges_df(spark, [(i, (i + 1) % n) for i in range(n)])
    before = set(sc._jsc.getPersistentRDDs())  # noqa: SLF001
    with pytest.raises(RuntimeError, match="did not converge"):
        call(spark, e)
    assert set(sc._jsc.getPersistentRDDs()) <= before  # noqa: SLF001


# a peel that runs out of supersteps: on the 31-vertex path the cascade
# runs in from both ends, one vertex a superstep, so the middle vertex
# goes in superstep 16 (in_core 0 at k=2, coreness 1 for every vertex)
_PEEL_BUDGET_CASES = {
    "k_core": (lambda s, e, r: k_core(s, e, 2, max_rounds=r), "in_core", 0),
    "coreness": (lambda s, e, r: coreness(s, e, max_rounds=r), "coreness", 1),
}


@pytest.mark.parametrize("case", sorted(_PEEL_BUDGET_CASES))
def test_peel_budget_exhausted_raises(spark, case):
    """A degree peel one superstep short of its cascade raises instead of
    returning a partial core, and frees its blocks; with the cascade's
    16 supersteps it returns the answer."""
    call, col, want = _PEEL_BUDGET_CASES[case]
    sc = spark.sparkContext
    e = _edges_df(spark, [(i, i + 1) for i in range(30)])
    before = set(sc._jsc.getPersistentRDDs())  # noqa: SLF001
    with pytest.raises(RuntimeError, match="did not converge"):
        call(spark, e, 15)
    assert set(sc._jsc.getPersistentRDDs()) <= before  # noqa: SLF001
    assert {r[col] for r in call(spark, e, 16).collect()} == {want}


def test_peel_asymmetric_table_counts_out_edges(spark):
    """With ``symmetrize_input=False`` k_core and coreness peel by each
    vertex's out-edges to alive vertices, as a Python peel does: vertex 8
    has no out-edge, so it is in the 0-core only (in_core 1 at k=0,
    coreness 0)."""
    rows = [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (2, 5), (5, 1), (3, 6), (6, 3),
            (7, 1), (1, 8), (2, 8), (3, 8)]
    verts = {v for r in rows for v in r}

    def core(k):
        alive = set(verts)
        while drop := {v for v in alive if sum(a == v and b in alive for a, b in rows) < k}:
            alive -= drop
        return alive

    e = _edges_df(spark, rows)
    for k in range(4):
        got = {r.id: r.in_core for r in k_core(spark, e, k, symmetrize_input=False).collect()}
        assert got == {v: int(v in core(k)) for v in verts}, k
    got = {r.id: r.coreness for r in coreness(spark, e, symmetrize_input=False).collect()}
    assert got == {v: max(k for k in range(5) if v in core(k)) for v in verts}
    assert got[8] == 0


def test_coreness_k4_pendant_triangle(spark):
    # K4 (coreness 3) + pendant 9 off vertex 0 (coreness 1) + triangle
    # {5,6,7} (coreness 2) bridged to K4 by edge 5-0
    e = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(0, 9), (5, 6), (6, 7), (5, 7), (5, 0)],
        "src long, dst long",
    )
    got = {r.id: r.coreness for r in coreness(spark, e).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 9: 1, 5: 2, 6: 2, 7: 2}


def test_trussness_two_triangles_and_k4(spark):
    from giraph_spark.algorithms.kcore import trussness

    # two triangles sharing edge (1,2): the 4-truss dissolves (shared
    # edge alone closes nothing), so every edge peaks at 3
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {(r.u, r.v): r.trussness for r in trussness(spark, e).collect()}
    assert got == {(0, 1): 3, (0, 2): 3, (1, 2): 3, (1, 3): 3, (2, 3): 3}
    # K4 plus a pendant: K4 edges trussness 4, pendant edge 2
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(0, 9)],
        "src long, dst long",
    )
    got = {(r.u, r.v): r.trussness for r in trussness(spark, k4).collect()}
    want = {(a, b): 4 for a in range(4) for b in range(a + 1, 4)}
    want[(0, 9)] = 2
    assert got == want


def test_edge_delta_statuses(spark):
    from giraph_spark.graph import edge_delta

    old = spark.createDataFrame([(1, 2), (2, 3), (2, 3), (3, 4)], "src long, dst long")
    new = spark.createDataFrame([(2, 3), (3, 4), (5, 6)], "src long, dst long")
    got = {(r.src, r.dst): r.status for r in edge_delta(old, new).collect()}
    assert got == {(1, 2): "removed", (2, 3): "kept", (3, 4): "kept",
                   (5, 6): "added"}


def test_crawl_frontier(spark):
    from pyspark.sql import functions as F

    from giraph_spark.graph import crawl_frontier

    # crawled = {0, 1}; edges from crawled discover 3,4,5 (5 twice) and
    # 2 (from uncrawled 9 only, so excluded from candidates)
    edges = spark.createDataFrame(
        [(0, 3), (0, 5), (1, 5), (1, 4), (9, 2), (0, 1), (3, 4)],
        "src long, dst long",
    )
    crawled = spark.createDataFrame([(0,), (1,)], "id long")
    got = {
        r.url_id: (r.host, r.inlinks, r.rk)
        for r in crawl_frontier(
            edges, crawled, host_col=F.col("url_id") % 2, per_host_k=2
        ).collect()
    }
    # host 1 = {3 (1 inlink), 5 (2 inlinks)}; host 0 = {4 (1 inlink)}
    assert got == {5: (1, 2, 1), 3: (1, 1, 2), 4: (0, 1, 1)}


def test_crawl_frontier_per_host_cap_and_salt_parity(spark):
    from pyspark.sql import functions as F

    from giraph_spark.graph import crawl_frontier

    # one host bucket, 6 frontier urls with distinct in-link counts:
    # url u gets u in-links from crawled sources 100..100+u
    rows = [(100 + i, u) for u in range(1, 7) for i in range(u)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    crawled = spark.createDataFrame([(100 + i,) for i in range(6)], "id long")
    kw = dict(host_col=F.lit(0), per_host_k=3)
    top = crawl_frontier(edges, crawled, salt=4, **kw).collect()
    assert [(r.url_id, r.inlinks, r.rk) for r in
            sorted(top, key=lambda r: r.rk)] == [(6, 6, 1), (5, 5, 2), (4, 4, 3)]
    unsalted = crawl_frontier(edges, crawled, salt=None, **kw).collect()
    assert sorted(map(tuple, top)) == sorted(map(tuple, unsalted))


def test_ppr_batch_matches_single_seed(spark):
    from giraph_spark.algorithms.ppr import personalized_pagerank, ppr_batch

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    batch = ppr_batch(spark, edges, [0, 3], max_supersteps=8, tolerance=None)
    got = {(r.seed, r.id): round(r.rank, 9) for r in batch.vertices.collect()}
    for seed in (0, 3):
        single = personalized_pagerank(
            spark, edges, sources=[seed], max_supersteps=8, tolerance=None
        )
        for r in single.vertices.collect():
            assert got[(seed, r.id)] == round(r.rank, 9)
    # salted gather must be bit-identical (deterministic content salt)
    salted = ppr_batch(
        spark, edges, [0, 3], max_supersteps=8, tolerance=None, salt=4
    )
    assert {
        (r.seed, r.id): round(r.rank, 9) for r in salted.vertices.collect()
    } == got


def test_wcc_warm_start_incremental(spark):
    from giraph_spark.algorithms.wcc import connected_components

    # long chain 0-1-...-9 plus an isolated pair; then ADD a bridge edge
    old_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], "src long, dst long"
    )
    cold_old = connected_components(spark, old_edges)
    new_edges = old_edges.union(
        spark.createDataFrame([(9, 20)], "src long, dst long")
    )
    warm = connected_components(
        spark, new_edges, init_components=cold_old.vertices
    )
    cold = connected_components(spark, new_edges)
    want = {r.id: r.component for r in cold.vertices.collect()}
    got = {r.id: r.component for r in warm.vertices.collect()}
    assert got == want == {i: 0 for i in list(range(10)) + [20, 21]}
    # warm start converges faster than the cold chain propagation
    assert warm.supersteps < cold.supersteps


def test_pseudo_diameter_path_graph(spark):
    from giraph_spark.algorithms.paths import pseudo_diameter

    # path 0-1-2-3-4: start=0 (an endpoint), double sweep finds exact 4
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long"
    )
    r = pseudo_diameter(spark, path).collect()[0]
    assert (r.start_id, r.peripheral_id, r.diameter_lb) == (0, 4, 4)
    # star 0-{1..5}: diameter 2, start=0 center -> far=1 -> lb exact 2
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = pseudo_diameter(spark, star).collect()[0]
    assert (r.start_id, r.peripheral_id, r.diameter_lb) == (0, 1, 2)


def test_lpa_weighted_votes(spark):
    from giraph_spark.algorithms.lpa import label_propagation

    # vertex 2 has neighbors 0 (weight 5) and 1 (weight 1): the weighted
    # vote adopts 0's label even though plain LPA would tie-break on count
    edges = spark.createDataFrame(
        [(0, 2, 5), (1, 2, 1)], "src long, dst long, weight long"
    )
    run = label_propagation(
        spark, edges, max_supersteps=1, weight_col="weight"
    )
    got = {r.id: r.label for r in run.vertices.collect()}
    assert got[2] == 0


def test_two_hop_counts_path(spark):
    from giraph_spark.algorithms.linkpred import two_hop_counts

    # path 0-1-2-3-4 (symmetric closure applied internally)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long"
    )
    got = {r.id: (r.n1, r.n2) for r in two_hop_counts(path).collect()}
    assert got == {0: (1, 1), 1: (2, 1), 2: (2, 2), 3: (2, 1), 4: (1, 1)}
    # pivot cap: dropping vertex 1 as middleman removes 0<->2 reach
    capped = {r.id: (r.n1, r.n2)
              for r in two_hop_counts(path, max_degree=1).collect()}
    assert capped[0] == (1, 0)


def test_landmark_distances_bounds(spark):
    from giraph_spark.algorithms.paths import landmark_distances

    # directed cycle 0->1->2->3->0 plus chord 1->3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)], "src long, dst long"
    )
    pairs = spark.createDataFrame([(2, 1), (0, 3)], "u long, v long")
    got = {(r.u, r.v): r.est
           for r in landmark_distances(spark, edges, [0], pairs).collect()}
    # true d(2,1)=3 via 2->3->0->1 and the path passes landmark 0: exact
    assert got[(2, 1)] == 3
    # true d(0,3)=2 (0->1->3); via landmark 0: d(0,0)+d(0,3)=0+2: exact
    assert got[(0, 3)] == 2
    # landmark 2 only: d(0,2)+d(2,3) = 2+1 = 3 -> upper bound, not exact
    got2 = {(r.u, r.v): r.est
            for r in landmark_distances(spark, edges, [2], pairs).collect()}
    assert got2[(0, 3)] == 3


def test_local_community_recovers_clique(spark):
    from giraph_spark.algorithms.ppr import local_community

    edges = [(a, b) for a in range(5) for b in range(5) if a < b]
    edges += [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    edges += [(4, 10)]  # single bridge between the two 5-cliques
    df = spark.createDataFrame(edges, "src long, dst long")
    out = local_community(spark, df, seed=0).collect()
    assert sorted(r.id for r in out) == [0, 1, 2, 3, 4]
    # cut = 1 bridge over vol(S) = 2*10 + 1
    assert out[0].conductance == round(1 / 21, 6)


def test_triangle_delta_matches_recount(spark):
    import random

    from giraph_spark.algorithms.triangles import triangle_count, triangle_delta

    rng = random.Random(7)
    all_edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(160)})
    all_edges = [(a, b) for a, b in all_edges if a != b]
    old = [e for e in all_edges if (e[0] * 31 + e[1]) % 10 < 7]
    added = [e for e in all_edges if (e[0] * 31 + e[1]) % 10 >= 7]
    old_df = spark.createDataFrame(old, "src long, dst long")
    add_df = spark.createDataFrame(added, "src long, dst long")
    new_df = spark.createDataFrame(all_edges, "src long, dst long")
    r = triangle_delta(old_df, add_df).collect()[0]
    want = triangle_count(new_df) - triangle_count(old_df)
    assert r.added_triangles == want and want > 0


def test_sssp_incremental_warm_start(spark):
    """Warm-started SSSP after an edge-add delta reaches the exact cold
    fixpoint: old distances stay valid upper bounds (edges only added)
    and the delta's src vertices seed the relax frontier, so decreases
    cascade without re-relaxing the unchanged region."""
    from giraph_spark.algorithms.paths import sssp

    n = 120
    rows = sorted({((i * 7 + 1) % n, (i * 11 + 3) % n, (i % 4) + 1)
                   for i in range(500)})
    rows = [r for r in rows if r[0] != r[1]]
    e = spark.createDataFrame(rows, "src long, dst long, weight long")
    src0 = e.agg({"src": "min"}).collect()[0][0]
    old = e.where("(src*31+dst)%10 < 8")
    delta = e.where("(src*31+dst)%10 >= 8")

    first = sssp(spark, old, int(src0))
    warm = sssp(spark, e, int(src0), init_dists=first.vertices,
                init_frontier=delta.select("src"))
    cold = sssp(spark, e, int(src0))
    a = {r.id: r.distance for r in warm.vertices.collect()}
    b = {r.id: r.distance for r in cold.vertices.collect()}
    assert a == b
    # warm run only propagates the delta's effect
    assert warm.supersteps <= cold.supersteps + 1
