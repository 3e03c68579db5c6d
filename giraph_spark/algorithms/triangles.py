"""Triangle counting — relational, no neighbor-list messages.

Reference semantics (``giraph-block-app-8/.../triangles/
UndirectedTriangleCountingBlockFactory.java:53-157``): on a symmetric
graph, every vertex sends its neighbor list to each neighbor (:109-123),
then counts received ids present in its own neighbor set, asserts the
count even and divides by 2 (:126-145) — per-vertex triangle count;
global = sum/3.

The Spark-first restatement avoids shipping neighbor lists entirely
(Giraph needed one-message-to-many-ids encoding, :152-155, to make that
affordable): orient edges by degree then id, enumerate each triangle
exactly once with two joins, and distribute each triangle to its three
corners. Degree-based orientation bounds the wedge-join fan-out by the
graph's degeneracy — on a power-law web graph this is the difference
between O(sum d^2) on mega-hubs and a tractable join (the standard
relational triangle-count trick; hubs get *low* orientation priority so
almost no wedges pivot on them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giraph_spark.graph import clean_symmetric, vertices_from_edges


def _oriented(edges: DataFrame, symmetrize_input: bool) -> DataFrame:
    """Orient the symmetric graph: keep (a, b) with a before b in the
    (degree, id) total order — each undirected edge appears exactly once,
    pointing from lower-degree to higher-degree endpoint."""
    e = clean_symmetric(edges) if symmetrize_input else edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    with_deg = (
        e.join(deg.withColumnRenamed("src", "s"), F.col("src") == F.col("s"))
        .drop("s")
        .withColumnRenamed("deg", "sdeg")
        .join(deg.select(F.col("src").alias("d"), F.col("deg").alias("ddeg")), F.col("dst") == F.col("d"))
        .drop("d")
    )
    keep = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return with_deg.where(keep).select("src", "dst")


def _oriented_cached(edges: DataFrame, symmetrize_input: bool):
    o = _oriented(edges, symmetrize_input).persist()
    o.count()  # materialize once; all three downstream scans hit the cache
    return o, o.unpersist


def _triangle_list_from(o: DataFrame) -> DataFrame:
    """All triangles (a, b, c) of the oriented table ``o``, each exactly
    once: a wedge o(a, b) x o(a, c) with b < c, closed by an oriented
    edge between b and c. ``o`` is scanned three times: cache it."""
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "a").where(F.col("b") < F.col("c"))
    # also wedges where the two out-neighbors are oriented b->c directly:
    closing = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing_rev = o.select(F.col("dst").alias("b"), F.col("src").alias("c"))
    close_any = closing.union(closing_rev).where(F.col("b") < F.col("c"))
    return wedges.join(close_any, ["b", "c"], "left_semi").select("a", "b", "c")


def triangles_per_vertex(edges: DataFrame, symmetrize_input: bool = True) -> DataFrame:
    """(id, triangles): number of triangles through each vertex — matches
    the reference's per-vertex counts (TestUndirectedTriangleCounting.java:35-80)
    including zero rows for triangle-free vertices.

    Eager: the heavy intermediates (clean symmetric edges, oriented
    table) are cached for the duration of the computation and released
    before returning; the small (id, triangles) result comes back
    persisted and populated.
    """
    e = clean_symmetric(edges) if symmetrize_input else edges.select("src", "dst")
    e = e.persist()
    o, release_o = _oriented_cached(e, symmetrize_input=False)
    tris = _triangle_list_from(o)
    corners = (
        tris.select(F.col("a").alias("id"))
        .union(tris.select(F.col("b").alias("id")))
        .union(tris.select(F.col("c").alias("id")))
    )
    counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    result = (
        vertices_from_edges(e)
        .join(counts, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
        .persist()
    )
    result.count()
    release_o()
    e.unpersist()
    return result


def triangle_count(edges: DataFrame, symmetrize_input: bool = True) -> int:
    """Global triangle count (= sum of per-vertex counts / 3)."""
    o, release_o = _oriented_cached(edges, symmetrize_input)
    n = _triangle_list_from(o).count()
    release_o()
    return n


def rectangle_count(
    edges: DataFrame,
    symmetrize_input: bool = True,
    max_pivot_degree: int | None = None,
) -> DataFrame:
    """Global 4-cycle (rectangle) count — one row ``(n_rectangles)``.

    Wedge-pivot formula: every 4-cycle has exactly two diagonals, and a
    diagonal pair (u, w) with ``c`` common neighbors closes C(c, 2)
    rectangles through them, so ``#C4 = (1/2) * SUM_{u<w} C(codeg(u,w), 2)``
    — pure integer arithmetic, exact, and expressible as two shuffles
    (wedge join on the pivot + one global sum), no neighbor lists shipped.

    Scale: wedge fan-out is ``SUM_z deg(z)^2`` — a power-law hub
    dominates it, so at corpus scale set ``max_pivot_degree`` to drop
    hub pivots (disclosed approximation, same knob and rationale as
    ``linkpred.py``'s capped wedge joins); ``None`` keeps it exact.
    """
    s = clean_symmetric(edges) if symmetrize_input else edges.select("src", "dst")
    adj = s.select(F.col("src").alias("z"), F.col("dst").alias("nbr"))
    if max_pivot_degree is not None:
        deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
        adj = adj.join(
            deg.where(F.col("deg") <= max_pivot_degree).select("z"), "z"
        )
    wedges = adj.alias("l").join(adj.alias("r"), "z").where(
        F.col("l.nbr") < F.col("r.nbr")
    ).select(F.col("l.nbr").alias("u"), F.col("r.nbr").alias("w"))
    codeg = wedges.groupBy("u", "w").agg(F.count(F.lit(1)).alias("c"))
    # integer-exact throughout: c*(c-1) is even, and the grand total is
    # even (each rectangle counted once per diagonal)
    return codeg.agg(
        (
            F.coalesce(F.sum(F.expr("(c * (c - 1)) DIV 2")), F.lit(0))
            .cast("long")
            .alias("s")
        )
    ).select(F.expr("s DIV 2").cast("long").alias("n_rectangles"))


def triangle_delta(old_edges: DataFrame, added_edges: DataFrame) -> DataFrame:
    """Incremental triangle maintenance: the number of NEW triangles
    created by an edge delta, WITHOUT recounting the graph. For the
    truly-new undirected edges D (added minus already-present):

        T_delta = sum_{e in D} |N_new(a) cap N_new(b)|  -  c2  +  t3

    where c2 = wedges of two D-edges closed by any new edge and t3 =
    triangles entirely inside D (inclusion-exclusion: a new triangle
    with j added edges is seen j times by the first sum, j-choose-2
    times by c2, once by t3 when j=3 — net exactly once for j=1,2,3).
    Returns ONE row (added_triangles, n_new_edges).

    Scale shape: every term touches only the DELTA joined against the
    new adjacency — cost O(|D| * avg_deg + |D-wedges|), not a recount
    of the full graph; the per-term joins are the same degree-bounded
    relational shapes as :func:`triangle_count`. The crawl-over-crawl
    use: triangles gained between snapshots at the cost of the delta.
    """
    old_sym = clean_symmetric(old_edges)
    new_sym = clean_symmetric(old_edges.unionByName(added_edges)).persist()
    can_old = old_sym.where(F.col("src") < F.col("dst"))
    can_new = new_sym.where(F.col("src") < F.col("dst"))
    d = (
        can_new.join(can_old, ["src", "dst"], "left_anti")
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .persist()
    )
    sum_cn = (
        d.join(new_sym.select(F.col("src").alias("a"), F.col("dst").alias("z")), "a")
        .join(new_sym.select(F.col("src").alias("b"), F.col("dst").alias("z")), ["b", "z"])
        .count()
    )
    d_sym = d.select(F.col("a").alias("v"), F.col("b").alias("w")).unionByName(
        d.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    c2 = (
        d_sym.select("v", F.col("w").alias("x"))
        .join(d_sym.select("v", F.col("w").alias("y")), "v")
        .where(F.col("x") < F.col("y"))
        .join(
            can_new.select(F.col("src").alias("x"), F.col("dst").alias("y")),
            ["x", "y"],
        )
        .count()
    )
    t3 = triangle_count(d.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    n_new = d.count()
    new_sym.unpersist()
    d.unpersist()
    spark = old_edges.sparkSession
    return spark.createDataFrame(
        [(int(sum_cn - c2 + t3), int(n_new))],
        "added_triangles long, n_new_edges long",
    )
