"""Strongly-connected components — coloring + backward reach (FW-BW-Color).

Reference semantics (``giraph-examples/.../scc/SccComputation.java:41-95``
with the master-driven phase machine ``SccPhaseMasterCompute.java:54-98``:
TRANSPOSE → TRIMMING → FORWARD_TRAVERSAL → BACKWARD_TRAVERSAL loop): the
reference finds SCCs by repeated forward/backward reachability. We use
the equivalent coloring formulation (same fixpoint, better suited to
whole-graph DataFrame supersteps than per-phase vertex state machines):

repeat until no active vertices:
  1. trim TO FIXPOINT: vertices with no in- or out-edges within the
     active subgraph form singleton SCCs (the reference's TRIMMING phase;
     iterated so chains/trees peel without paying a full color+backward
     round each)
  2. color: forward max-label propagation — every active vertex learns
     the max id that reaches it (FORWARD_TRAVERSAL)
  3. backward: from each color root (id == color), propagate "member"
     backwards along edges restricted to the same color
     (BACKWARD_TRAVERSAL); members form one SCC labeled by the root
  4. remove settled vertices and repeat on the remainder

Result: (id, scc) with scc = the max vertex id inside the component
(deterministic; the reference labels by traversal root the same way).

Driver-action budget: ONE count per trim iteration / propagation step /
peel (the count doubles as the halt check and reads the just-cut cache);
no ``isEmpty`` probes. Superseded localCheckpoint blocks are released
by the call's ``LineageCuts`` (``DataFrame.unpersist`` cannot free
them), which frees every cut but the result's on exit; the settled set
is itself checkpointed per round so earlier cuts never leak into the
final result's lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import vertices_from_edges
from giraph_spark.pregel import LineageCuts as _Cuts


def _propagate(
    edges: DataFrame, seeds: DataFrame, cuts: _Cuts, slot: str, max_iters: int = 50
) -> tuple[DataFrame, DataFrame]:
    """Max-label frontier propagation along ``edges`` from ``seeds``
    (id, lab); returns the fixpoint (id, lab) over reached vertices and
    the persisted frame it reads, which the caller unpersists once a cut
    has consumed the fixpoint. One action per iteration (the frontier
    count doubles as the halt check); lineage cut every few
    iterations."""
    neg_inf = -(1 << 62)
    state = seeds
    frontier = seeds
    prev = seeds
    for it in range(max_iters):
        msgs = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("lab").alias("m"))
        )
        joined = state.withColumnRenamed("lab", "old").join(msgs, "id", "full")
        combined = joined.select(
            "id",
            F.greatest(
                F.coalesce("old", F.lit(neg_inf)), F.coalesce("m", F.lit(neg_inf))
            ).alias("lab"),
            (
                F.col("old").isNull()
                | (F.coalesce("m", F.lit(neg_inf)) > F.col("old"))
            ).alias("_grew"),
        ).persist()
        if it % 3 == 2:
            cut = cuts.cut(combined, slot)
            combined.unpersist()
            combined = cut
        grew = combined.where("_grew").count()
        prev.unpersist()  # the count above consumed prev's cache
        prev = combined
        state = combined.select("id", "lab")
        frontier = combined.where("_grew").select("id", "lab")
        if grew == 0:
            break
    return state, prev


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 20,
    max_iters: int = 50,
) -> DataFrame:
    """(id, scc) over the directed edge table; exact for any digraph
    reachable within ``max_iters`` propagation steps per round."""
    with _Cuts(spark.sparkContext) as cuts:
        p_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
        active_edges = cuts.cut(edges.select("src", "dst"), "edges")
        active = cuts.cut(vertices_from_edges(active_edges), "active")
        n_active = active.count()
        settled: DataFrame | None = None

        for _ in range(max_rounds):
            if n_active == 0:
                break

            # 1. trim to fixpoint: peel vertices with no in- or out-edges in
            # the active subgraph (each becomes its own singleton SCC)
            while n_active > 0:
                has_out = active_edges.select(F.col("src").alias("id")).distinct()
                has_in = active_edges.select(F.col("dst").alias("id")).distinct()
                trivial = active.join(has_out, "id", "left_anti").union(
                    active.join(has_in, "id", "left_anti")
                ).distinct()
                part = trivial.select("id", F.col("id").alias("scc"))
                # cut settled FIRST: it must be materialized while the active
                # cut that `part` reads is still alive (re-cutting the
                # "active" slot below releases those blocks)
                settled = cuts.cut(
                    # coalesce: narrow union sums partition counts; bound the
                    # accumulator's width across trim iterations
                    part if settled is None else settled.union(part).coalesce(p_max),
                    "settled",
                )
                new_active = cuts.cut(active.join(trivial, "id", "left_anti"), "active")
                n_new = new_active.count()
                n_trimmed = n_active - n_new
                active = new_active
                n_active = n_new
                if n_trimmed == 0 or n_active == 0:
                    break
                active_edges = cuts.cut(
                    active_edges.join(
                        active.withColumnRenamed("id", "src"), "src", "left_semi"
                    ).join(active.withColumnRenamed("id", "dst"), "dst", "left_semi"),
                    "edges",
                )
            if n_active == 0:
                break

            # 2. forward coloring: max id reaching each vertex
            seeds = active.select("id", F.col("id").alias("lab"))
            colors, colors_cache = _propagate(
                active_edges, seeds, cuts, "fwd", max_iters=max_iters
            )

            # 3. backward membership within equal color: reverse edges whose two
            # endpoints share a color; propagate from roots (id == color)
            ec = (
                active_edges.join(colors.select(F.col("id").alias("src"), F.col("lab").alias("csrc")), "src")
                .join(colors.select(F.col("id").alias("dst"), F.col("lab").alias("cdst")), "dst")
                .where(F.col("csrc") == F.col("cdst"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            roots = colors.where(F.col("id") == F.col("lab")).select("id", "lab")
            members, members_cache = _propagate(ec, roots, cuts, "bwd", max_iters=max_iters)
            scc = (
                members.join(colors.withColumnRenamed("lab", "color"), "id")
                .where(F.col("lab") == F.col("color"))
                .select("id", F.col("color").alias("scc"))
            )
            settled = scc if settled is None else settled.union(scc).coalesce(p_max)
            settled = cuts.cut(settled, "settled")
            colors_cache.unpersist()
            members_cache.unpersist()

            # 4. peel — ONE count on the fresh cut is both the round's halt
            # check and next round's emptiness test
            active = cuts.cut(
                active.join(settled.select("id"), "id", "left_anti"), "active"
            )
            n_active = active.count()
            if n_active == 0:
                break
            active_edges = cuts.cut(
                active_edges.join(
                    active.withColumnRenamed("id", "src"), "src", "left_semi"
                ).join(active.withColumnRenamed("id", "dst"), "dst", "left_semi"),
                "edges",
            )

        if n_active > 0:
            raise RuntimeError(
                f"strongly_connected_components: round budget exhausted with "
                f"{n_active} vertices unsettled — raise max_rounds/max_iters"
            )
        assert settled is not None
        cuts.forget("settled")  # the result — its blocks must outlive this call
        return settled
