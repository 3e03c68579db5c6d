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
  2. color: ``max_label_propagation`` over the active edges — every
     active vertex learns the max id that reaches it (FORWARD_TRAVERSAL)
  3. backward: BFS (``sssp`` with unit weights) from the color roots
     (id == color) over the reversed edges whose endpoints share a color
     (BACKWARD_TRAVERSAL); the vertices a root reaches, and the root,
     form one SCC labeled by the root
  4. remove settled vertices and repeat on the remainder

Result: (id, scc) with scc = the max vertex id inside the component
(deterministic; the reference labels by traversal root the same way).

Steps 2 and 3 are the engine's send-on-change relaxation
(``pregel._relax``): one SQL text and one Spark job per superstep, in the
call's private AQE-off session. A closure that has not converged within
``max_iters`` supersteps raises: a partial closure would split SCCs.
The budget counts the superstep that confirms nothing changed, so a
closure D edges deep needs D + 1 supersteps.
The trim and peel stay in the caller's session and AQE, with ONE count
per trim iteration / peel (the count doubles as the halt check and
reads the just-cut cache). Every cut, the two closures' results
included, is owned by the call's ``LineageCuts``, which frees all but
the result's on exit; the settled set is itself checkpointed per round
so earlier cuts never leak into the final result's lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.algorithms.lpa import max_label_propagation
from giraph_spark.algorithms.paths import sssp
from giraph_spark.graph import vertices_from_edges
from giraph_spark.pregel import LineageCuts as _Cuts


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 20,
    max_iters: int = 50,
) -> DataFrame:
    """(id, scc) over the directed edge table. Raises if a closure needs
    more than ``max_iters`` supersteps (D + 1 for a closure D edges deep)
    or the SCCs more than ``max_rounds`` rounds."""
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

            # 2. forward coloring: max id reaching each vertex; after the
            # trim every active vertex has an active edge, so the run's
            # vertices are exactly the active ones
            fwd = max_label_propagation(spark, active_edges, max_supersteps=max_iters)
            colors = cuts.adopt(fwd.vertices, "fwd")
            if not fwd.converged:
                raise RuntimeError(
                    f"strongly_connected_components: forward coloring did not "
                    f"converge in {max_iters} supersteps — raise max_iters"
                )

            # 3. backward membership within equal color: BFS from the roots
            # (id == color) over the reversed same-color edges. ec links only
            # vertices of one color, so a root reaches exactly the vertices
            # of its SCC; a root may have no same-color edge, so it joins as
            # itself. ec is cut here, under the caller's AQE, not left for
            # the backward call's AQE-off set-up to compute
            ec = cuts.cut(
                active_edges.join(colors.toDF("src", "csrc"), "src")
                .join(colors.toDF("dst", "cdst"), "dst")
                .where(F.col("csrc") == F.col("cdst"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                "ec",
            )
            roots = colors.where(F.col("id") == F.col("label")).select(
                "id", F.lit(0.0).alias("distance")
            )
            bwd = sssp(
                spark, ec, [], weight_col=None, max_supersteps=max_iters,
                init_dists=roots, init_frontier=roots,
            )
            members = cuts.adopt(bwd.vertices, "bwd")
            if not bwd.converged:
                raise RuntimeError(
                    f"strongly_connected_components: backward membership did "
                    f"not converge in {max_iters} supersteps — raise max_iters"
                )
            scc = (
                colors.join(members, "id", "left")
                .where((F.col("id") == F.col("label")) | (F.col("distance") < float("inf")))
                .select("id", F.col("label").alias("scc"))
            )
            settled = scc if settled is None else settled.union(scc).coalesce(p_max)
            settled = cuts.cut(settled, "settled")

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
                f"{n_active} vertices unsettled — raise max_rounds"
            )
        assert settled is not None
        cuts.forget("settled")  # the result — its blocks must outlive this call
        return settled
