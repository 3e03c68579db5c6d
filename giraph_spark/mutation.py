"""Mid-run graph mutation — the VertexResolver protocol on DataFrames.

Reproduces the reference's between-superstep mutation semantics
(``giraph-core/.../graph/DefaultVertexResolver.java:48-70``) as one
set-based resolution over the whole graph:

1. prune requested edges of existing vertices (``removeEdges``, :76-89)
2. remove requested vertices — their out-edges go with them (a Giraph
   vertex owns its out-edge list; in-edges at other vertices survive)
3. apply vertex additions ("pick first vertex", :117-131); adds for an
   existing vertex are ignored with the reference's warning semantics
4. create a vertex for any id that does not exist but received messages
   (``createVertexesOnMessages``, :126-130) or had edges added at it
5. add the requested edges (``addEdges``)

``recreate_removed_on_message=False`` gives the variant resolver of
``giraph-examples/src/test/.../TestMutateGraph.java`` (a vertex removed
in step 2 is NOT revived by its pending messages).

Determinism note: the reference's "pick first added vertex" is arrival
order — nondeterministic on a real cluster. We resolve conflicting adds
by the minimum over the value columns, which is deterministic across
runs and parallelism levels (strictly stronger than the reference).

The ``run_mutable_supersteps`` step adapter threads (vertices, edges)
through the superstep loop and applies the resolver between supersteps —
the analog of ``graph/GraphTaskManager`` draining the mutation stores
before the next superstep begins.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.pregel import (
    PregelRun,
    _checkpointed_jrdd,
    _gated_release,
    engine_session,
    rebind,
    run_supersteps,
)


@dataclass
class GraphChanges:
    """One superstep's accumulated mutation requests
    (``graph/VertexChanges.java``): any field may be None (no requests).

    - ``add_vertices``: (id, <value columns>) rows
    - ``remove_vertices``: (id) rows
    - ``add_edges``: (src, dst, <edge columns>) rows
    - ``remove_edges``: (src, dst) rows
    """

    add_vertices: DataFrame | None = None
    remove_vertices: DataFrame | None = None
    add_edges: DataFrame | None = None
    remove_edges: DataFrame | None = None

    def empty(self) -> bool:
        return all(
            x is None
            for x in (
                self.add_vertices,
                self.remove_vertices,
                self.add_edges,
                self.remove_edges,
            )
        )


def resolve_mutations(
    vertices: DataFrame,
    edges: DataFrame,
    changes: GraphChanges,
    message_targets: DataFrame | None = None,
    default_value: dict[str, Any] | None = None,
    create_on_message: bool = True,
    recreate_removed_on_message: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Apply one round of mutation requests; returns (vertices, edges).

    ``vertices`` must have an ``id`` column; all other columns are the
    vertex value. ``message_targets`` is a 1-column (id) frame of vertices
    that received messages this superstep. ``default_value`` maps value
    columns to the literal used for resolver-created vertices (defaults
    to NULLs — the analog of ``createVertexValue()``).
    """
    value_cols = [c for c in vertices.columns if c != "id"]

    # --- 1. prune requested edges --------------------------------------
    e = edges
    if changes.remove_edges is not None:
        e = e.join(
            changes.remove_edges.select("src", "dst"), ["src", "dst"], "left_anti"
        )

    # --- 2. remove requested vertices (and their out-edges) ------------
    removed = None
    v = vertices
    if changes.remove_vertices is not None:
        removed = changes.remove_vertices.select("id").distinct()
        v = v.join(removed, "id", "left_anti")
        e = e.join(removed.withColumnRenamed("id", "src"), "src", "left_anti")

    # --- 3./4. vertex additions + created-by-message/edge --------------
    created_ids = []
    if create_on_message and message_targets is not None:
        targets = message_targets.select("id").distinct()
        if not recreate_removed_on_message and removed is not None:
            # TestMutateGraph.TestVertexResolver: removal wins over revival
            targets = targets.join(removed, "id", "left_anti")
        created_ids.append(targets)
    if changes.add_edges is not None:
        # an added edge lives at its source vertex: creates it if missing
        created_ids.append(changes.add_edges.select(F.col("src").alias("id")).distinct())

    adds = None
    if changes.add_vertices is not None:
        adds = changes.add_vertices
        if value_cols:
            # conflicting adds for one id: deterministic min over values
            adds = adds.groupBy("id").agg(
                *[
                    F.min(F.struct(*value_cols)).getField(c).alias(c)
                    for c in value_cols
                ]
            )
        else:
            adds = adds.select("id").distinct()
        # adds for ids that still exist are ignored (reference warns + skips)
        adds = adds.join(v.select("id"), "id", "left_anti")

    if created_ids:
        need = created_ids[0]
        for extra in created_ids[1:]:
            need = need.unionByName(extra).distinct()
        # already existing or explicitly added ids don't need defaults
        need = need.join(v.select("id"), "id", "left_anti")
        if adds is not None:
            need = need.join(adds.select("id"), "id", "left_anti")
        defaults = default_value or {}
        created = need.select(
            "id",
            *[F.lit(defaults.get(c)).alias(c) for c in value_cols],
        )
    else:
        created = None

    for extra in (adds, created):
        if extra is not None:
            v = v.unionByName(extra.select(*v.columns))

    # --- 5. add the requested edges ------------------------------------
    if changes.add_edges is not None:
        e = e.unionByName(changes.add_edges.select(*e.columns))

    return v, e


MutableStep = Callable[
    [DataFrame, DataFrame, int],
    tuple[DataFrame, dict[str, Any], "GraphChanges | None", DataFrame | None],
]


def run_mutable_supersteps(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    step: MutableStep,
    max_supersteps: int,
    halt: Callable[[dict[str, Any], int], bool] | None = None,
    default_value: dict[str, Any] | None = None,
    create_on_message: bool = True,
    recreate_removed_on_message: bool = True,
    verbose: bool = False,
) -> PregelRun:
    """BSP loop over a mutable graph.

    ``step(vertices, edges, superstep)`` returns
    ``(new_vertices, stats, changes, message_targets)``; mutation
    requests are applied *between* supersteps in the resolver order
    above — exactly when the reference drains its mutation stores
    (``worker/BspServiceWorker.finishSuperstep``). The edge table is
    re-cut only on supersteps that actually mutate it. Runs on
    :func:`run_supersteps` (which cuts the vertex state); the result's
    ``edges`` attribute is the final edge table.
    """
    home = vertices.sparkSession
    spark, vertices, edges = engine_session(vertices, edges)
    sc = spark.sparkContext
    box: dict[str, Any] = {"edges": edges.persist(), "cut": None, "stale": None}

    def vertex_step(v: DataFrame, superstep: int):
        # the superseded edge cut: the loop has cut the vertex state that
        # was built on it, so nothing reads it any more
        _gated_release(sc, box["stale"])
        box["stale"] = None
        e = box["edges"]
        new_v, stats, changes, msg_targets = step(v, e, superstep)
        if changes is not None and not changes.empty():
            new_v, new_e = resolve_mutations(
                new_v,
                e,
                changes,
                message_targets=msg_targets,
                default_value=default_value,
                create_on_message=create_on_message,
                recreate_removed_on_message=recreate_removed_on_message,
            )
            new_e = new_e.localCheckpoint(eager=True)
            e.unpersist()
            # new_v's lazy plan still reads the old edge cut: free it only
            # once the loop has cut new_v (next step, or after the loop)
            box["stale"], box["cut"] = box["cut"], _checkpointed_jrdd(new_e)
            box["edges"] = new_e
        elif create_on_message and msg_targets is not None:
            new_v, _ = resolve_mutations(
                new_v,
                e,
                GraphChanges(),
                message_targets=msg_targets,
                default_value=default_value,
                recreate_removed_on_message=recreate_removed_on_message,
            )
        return new_v, stats

    run = run_supersteps(
        spark, vertices, vertex_step, max_supersteps=max_supersteps, halt=halt,
        verbose=verbose,
    )
    _gated_release(sc, box["stale"])
    run.vertices = rebind(run.vertices, home)
    run.edges = rebind(box["edges"], home)  # type: ignore[attr-defined]
    return run
