"""Bracha-Toueg deadlock detection on a wait-for-graph snapshot.

Reference semantics (``giraph-examples/.../BrachaTouegDeadlockComputation.java``,
golden fixtures ``BrachaTouegDeadlockComputationTest.java:47-232``): the
wait-for graph has an edge ``(src, dst, tag)`` when process ``src`` waits
for a resource grant from ``dst``; edges sharing a ``tag`` at the same
``src`` form one request group (the N-out-of-M request model — every
member of SOME group must grant before ``src`` unblocks). The initiator
floods NOTIFY along out-edges (:299-326), free vertices GRANT their
parents (:331-349), and a vertex becomes free when one of its request
groups is fully granted (:398-416). Outcome per vertex = ``isFree``;
the initiator is deadlocked iff it never becomes free.

The message dance (NOTIFY/GRANT/ACK/DONE bookkeeping, held acks) exists
to make an *asynchronous* network compute a well-defined fixpoint; the
fixpoint itself is what the output is, and the Spark-first restatement
computes it directly in two phases:

1. **notified set** = vertices reachable from the initiator along
   out-edges (the NOTIFY wave) — one BFS (``paths.bfs``). Freeness never
   escapes this set: in the reference, un-notified vertices keep
   ``isFree=false`` even when their targets are free
   (fixture ``testThreeNodesAllNodesFreeGraph``).
2. **grant fixpoint** over the notified subgraph:
   ``free(v) = no_out_requests(v) OR EXISTS tag: ALL targets of
   (v, tag) free`` — iterated as frontier supersteps: each round the
   newly-freed vertices "grant" their waiting parents (a join of the
   frontier against the wait-for edges on ``dst``), per-(src, tag)
   remaining counters decrease, and a vertex joins the frontier when a
   group hits zero. Work per superstep is proportional to the grants
   actually sent (the frontier), not to the whole graph — the same
   send-on-change shape as WCC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.algorithms.paths import bfs
from giraph_spark.pregel import LineageCuts, PregelRun


def bracha_toueg_free(
    spark: SparkSession,
    requests: DataFrame,
    initiator: int,
    vertices: DataFrame | None = None,
    max_supersteps: int = 100,
    num_partitions: int | None = None,
) -> PregelRun:
    """Per-vertex Bracha-Toueg outcome.

    ``requests``: (src, dst[, tag]) wait-for edges; an absent ``tag``
    column defaults every edge to tag 0 — a single AND-group per vertex,
    matching the reference's default input tagging.
    ``vertices``: optional (id) table for isolated processes (the
    reference's vertex input lists request-less vertices explicitly).
    Returns ``PregelRun`` with vertices (id, is_free boolean);
    ``converged`` is True when the grant fixpoint drained before
    ``max_supersteps``.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = ["src", "dst"]
    e = requests.select(
        *cols,
        (F.col("tag") if "tag" in requests.columns else F.lit(0)).cast("long").alias("tag"),
    )
    verts = e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct()
    if vertices is not None:
        verts = verts.union(vertices.select(F.col("id").cast("long"))).distinct()
    verts = verts.repartition(num_partitions, "id").persist()

    with LineageCuts(spark.sparkContext) as cuts:
        # ---- phase 1: the NOTIFY wave = BFS reachability from the initiator
        reach = cuts.adopt(
            bfs(
                spark,
                e.select("src", "dst"),
                seeds=initiator,
                max_supersteps=max_supersteps,
                num_partitions=num_partitions,
            ).vertices,
            "reach",
        )
        # the initiator is always notified (it starts the wave), even with no
        # out-edges (fixture testOneInitNodeGraph: isolated initiator is free);
        # an initiator absent from the graph notifies nothing at all
        notified = (
            reach.where(F.col("hops") >= 0)
            .select("id")
            .union(verts.where(F.col("id") == initiator))
            .distinct()
            .persist()
        )
        notified.count()

        # ---- phase 2: grant fixpoint over the notified subgraph
        # requests FROM notified vertices (only their groups matter; grants can
        # only come from notified targets, because freeness is confined to the
        # notified set)
        en = e.join(notified.withColumnRenamed("id", "src"), "src", "left_semi").persist()
        group_sizes = en.groupBy("src", "tag").agg(F.count(F.lit(1)).alias("remaining"))

        # free round 0: notified vertices with no outgoing requests at all
        free = (
            notified.join(en.select("src").distinct().withColumnRenamed("src", "id"),
                          "id", "left_anti")
            .persist()
        )
        frontier = free
        remaining = group_sizes.repartition(num_partitions, "src").persist()
        free0, remaining0 = free, remaining  # round-0 caches, dropped at the end
        supersteps = 0
        converged = False
        # ONE action per round: |free| is materialized anyway, and the frontier
        # size is its delta from the previous round — no separate count job
        free_count = free.count()
        frontier_count = free_count
        while supersteps < max_supersteps:
            if frontier_count == 0:
                converged = True
                break
            supersteps += 1
            # grants: every newly-free vertex grants ALL its waiting parents
            grants = (
                en.join(frontier.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .groupBy("src", "tag")
                .agg(F.count(F.lit(1)).alias("granted"))
            )
            # every round: cut lineage on all three carried DataFrames — the
            # free/frontier/remaining plans reference EACH OTHER across rounds
            # (branching factor 2), so un-cut growth is exponential in the
            # round count; the cut tables are tiny (<=|V| + |groups| rows).
            # Each cut frees its slot's previous round, so the order matters:
            # remaining reads the old frontier, the frontier reads the old free
            remaining = cuts.cut(
                remaining.join(grants, ["src", "tag"], "left").select(
                    "src",
                    "tag",
                    (F.col("remaining") - F.coalesce("granted", F.lit(0))).alias("remaining"),
                ),
                "remaining",
            )
            # a vertex unblocks when ANY of its groups is fully granted
            unblocked = (
                remaining.where(F.col("remaining") <= 0)
                .select(F.col("src").alias("id"))
                .distinct()
            )
            frontier = cuts.cut(unblocked.join(free, "id", "left_anti"), "frontier")
            # coalesce: the narrow union SUMS partition counts, so the free
            # accumulator would otherwise widen every round (no-op while
            # within num_partitions)
            free = cuts.cut(free.union(frontier).coalesce(num_partitions), "free")
            new_count = free.count()
            frontier_count = new_count - free_count
            free_count = new_count

        result = verts.join(
            free.withColumn("is_free", F.lit(True)), "id", "left"
        ).select("id", F.coalesce("is_free", F.lit(False)).alias("is_free"))
        # lineage cut (not just persist): the cuts are freed on exit and the
        # round-0 persisted frames below, so the result must not depend on
        # them for recompute
        result = result.localCheckpoint(eager=True)
        for df in (verts, notified, en, free0, remaining0):
            df.unpersist()
        return PregelRun(vertices=result, supersteps=supersteps, converged=converged)


def is_deadlocked(
    spark: SparkSession,
    requests: DataFrame,
    initiator: int,
    vertices: DataFrame | None = None,
    **kwargs,
) -> bool:
    """True iff the initiator never becomes free (the algorithm's verdict)."""
    run = bracha_toueg_free(spark, requests, initiator, vertices=vertices, **kwargs)
    row = run.vertices.where(F.col("id") == initiator).collect()
    return not (row and row[0]["is_free"])
