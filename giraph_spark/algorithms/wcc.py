"""Weakly-connected components — min-label propagation (HCC).

Reference semantics
(``giraph-examples/.../ConnectedComponentsComputation.java:49-104`` and the
Blocks version ``giraph-block-app-8/.../prepare_graph/
UndirectedConnectedComponents.java:75-206``):

- label initialized to own id; superstep 0 takes the min over direct
  neighbor ids (init piece :75-95)
- afterwards: on each message take min; if the label changed, send it to
  all neighbors (**send-on-change** — the active-set optimization,
  ConnectedComponentsComputation.java:98-102); always voteToHalt
- min message combiner (:123-124); converged when zero vertices changed
  (master check :157-162); requires a symmetric edge table
  (WeaklyConnectedComponents.java:48 symmetrizes first)
- component id = smallest vertex id in the component (exactness target)

Spark shape: the scatter joins only the *changed* labels frontier against
the edge table, so late supersteps touch a shrinking fraction of the
graph — the relational form of voteToHalt/wake-on-message
(graph/ComputeCallable.java:331-333).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import symmetrize, vertices_from_edges
from giraph_spark.pregel import PregelRun, _relax, engine_call


@engine_call
def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool = True,
    max_supersteps: int = 50,
    salt: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
    init_components: DataFrame | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Result ``vertices``: (id, component) with component = min id reachable.

    ``pre_partitioned=True``: ``edges`` is already hash-partitioned on
    ``src`` (bucketed table) — used as-is, no exchange; the caller
    guarantees symmetry if wanted (``symmetrize_input`` is ignored,
    since symmetrizing would destroy the partitioning).

    ``init_components``: warm start from a previous run's (id, component)
    labels — the incremental path for a GROWING graph (crawl-over-crawl:
    new pages + new links only, no removals). Valid because old labels
    are ids of same-component members, so min-propagation still
    converges to the exact new min id — but in O(diameter of the delta)
    supersteps instead of O(diameter of the graph). Edge REMOVALS can
    split components and make old labels stale ids: recompute cold.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if pre_partitioned:
        e = edges.select("src", "dst")
    else:
        e = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
        e = e.repartition(num_partitions, "src")
    e = e.persist()

    # superstep 0 of the init piece: min(own id, neighbor ids); vertices are
    # marked changed so everyone scatters once
    verts = vertices_from_edges(e)
    if init_components is None:
        state = verts.select(
            "id", F.col("id").alias("component"), F.lit(True).alias("changed")
        )
    else:
        state = (
            verts.join(
                init_components.select("id", F.col("component").alias("_c0")),
                "id",
                "left",
            )
            .select(
                "id",
                F.least("id", F.coalesce("_c0", F.col("id"))).alias("component"),
                F.lit(True).alias("changed"),
            )
        )

    # the changed-frontier gather (send-on-change) and a min update
    run = _relax(
        spark, state, "wcc", e, "component", "v.component", "min", salt=salt,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
        verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "component"))


def component_sizes(labels: DataFrame) -> DataFrame:
    """Per-component sizes (UndirectedConnectedComponents.java:347-373 used
    3137 sharded reducers for this; a distributed groupBy needs none)."""
    return labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


def largest_component(labels: DataFrame) -> tuple[int, int]:
    """(component, size) of the largest component — the argmax reducer of
    UndirectedConnectedComponents.java:379-401 as max_by."""
    r = component_sizes(labels).agg(
        F.expr("max_by(component, struct(size, -component))").alias("component"),
        F.max("size").alias("size"),
    ).collect()[0]
    return int(r["component"]), int(r["size"])


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 30,
    num_partitions: int | None = None,
) -> PregelRun:
    """WCC via alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) — O(log n) rounds regardless of graph diameter.

    The frontier min-label algorithm above needs *diameter* supersteps:
    right for web graphs (diameter ~20) but pathological for chain-like
    graphs. This variant rewires the edge set itself each round —
    large-star hangs every larger neighbor under the neighborhood min,
    small-star contracts the smaller neighbors — until the edges form a
    star forest whose centers are the component minima. Same output
    contract as :func:`connected_components`: (id, component), component
    = min id in the component (exactness target of
    ConnectedComponentsComputation.java:49-104 — the reference has no
    log-round variant; this is the 100TB-scale path).

    Each round is a fixed 4-shuffle plan over a shrinking pair set; the
    convergence probe rides the same aggregate (count + hash-sum of the
    pair set) so a round costs exactly one action.
    """
    from giraph_spark.pregel import LineageCuts as _Cuts

    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _Cuts(spark.sparkContext) as cuts:

        verts = vertices_from_edges(edges).persist()

        # undirected pair set, self-loops dropped
        pairs = (
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(num_partitions, "src")
        )
        pairs = cuts.cut(pairs.select(F.col("src").alias("u"), F.col("dst").alias("v")), "pairs")

        def large_star(e: DataFrame) -> DataFrame:
            nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            # m(u) = min(neighborhood ∪ {u}) as ONE map-side-combinable agg
            m = nbrs.groupBy("u").agg(F.min(F.least("v", "u")).alias("m"))
            return (
                nbrs.where(F.col("v") > F.col("u"))
                .join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct()
            )

        def small_star(e: DataFrame) -> DataFrame:
            o = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            m = o.groupBy("u").agg(F.min("v").alias("m"))
            out = o.join(m, "u").select(F.col("v").alias("u"), "m").union(
                m.select("u", "m")
            )
            return (
                out.select("u", F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct()
            )

        history: list[dict[str, Any]] = []
        prev_sig: tuple[int, int] | None = None
        converged = False
        rounds = 0
        for rounds in range(1, max_rounds + 1):
            pairs = cuts.cut(small_star(large_star(pairs)), "pairs")
            # set signature: count + xor of row hashes (xor: order-independent
            # and cannot overflow under ANSI mode, unlike a long sum)
            row = pairs.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
            ).collect()[0]
            sig = (int(row["n"]), int(row["h"]))
            history.append({"round": rounds, "pairs": sig[0]})
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
        if not converged:
            raise RuntimeError(
                f"connected_components_star: no fixpoint in {max_rounds} rounds"
            )

        # fixpoint edge set is a star forest (child -> component min)
        labels = (
            verts.join(
                pairs.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("_root")),
                "id",
                "left",
            )
            .select("id", F.coalesce("_root", F.col("id")).alias("component"))
        )
        labels = labels.localCheckpoint(eager=True)  # outlives the cuts freed on exit
        verts.unpersist()
        return PregelRun(
            vertices=labels, supersteps=rounds, converged=True, history=history
        )
