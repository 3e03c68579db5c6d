"""Densest subgraph — Bahmani-Kumar-Vassilvitskii (1+eps)-peeling.

The published MapReduce algorithm ("Densest Subgraph in Streaming and
MapReduce", VLDB 2012): repeatedly delete every vertex whose degree in
the surviving subgraph is <= 2(1+eps) * rho(S) (rho = |E(S)| / |S|,
undirected density), tracking the round whose survivor set had the
highest density. Because the removal threshold sits above the average
degree 2*rho, each round deletes a constant fraction of S — O(log n /
eps) rounds total — and the best surviving set is a 2(1+eps)
approximation of the optimum. That round structure is exactly why the
algorithm is THE web-scale densest-subgraph method: each round is one
degree aggregation + one semi-join, no per-vertex sequential peel (the
exact Charikar peel removes ONE vertex per step — 8M rounds on an 8M-
vertex graph — which no cluster survives).

Reference analog: none (the reference has no densest-subgraph app); the
peel-by-threshold shape matches its k-core style of iterated filtering.

Scale notes: the symmetric edge table is hash-partitioned on ``src``
once and cached; every round reuses it with two semi-joins against the
shrinking alive set (broadcast once the survivor set is small). One agg
action per round computes (n, m); the state DataFrame carries
``removal_round`` and is lineage-cut per round via the shared
superstep loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import clean_symmetric, vertices_from_edges
from giraph_spark.pregel import engine_session, rebind, run_supersteps


@dataclass
class DensestResult:
    """Per-vertex peel trajectory + the densest prefix found.

    ``vertices``: (id, removal_round, in_densest) — ``removal_round`` is
    the 1-based peel round that deleted the vertex (every vertex is
    deleted by termination), ``in_densest`` marks membership in the
    best-density survivor set. ``best_density`` = max over rounds of
    |E(S_r)| / |S_r|; ``best_round`` its 1-based round (earliest on
    ties); ``rounds`` = total peel rounds.
    """

    vertices: DataFrame
    best_density: float
    best_round: int
    rounds: int
    history: list[dict[str, float]]


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    eps: float = 0.1,
    num_partitions: int | None = None,
    max_rounds: int = 500,
) -> DensestResult:
    """Run the (1+eps) peel on the undirected simple graph of ``edges``
    (symmetrized, self-loops dropped). Deterministic: the removal
    threshold factor ``2*(1+eps)`` is computed once in IEEE double and
    every engine replaying the same comparisons peels identically."""
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    factor = 2.0 * (1.0 + float(eps))

    sym = (
        clean_symmetric(edges)
        .repartition(num_partitions, "src")
        .persist()
    )
    state = vertices_from_edges(sym).select(
        "id", F.lit(None).cast("int").alias("removal_round")
    )

    history: list[dict[str, float]] = []

    def step(vertices: DataFrame, superstep: int):
        alive = vertices.where(F.col("removal_round").isNull()).select("id")
        deg = (
            sym.join(alive.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
            .join(alive.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        scored = vertices.join(deg, "id", "left").select(
            "id",
            "removal_round",
            F.when(F.col("removal_round").isNull(), F.coalesce("deg", F.lit(0)))
            .alias("deg"),
        )
        scored = scored.persist()
        row = scored.agg(
            F.count(F.when(F.col("removal_round").isNull(), 1)).alias("n"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("m2"),
        ).collect()[0]
        n, m2 = int(row["n"]), int(row["m2"] or 0)
        if n == 0:
            scored.unpersist()
            return vertices, {"n": 0, "m": 0, "rho": 0.0, "removed": 0}
        rho = (m2 / 2) / n
        thr = factor * rho
        new_state = scored.select(
            "id",
            F.when(
                F.col("removal_round").isNull() & (F.col("deg") <= F.lit(thr)),
                F.lit(superstep + 1),
            )
            .otherwise(F.col("removal_round"))
            .cast("int")
            .alias("removal_round"),
        )
        # materialize the new state before dropping the scored cache
        stats_row = new_state.persist().agg(
            F.count(F.when(F.col("removal_round").isNull(), 1)).alias("alive")
        ).collect()[0]
        scored.unpersist()
        history.append(
            {"round": superstep + 1, "n": n, "m": m2 // 2, "rho": rho}
        )
        return new_state, {
            "n": n,
            "m": m2 // 2,
            "rho": rho,
            "alive": int(stats_row["alive"]),
        }

    run = run_supersteps(
        spark,
        state,
        step,
        max_supersteps=max_rounds,
        halt=lambda stats, i: stats.get("alive", stats.get("n", 0)) == 0,
    )
    sym.unpersist()

    if history:
        best = max(history, key=lambda h: (h["rho"], -h["round"]))
        best_round, best_density = int(best["round"]), float(best["rho"])
    else:  # empty graph
        best_round, best_density = 0, 0.0
    out = run.vertices.select(
        "id",
        "removal_round",
        # a vertex still alive at max_rounds (removal_round null) was by
        # definition alive during the best round
        (
            F.col("removal_round").isNull()
            | (F.col("removal_round") >= F.lit(best_round))
        ).alias("in_densest"),
    )
    return DensestResult(
        vertices=rebind(out, home),
        best_density=best_density,
        best_round=best_round,
        rounds=run.supersteps,
        history=history,
    )
