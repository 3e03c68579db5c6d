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
bulk degree update over the survivors, no per-vertex sequential peel (the
exact Charikar peel removes ONE vertex per step — 8M rounds on an 8M-
vertex graph — which no cluster survives).

Reference analog: none (the reference has no densest-subgraph app); the
peel-by-threshold shape matches its k-core style of iterated filtering.

Scale notes: the symmetric edge table is hash-partitioned on ``src``
once and cached. The round runs on the engine's degree peel
(:func:`giraph_spark.pregel._peel`, shared with k-core and coreness):
the state (id, deg, removal_round) carries each alive vertex's degree
inside the alive set. ONE set-up aggregate fills the initial lazy cut
and gives round 1's (n, m); each round is then one SQL text: remove
``deg <= thr`` and decrement each survivor's degree by its removed
neighbours (one gather over the removed vertices' edges, which streams
the edge table with no exchange), and its aggregate — one Spark job per
round — gives the next round's (n, m).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import clean_symmetric
from giraph_spark.pregel import _peel, engine_call


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


@engine_call
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
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    factor = 2.0 * (1.0 + float(eps))

    sym = clean_symmetric(edges).repartition(num_partitions, "src").persist()

    def advance(row, sc: dict[str, Any]) -> dict[str, Any] | None:
        n, m = int(row["n"]), int(row["m2"] or 0) // 2
        if n == 0:
            return None
        rho = m / n
        return {"round": sc.get("round", 0) + 1, "n": n, "m": m, "rho": rho, "thr": factor * rho}

    # a round removes deg <= thr (a D-suffixed literal compares as a
    # double, as the Python replay does)
    run = _peel(
        spark, sym, "ds", "removal_round", "INT", "deg <= {thr!r}D", "{round}", advance,
        max_rounds,
    )

    if run.history:
        best = max(run.history, key=lambda h: (h["rho"], -h["round"]))
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
        vertices=out,
        best_density=best_density,
        best_round=best_round,
        rounds=run.supersteps,
        history=run.history,
    )
