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
once and cached. The state (id, removal_round, deg) carries each alive
vertex's degree inside the alive set. ONE set-up aggregate fills the
initial lazy cut and gives round 1's (n, m); each round is then one SQL
text: remove ``deg <= thr``, recount the survivors' degrees (edges
joined to the alive set on both ends, shuffle-hash joins), and its
aggregate — one Spark job per round — gives the next round's (n, m).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import clean_symmetric
from giraph_spark.pregel import engine_call, run_sql_supersteps


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
    # round 1's state: every vertex (a src of the symmetric table) alive
    # with its full degree. The set-up aggregate fills this lazy cut and
    # the edge cache under it, and gives round 1's n and 2m
    state = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .select("id", F.lit(None).cast("int").alias("removal_round"), "deg")
        .localCheckpoint(eager=False)
    )
    row = state.agg(F.count(F.lit(1)).alias("n"), F.sum("deg").alias("m2")).collect()[0]

    def scalars(n: int, m2: int, rnd: int) -> dict[str, Any]:
        rho = (m2 / 2) / n if n else 0.0
        return {"round": rnd, "n": n, "m2": m2, "rho": rho, "thr": factor * rho}

    # a round: remove deg <= thr (a D-suffixed literal compares as a
    # double, as the Python replay does), then recount the degrees
    # among the survivors
    step_sql = """WITH a AS (
        SELECT id,
               CASE WHEN removal_round IS NULL AND deg <= {thr!r}D THEN {round}
                    ELSE removal_round END AS removal_round
        FROM ds_state
      ),
      s AS (SELECT id FROM a WHERE removal_round IS NULL),
      d AS (
        SELECT /*+ SHUFFLE_HASH(s), SHUFFLE_HASH(t) */ e.src AS id, count(1) AS deg
        FROM ds_edges e JOIN s ON e.src = s.id JOIN s t ON e.dst = t.id
        GROUP BY e.src
      )
      SELECT /*+ SHUFFLE_HASH(d) */ a.id, a.removal_round, coalesce(d.deg, 0) AS deg
      FROM a LEFT JOIN d ON a.id = d.id"""
    agg_sql = """SELECT count(CASE WHEN removal_round IS NULL THEN 1 END) AS n,
      sum(deg) AS m2 FROM ds_new"""

    def update(row, sc: dict[str, Any]) -> tuple[dict[str, Any], dict[str, Any]]:
        alive = int(row["n"])
        stats = {
            "round": sc["round"], "n": sc["n"], "m": sc["m2"] // 2, "rho": sc["rho"],
            "alive": alive,
        }
        return stats, scalars(alive, int(row["m2"] or 0), sc["round"] + 1)

    first = scalars(int(row["n"]), int(row["m2"] or 0), 1)
    run = run_sql_supersteps(
        spark, state, ("ds_state", "ds_new"), {"ds_edges": sym}, step_sql, agg_sql, update,
        first,
        max_supersteps=max_rounds if first["n"] else 0,  # an empty graph has no round
        halt=lambda stats, i: stats["alive"] == 0,
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
