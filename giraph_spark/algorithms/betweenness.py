"""Betweenness centrality — k-source Brandes over directed unweighted graphs.

Beyond-reference centrality (SURVEY §2.8): exact per-seed dependency
accumulation (Brandes 2001) summed over a deterministic seed sample —
the standard estimator at web scale, where all-sources betweenness is
infeasible and a seed sample gives an unbiased scaled estimate
(multiply by |V|/|seeds| for the expectation).

Shape (all seeds carried in ONE run, like ``paths.multi_seed_distances``):

- forward: level-synchronous multi-seed BFS that also accumulates the
  shortest-path counts sigma — per level one scatter join (static edge
  side) + one map-side-combined (seed, dst) sum + one anti-join against
  the settled set; exactly one action per level;
- backward: walk the BFS DAG from the deepest level down — per level one
  scatter join of the level-(L+1) deltas over reversed edges, one
  (seed, src) sum, one join against the level-L vertices. Edges between
  non-adjacent levels drop out by construction (a predecessor of w is
  *defined* by dist = dist(w) - 1), so no DAG materialization is needed;
- every per-level frame is lineage-cut (localCheckpoint) and superseded
  cuts released, the same discipline as every other driver loop here.

Total 2·diameter supersteps regardless of |seeds|; state peaks at
|seeds|·V rows like the other sampled-seed centralities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import vertices_from_edges
from giraph_spark.pregel import LineageCuts


def betweenness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_depth: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, betweenness) for every vertex: Σ_seeds δ_seed(v), the raw
    (unnormalized, directed) Brandes dependency of the seed sample.
    Seeds themselves accumulate from other seeds' paths but their own
    source dependency is excluded, per the definition."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with LineageCuts(spark.sparkContext) as cuts:
        e = cuts.cut(edges.select("src", "dst").repartition(num_partitions, "src"), "e")
        verts = vertices_from_edges(e)

        seed_lit = [int(s) for s in seeds]
        frontier = cuts.cut(
            verts.where(F.col("id").isin(seed_lit)).select(
                F.col("id").alias("seed"),
                "id",
                F.lit(0).alias("dist"),
                F.lit(1.0).alias("sigma"),
            ),
            "frontier_0",
        )
        settled = cuts.cut(frontier, "settled")
        levels: list[DataFrame] = [frontier]
        n_new = frontier.count()

        # ---- forward: BFS levels with sigma accumulation ----
        while n_new > 0 and len(levels) <= max_depth:
            lvl = len(levels)
            msgs = e.join(
                frontier.select(F.col("id").alias("src"), "seed", "sigma").hint(
                    "shuffle_hash"
                ),
                "src",
            ).select("seed", F.col("dst").alias("id"), "sigma")
            agg = msgs.groupBy("seed", "id").agg(F.sum("sigma").alias("sigma"))
            new = cuts.cut(
                agg.join(settled.select("seed", "id"), ["seed", "id"], "left_anti")
                .select("seed", "id", F.lit(lvl).alias("dist"), "sigma"),
                f"frontier_{lvl}",
            )
            n_new = new.count()
            if n_new == 0:
                cuts.release(f"frontier_{lvl}")
                break
            settled = cuts.cut(
                settled.union(new).coalesce(num_partitions), "settled"
            )
            frontier = new
            levels.append(new)

        if len(levels) > max_depth and n_new > 0:
            raise RuntimeError(
                "betweenness_centrality: max_depth exceeded before the BFS "
                "frontier emptied; raise max_depth"
            )

        # ---- backward: dependency accumulation, deepest level first ----
        # delta rows carry (seed, id, sigma, delta) for ONE level at a time
        deeper = cuts.cut(
            levels[-1].select("seed", "id", "sigma", F.lit(0.0).alias("delta")),
            "deeper",
        )
        acc: DataFrame | None = None  # finished (seed, id, delta) rows
        for lvl in range(len(levels) - 2, -1, -1):
            msgs = e.join(
                deeper.select(
                    F.col("id").alias("dst"),
                    "seed",
                    ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("m"),
                ).hint("shuffle_hash"),
                "dst",
            ).select("seed", F.col("src").alias("id"), "m")
            gathered = msgs.groupBy("seed", "id").agg(F.sum("m").alias("s"))
            cur = levels[lvl].join(gathered.hint("shuffle_hash"), ["seed", "id"], "left").select(
                "seed",
                "id",
                "sigma",
                (F.col("sigma") * F.coalesce("s", F.lit(0.0))).alias("delta"),
            )
            part = deeper.select("seed", "id", "delta")
            acc = cuts.cut(
                part if acc is None else acc.union(part).coalesce(num_partitions),
                "acc",
            )
            deeper = cuts.cut(cur, "deeper")
        # the level-0 rows are the seeds themselves: their delta is the
        # dependency of the seed on itself as an interior vertex of OTHER
        # seeds' paths only, which this per-seed table excludes by definition
        # — Brandes drops delta(s, s), so level-0 rows are not accumulated.

        out = (
            verts.join(
                (acc if acc is not None else deeper.limit(0))
                .groupBy("id")
                .agg(F.sum("delta").alias("betweenness")),
                "id",
                "left",
            )
            .select("id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
        )
        return out.localCheckpoint(eager=True)
