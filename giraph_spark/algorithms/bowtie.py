"""Bow-tie decomposition of a directed web graph (Broder et al., WWW 2000).

The canonical Common-Crawl-scale structural analysis: relative to the
giant strongly-connected CORE, every vertex is IN (reaches the core),
OUT (reached from the core), or OTHER (tendrils/tubes/disconnected).

Beyond-reference operator (SURVEY §2.8). Construction: pick a canonical
seed — the vertex of maximum total degree, ties to the smallest id —
which on a web-like graph sits in the giant SCC, then

    CORE = fwd(seed) ∩ bwd(seed)     (the SCC containing the seed)
    IN   = bwd(seed) \\ CORE          (bwd(CORE) = bwd(seed) exactly:
    OUT  = fwd(seed) \\ CORE           reaching any core vertex reaches
    OTHER = the rest                   the seed, and vice versa)

so the whole decomposition costs exactly TWO set-reachability closures
— the method Broder et al. used, and the only shape that survives
10^12 edges. Each closure is a ``paths.bfs`` from the seed (over the
edges, then over the reversed edges): the engine's send-on-change
relaxation, one SQL text and one Spark job per superstep, where only
the newly reached vertices scatter. A closure that has not converged
within ``max_supersteps`` raises instead of mislabeling the vertices it
did not reach. The budget counts the superstep that confirms nothing
changed: a closure D edges deep needs D + 1 supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.algorithms.paths import bfs
from giraph_spark.pregel import LineageCuts


def canonical_seed(edges: DataFrame) -> int:
    """The max-total-degree vertex, ties to the smallest id — the
    deterministic 'certainly in the giant SCC' pick."""
    ends = edges.select(
        F.inline(F.array(F.struct(F.col("src").alias("id")), F.struct(F.col("dst").alias("id"))))
    )
    row = (
        ends.groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("id").asc())
        .limit(1)
        .collect()
    )
    return int(row[0].id)


def bowtie_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    seed: int | None = None,
    max_supersteps: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, region) for every vertex, region in CORE / IN / OUT / OTHER,
    relative to the SCC containing ``seed`` (default: the canonical
    max-degree seed). Raises if either closure from the seed is deeper
    than ``max_supersteps - 1`` edges."""
    if seed is None:
        seed = canonical_seed(edges)
    with LineageCuts(spark.sparkContext) as cuts:
        e = cuts.cut(edges.select("src", "dst"), "e")
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        hops = {}
        for slot, closure_edges in (("fwd", e), ("bwd", rev)):
            run = bfs(spark, closure_edges, int(seed), max_supersteps, num_partitions)
            hops[slot] = cuts.adopt(run.vertices, slot)
            if not run.converged:
                raise RuntimeError(
                    f"bowtie_decomposition: the {slot} closure did not converge "
                    f"in {max_supersteps} supersteps — raise max_supersteps"
                )

        # both runs keep every vertex of e, unreached ones at hops -1
        fwd, bwd = F.col("hops") >= 0, F.col("b") >= 0
        out = (
            hops["fwd"]
            .join(hops["bwd"].withColumnRenamed("hops", "b"), "id")
            .select(
                "id",
                F.when(fwd & bwd, "CORE")
                .when(bwd, "IN")
                .when(fwd, "OUT")
                .otherwise("OTHER")
                .alias("region"),
            )
            .localCheckpoint(eager=True)
        )
        return out
