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
(frontier BFS, no per-seed state) — the method Broder et al. used, and
the only shape that survives 10^12 edges: each superstep is one scatter
join against a static edge table + one anti-join + one count action,
and the frontier only shrinks once the closure saturates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import vertices_from_edges
from giraph_spark.pregel import LineageCuts


def _closure(
    e: DataFrame,
    seed_df: DataFrame,
    cuts: LineageCuts,
    slot: str,
    num_partitions: int,
    max_supersteps: int,
) -> DataFrame:
    """All vertices reachable from ``seed_df`` (id rows) following
    ``e``'s (src -> dst) direction; includes the seeds."""
    reached = cuts.cut(seed_df.select("id"), slot)
    frontier = reached
    for _ in range(max_supersteps):
        nxt = (
            e.join(
                frontier.withColumnRenamed("id", "src").hint("shuffle_hash"),
                "src",
                "left_semi",
            )
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(reached, "id", "left_anti")
        )
        frontier = cuts.cut(nxt, f"{slot}_frontier")
        if frontier.count() == 0:
            break
        reached = cuts.cut(
            reached.union(frontier).coalesce(num_partitions), slot
        )
    cuts.release(f"{slot}_frontier")
    return reached


def canonical_seed(edges: DataFrame) -> int:
    """The max-total-degree vertex, ties to the smallest id — the
    deterministic 'certainly in the giant SCC' pick."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("od")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("idg")
    )
    row = (
        vertices_from_edges(edges)
        .join(out_d, "id", "left")
        .join(in_d, "id", "left")
        .select(
            "id",
            (F.coalesce("od", F.lit(0)) + F.coalesce("idg", F.lit(0))).alias("d"),
        )
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
    max-degree seed)."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if seed is None:
        seed = canonical_seed(edges)
    with LineageCuts(spark.sparkContext) as cuts:
        e = cuts.cut(edges.select("src", "dst").repartition(num_partitions, "src"), "e")
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        rev = cuts.cut(rev.repartition(num_partitions, "src"), "rev")
        seed_df = spark.createDataFrame([(int(seed),)], "id long")

        fwd = _closure(e, seed_df, cuts, "fwd", num_partitions, max_supersteps)
        bwd = _closure(rev, seed_df, cuts, "bwd", num_partitions, max_supersteps)

        out = (
            vertices_from_edges(e)
            .join(fwd.withColumn("_f", F.lit(1)), "id", "left")
            .join(bwd.withColumn("_b", F.lit(1)), "id", "left")
            .select(
                "id",
                F.when(F.col("_f").isNotNull() & F.col("_b").isNotNull(), "CORE")
                .when(F.col("_b").isNotNull(), "IN")
                .when(F.col("_f").isNotNull(), "OUT")
                .otherwise("OTHER")
                .alias("region"),
            )
            .localCheckpoint(eager=True)
        )
        return out
