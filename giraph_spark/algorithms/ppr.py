"""Personalized PageRank / random walk with restart.

Reference semantics (``giraph-examples/.../RandomWalkWithRestartComputation.java``
on the random-walk base ``RandomWalkComputation.java:113-155``): per
superstep ``value = (1 - t) * (sum(msgs) + danglingMass * pref) + t * pref``
where the teleport vector ``pref`` is uniform over the source set instead
of over all vertices; dangling mass restarts at the sources too. Total
probability mass is conserved at 1.

Same superstep shape as ``pagerank.py`` (scatter join → sum gather →
update join + one driver aggregate); only the teleport target differs.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giraph_spark.graph import out_degrees, vertices_from_edges
from giraph_spark.pregel import PregelRun, engine_session, gather_messages, rebind, run_supersteps


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    sources: int | list[int],
    teleport: float = 0.15,
    max_supersteps: int = 30,
    tolerance: float | None = 1e-6,
    salt: int | None = None,
    num_partitions: int | None = None,
    verbose: bool = False,
    weighted: bool = False,
) -> PregelRun:
    """Result ``vertices``: (id, rank) — a probability vector (sums to 1)
    biased toward the source set.

    With ``weighted=True`` the edge table must carry a ``weight`` column;
    transition probabilities are the per-``src`` normalized weights
    (``w / sum(w) over src``) instead of the uniform ``1/out_degree``.
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    srcs = [sources] if isinstance(sources, int) else list(sources)
    if not srcs:
        raise ValueError("personalized_pagerank needs at least one source")
    t = float(teleport)

    if weighted:
        wsum = edges.groupBy("src").agg(F.sum("weight").alias("_wsum"))
        e = (
            edges.select("src", "dst", "weight")
            .join(wsum, "src")
            .withColumn(
                "weight", F.col("weight").cast("double") / F.col("_wsum")
            )
            .drop("_wsum")
            .repartition(num_partitions, "src")
            .persist()
        )
    else:
        deg = out_degrees(edges)
        e = (
            edges.select("src", "dst")
            .join(deg, "src")
            .withColumn("weight", F.lit(1.0) / F.col("out_degree").cast("double"))
            .drop("out_degree")
            .repartition(num_partitions, "src")
            .persist()
        )
    verts = vertices_from_edges(edges)
    sinks = verts.join(
        edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    )
    is_source = F.col("id").isin(srcs)
    pref = 1.0 / len(srcs)
    state = (
        verts.join(sinks.withColumn("is_sink", F.lit(True)), "id", "left")
        .select(
            "id",
            F.when(is_source, F.lit(pref)).otherwise(F.lit(0.0)).alias("rank"),
            F.coalesce("is_sink", F.lit(False)).alias("is_sink"),
            is_source.alias("is_source"),
        )
        .repartition(num_partitions, "id")
    )

    box: dict[str, float] = {"sink_sum": None}  # type: ignore[assignment]

    def step(vertices: DataFrame, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        if box["sink_sum"] is None:
            r = vertices.agg(
                F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0))).alias("s")
            ).collect()[0]
            box["sink_sum"] = float(r["s"] or 0.0)
        sink_sum = box["sink_sum"]

        msgs = e.join(
            vertices.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"),
            "src",
        ).select("dst", (F.col("rank") * F.col("weight")).alias("msg"))
        gathered = gather_messages(msgs, [("msg", "sum")], key="dst", salt=salt)
        restart = F.when(
            F.col("is_source"), F.lit((t + (1.0 - t) * sink_sum) * pref)
        ).otherwise(F.lit(0.0))
        new_rank = (
            F.lit(1.0 - t) * F.coalesce(F.col("msg"), F.lit(0.0)) + restart
        )
        new_state = (
            vertices.join(
                gathered.withColumnRenamed("dst", "id").hint("shuffle_hash"),
                "id",
                "left",
            )
            .select(
                "id",
                new_rank.alias("rank"),
                "is_sink",
                "is_source",
                (new_rank - F.col("rank")).alias("_delta"),
            )
            .persist()
        )
        row = new_state.agg(
            F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0))).alias("s"),
            F.sum(F.abs(F.col("_delta"))).alias("l1"),
        ).collect()[0]
        box["sink_sum"] = float(row["s"] or 0.0)
        return new_state, {"l1": float(row["l1"]), "sink_sum": box["sink_sum"]}

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["l1"] < tolerance  # noqa: E731

    run = run_supersteps(
        spark, state, step, max_supersteps=max_supersteps, halt=halt, verbose=verbose
    )
    e.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "rank"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def trustrank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    teleport: float = 0.15,
    max_supersteps: int = 10,
    tolerance: float | None = None,
    salt: int | None = None,
    num_partitions: int | None = None,
    weighted: bool = False,
    verbose: bool = False,
) -> PregelRun:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    with the teleport vector concentrated on a hand-picked trusted seed
    set, so trust attenuates with link distance from the seeds — the
    classic web-spam demotion score. Mathematically identical to
    multi-source personalized PageRank with dangling mass restarting at
    the seeds, which is exactly :func:`personalized_pagerank`; this
    wrapper fixes the paper's semantics (biased teleport + seed-restart
    sinks) and returns (id, trust). Spam mass is then
    ``(pr_norm - trust) / pr_norm`` against a normalized PageRank run
    (see entry query ``corpus_trustrank``)."""
    run = personalized_pagerank(
        spark, edges, sources=list(seeds), teleport=teleport,
        max_supersteps=max_supersteps, tolerance=tolerance, salt=salt,
        num_partitions=num_partitions, weighted=weighted, verbose=verbose,
    )
    return PregelRun(
        vertices=run.vertices.select("id", F.col("rank").alias("trust")),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def ppr_batch(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    teleport: float = 0.15,
    max_supersteps: int = 30,
    tolerance: float | None = 1e-6,
    salt: int | None = None,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Batched multi-seed PPR: k personalized vectors (related-pages /
    topic-sensitive PageRank) in ONE superstep loop over state keyed by
    ``(seed, id)``. Result ``vertices``: (seed, id, rank); each seed's
    slice is exactly :func:`personalized_pagerank` of that seed.

    Why batch: k separate runs scan + shuffle the edge table k times
    and pay k driver loops. Here the edge table is exchanged ONCE and
    every superstep is a single scatter join producing k message sets
    that share one (seed, dst) gather — at 100 TB the edge scan
    dominates, so k vectors cost barely more than one. Per-seed sink
    mass and L1 convergence come from ONE k-row driver aggregate per
    superstep (k is small: tens of seeds); halt is on the max per-seed
    L1, so the batch runs until the worst seed converges. Reference
    analog: per-source RandomWalkWithRestartComputation re-run per
    seed; the batching is the Spark-side win.
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if not seeds:
        raise ValueError("ppr_batch needs at least one seed")
    t = float(teleport)

    deg = out_degrees(edges)
    e = (
        edges.select("src", "dst")
        .join(deg, "src")
        .withColumn("weight", F.lit(1.0) / F.col("out_degree").cast("double"))
        .drop("out_degree")
        .repartition(num_partitions, "src")
        .persist()
    )
    verts = vertices_from_edges(edges)
    sinks = verts.join(
        edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    )
    seed_df = spark.createDataFrame([(int(s),) for s in seeds], "seed long")
    state = (
        verts.join(sinks.withColumn("is_sink", F.lit(True)), "id", "left")
        .crossJoin(F.broadcast(seed_df))
        .select(
            "seed",
            "id",
            F.when(F.col("id") == F.col("seed"), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("rank"),
            F.coalesce("is_sink", F.lit(False)).alias("is_sink"),
        )
        .repartition(num_partitions, "id")
    )

    box: dict[int, float] = {}

    def step(vertices: DataFrame, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        if not box:
            for r in (
                vertices.where("is_sink").groupBy("seed").agg(
                    F.sum("rank").alias("s")
                ).collect()
            ):
                box[int(r["seed"])] = float(r["s"] or 0.0)
        msgs = e.join(
            vertices.select("seed", F.col("id").alias("src"), "rank").hint(
                "shuffle_hash"
            ),
            "src",
        ).select("seed", "dst", (F.col("rank") * F.col("weight")).alias("msg"))
        gathered = gather_messages(
            msgs, [("msg", "sum")], key=["seed", "dst"], salt=salt
        )
        sink_expr = F.create_map(
            *[x for s in seeds for x in (F.lit(int(s)), F.lit(box.get(int(s), 0.0)))]
        )
        restart = F.when(
            F.col("id") == F.col("seed"),
            F.lit(t) + F.lit(1.0 - t) * F.element_at(sink_expr, F.col("seed")),
        ).otherwise(F.lit(0.0))
        new_rank = F.lit(1.0 - t) * F.coalesce(F.col("msg"), F.lit(0.0)) + restart
        new_state = (
            vertices.join(
                gathered.withColumnRenamed("dst", "id").hint("shuffle_hash"),
                ["seed", "id"],
                "left",
            )
            .select(
                "seed",
                "id",
                new_rank.alias("rank"),
                "is_sink",
                (new_rank - F.col("rank")).alias("_delta"),
            )
            .persist()
        )
        rows = new_state.groupBy("seed").agg(
            F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0))).alias("s"),
            F.sum(F.abs(F.col("_delta"))).alias("l1"),
        ).collect()
        l1_max = 0.0
        for r in rows:
            box[int(r["seed"])] = float(r["s"] or 0.0)
            l1_max = max(l1_max, float(r["l1"]))
        return new_state, {"l1_max": l1_max}

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["l1_max"] < tolerance  # noqa: E731

    run = run_supersteps(
        spark, state, step, max_supersteps=max_supersteps, halt=halt, verbose=verbose
    )
    e.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("seed", "id", "rank"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def local_community(
    spark: SparkSession,
    edges: DataFrame,
    seed: int,
    teleport: float = 0.15,
    max_supersteps: int = 15,
    max_size: int = 256,
    num_partitions: int | None = None,
) -> DataFrame:
    """Seeded local community via the PPR conductance sweep
    (Andersen-Chung-Lang 2006 shape): rank vertices by
    round(ppr, 9) / degree over the SYMMETRIZED graph, sweep prefixes
    S_1 c S_2 c ... of that order, and return the prefix minimizing
    conductance phi(S) = cut(S) / min(vol(S), vol(V)-vol(S)). Output:
    the best community's members (id, pos, conductance), pos = 1-based
    sweep position, conductance = the winning prefix's phi repeated on
    every row (rounded 6dp from integer cut/vol counts).

    Scale shape: ONE PPR run (the only iterative part) + a degree
    groupBy; the sweep itself touches only the top ``max_size``
    candidates — their induced edges come from one hash join of the
    edge table against the (tiny, broadcast) candidate positions, and
    the cumulative cut/volume prefix sums run over <= max_size rows.
    Ordering uses round(ppr, 9)/degree with id tie-break so any engine
    replays the sweep order exactly.
    """
    from giraph_spark.graph import symmetrize

    sym = symmetrize(edges)
    run = personalized_pagerank(
        spark, sym, sources=[int(seed)], teleport=teleport,
        max_supersteps=max_supersteps, tolerance=None,
        num_partitions=num_partitions,
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    total_vol_row = deg.agg(F.sum("deg").alias("v")).collect()[0]
    total_vol = int(total_vol_row["v"])
    scored = (
        run.vertices.join(deg, "id")
        .select(
            "id",
            "deg",
            (F.round("rank", 9) / F.col("deg")).alias("score"),
        )
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(max_size)
    )
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    pos = scored.withColumn("pos", F.row_number().over(w)).select(
        "id", "deg", "pos"
    )
    # induced internal edges: both endpoints in the candidate set; an
    # edge becomes internal at prefix k = max(pos_u, pos_v)
    pa = pos.select(F.col("id").alias("src"), F.col("pos").alias("pu"))
    pb = pos.select(F.col("id").alias("dst"), F.col("pos").alias("pv"))
    internal_at = (
        sym.join(F.broadcast(pa), "src")
        .join(F.broadcast(pb), "dst")
        .select(F.greatest("pu", "pv").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))  # sym counts each edge twice
    )
    wk = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    sweep = (
        pos.join(internal_at.withColumnRenamed("k", "pos"), "pos", "left")
        .select(
            "pos", "id",
            F.sum("deg").over(wk).alias("vol"),
            F.sum(F.coalesce("n", F.lit(0))).over(wk).alias("int2"),
        )
        .withColumn("cut", F.col("vol") - F.col("int2"))
        .withColumn(
            "phi",
            F.round(
                F.col("cut")
                / F.least(F.col("vol"), F.lit(total_vol) - F.col("vol")),
                6,
            ),
        )
        .where(F.col("vol") < total_vol)
    )
    best_rows = sweep.orderBy(F.asc("phi"), F.asc("pos")).limit(1).collect()
    if not best_rows:
        raise ValueError(
            f"local_community: seed {seed!r} has no PPR mass — it is absent "
            "from the edge table (or isolated), so no sweep cut exists"
        )
    best = best_rows[0]
    return (
        sweep.where(F.col("pos") <= int(best["pos"]))
        .select("id", "pos", F.lit(float(best["phi"])).alias("conductance"))
    )
