"""Personalized PageRank / random walk with restart.

Reference semantics (``giraph-examples/.../RandomWalkWithRestartComputation.java``
on the random-walk base ``RandomWalkComputation.java:113-155``): per
superstep ``value = (1 - t) * (sum(msgs) + danglingMass * pref) + t * pref``
where the teleport vector ``pref`` is uniform over the source set instead
of over all vertices; dangling mass restarts at the sources too. Total
probability mass is conserved at 1.

It IS pagerank's superstep (``pagerank._rank_loop``: one SQL text, one
Spark job) with a per-vertex teleport weight ``tele`` — ``pref`` on the
sources, 0 elsewhere — so ``rank' = d·msg + tele·(d·sink_sum + (1-d))``
with ``d = 1 - t``; and pagerank's one-job set-up (``_init_piece``).
``ppr_batch`` runs the same step keyed by ``(seed, id)``.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giraph_spark.algorithms.pagerank import _init_piece, _rank_loop, _setup_sums
from giraph_spark.pregel import (
    PregelRun,
    engine_call,
    gather_cte,
    run_sql_supersteps,
)


@engine_call
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
    srcs = [sources] if isinstance(sources, int) else list(sources)
    if not srcs:
        raise ValueError("personalized_pagerank needs at least one source")
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # pagerank's set-up: window-normalized out-weights, one groupBy for
    # ids and sinks; the teleport weight ``tele`` is the source preference
    e, state = _init_piece(edges, num_partitions, weighted=weighted)
    pref = F.when(F.col("id").isin(srcs), F.lit(1.0 / len(srcs))).otherwise(F.lit(0.0))
    setup_cut = state.select(
        "id", pref.alias("rank"), "is_sink", pref.alias("tele")
    ).localCheckpoint(eager=False)
    srow = _setup_sums(setup_cut)
    return _rank_loop(
        spark, e, setup_cut, setup_cut, int(srow["n"]),
        (float(srow["mass"] or 0.0), float(srow["sink_mass"] or 0.0)),
        damping=1.0 - float(teleport), salt=salt, tele=True,
        max_supersteps=max_supersteps, tolerance=tolerance, convergence="l1",
        verbose=verbose,
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
    return replace(run, vertices=run.vertices.select("id", F.col("rank").alias("trust")))


@engine_call
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
    if not seeds:
        raise ValueError("ppr_batch needs at least one seed")
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = 1.0 - float(teleport)
    e, state = _init_piece(edges, num_partitions)
    # one row per (seed, vertex): an explode of the seed literals, no
    # cross join (whose broadcast would be a job of its own)
    seed_ids = F.array(*[F.lit(int(s)).cast("long") for s in seeds])
    at_seed = F.when(F.col("id") == F.col("seed"), F.lit(1.0)).otherwise(F.lit(0.0))
    setup_cut = (
        state.select(F.explode(seed_ids).alias("seed"), "id", "is_sink")
        .select("seed", "id", at_seed.alias("rank"), "is_sink", at_seed.alias("tele"))
        .localCheckpoint(eager=False)
    )
    # the set-up aggregate fills the cut: each seed's sink mass
    sink_mass = F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0)))
    sinks = {
        int(r["seed"]): float(r["s"] or 0.0)
        for r in setup_cut.groupBy("seed").agg(sink_mass.alias("s")).collect()
    }

    def scalars(sinks: dict[int, float]) -> dict[str, str]:
        # each seed's teleport + sink mass, as a map literal keyed by seed;
        # D-suffixed doubles: a map's values must share one type
        pairs = (f"{int(s)}L, {d * sinks.get(int(s), 0.0) + (1.0 - d)!r}D" for s in seeds)
        return {"base": f"map({', '.join(pairs)})"}

    def update(row, _scalars):
        sinks = {int(k): float(v) for k, v in (row["sinks"] or {}).items()}
        return {"l1_max": float(row["l1_max"] or 0.0)}, scalars(sinks)

    # pagerank's rank step keyed by (seed, id): the gather keeps the seed
    rank = f"{d!r} * coalesce(g.msg, 0.0) + v.tele * element_at({{base}}, v.seed)"
    step_sql = "WITH " + gather_cte(
        "pprb_edges", "pprb_state", "v.rank * e.weight", salt=salt, by=("seed",)
    ) + f"""
      SELECT /*+ SHUFFLE_HASH(g) */ v.seed, v.id, {rank} AS rank, v.is_sink, v.tele,
             {rank} - v.rank AS _delta
      FROM pprb_state v LEFT JOIN g ON v.seed = g.seed AND v.id = g.dst"""
    agg_sql = """
      SELECT max(l1) AS l1_max, map_from_entries(collect_list(struct(seed, s))) AS sinks
      FROM (SELECT seed, sum(CASE WHEN is_sink THEN rank ELSE 0.0 END) AS s,
                   sum(abs(_delta)) AS l1
            FROM pprb_new GROUP BY seed)"""

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["l1_max"] < tolerance  # noqa: E731

    run = run_sql_supersteps(
        spark, setup_cut, ("pprb_state", "pprb_new"), {"pprb_edges": e}, step_sql,
        agg_sql, update, scalars(sinks), max_supersteps=max_supersteps, halt=halt,
        verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("seed", "id", "rank"))


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
