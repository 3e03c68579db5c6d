"""PageRank with sink-mass redistribution — the reference's production
("Blocks") semantics.

Reference semantics reproduced
(``giraph-block-app-8/src/main/java/org/apache/giraph/block_app/library/
pagerank/PageRankIteration.java:137-264``):

- init: every vertex value 1.0 (PageRankSettings.java:38); message-target-
  only vertices materialized (PageRankInitializeAndNormalizeEdgesPiece.java:81);
  weighted mode first normalizes out-edge weights to sum 1 per vertex
  (PageRankInitializeAndNormalizeEdgesPiece.java:70-83)
- per iteration: allSum = sum of all values; sinkSum = sum over out-degree-0
  vertices (PageRankIteration.java:160-165); non-sinks scatter
  ``value * edgeWeight`` (sum-combined, :166-178, :283-286); new value =
  ``d*(sum(msgs) + sinkSum/N) + (1-d)*allSum/N`` (:254-264) — total mass
  is conserved at N
- convergence reducers: L1 / Linf / RMSE of |delta| (:84-96, :204-231;
  threshold default 1e-5, PageRankSettings.java:49-52), loop wrapped in
  RepeatUntilBlock (PageRankBlockUtils.java:53-67)

Spark shape per superstep: ONE SQL text (``run_sql_supersteps``) of one
scatter join (edges × ranks, co-partitioned on src==id so only the small
rank state reshuffles), one gather ``sum`` (map-side combined = the
DoubleSumMessageCombiner) and one update join, and ONE driver action
computing next-iteration allSum / sinkSum and all three convergence
metrics in a single aggregate (the per-superstep aggregator gather of
master/MasterCompute.java:41-47) — one Spark job. ``ppr.py``'s
personalized variants run the same step (``_rank_loop``).

Set-up is ONE Spark job, planned with AQE off in the call's own session
(``pregel.engine_call``; ``_init_piece``): the edge table is hash-partitioned
by src (a bucketed table already is) and cached, its weight a
``count(*) OVER (PARTITION BY src)`` window on that partitioning — no
degree join; every vertex and its sink flag come from one ``groupBy(id)``
over the edges' src and dst rows — no distinct, anti-join or broadcast.
The initial state is a lazy ``localCheckpoint`` that the set-up aggregate
(vertex count, mass, sink mass) fills together with the edge cache, and
``run_supersteps`` adopts it as superstep 0's cut: a 5-superstep call is
6 jobs.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giraph_spark.graph import normalize_edge_weights
from giraph_spark.pregel import (
    LineageCuts,
    PregelRun,
    engine_call,
    gather_cte,
    run_sql_supersteps,
)


def _init_piece(
    edges: DataFrame,
    num_partitions: int,
    weighted: bool = False,
    pre_partitioned: bool = False,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The init piece (PageRankInitializeAndNormalizeEdgesPiece.java:
    70-83) as two lazy frames: the static edge table (src, dst, weight),
    hash-partitioned by ``src`` and cached, each source's out-weights
    normalized to sum 1; and the initial state (id, rank, is_sink),
    hash-partitioned by ``id``. The state reads the cached edges, so one
    action over it computes both — with no join and no broadcast.
    """
    e = edges.select("src", "dst", "weight") if weighted else edges.select("src", "dst")
    # static for the whole run: hash-partition by the scatter key once and
    # cache, so each superstep's scatter join reshuffles only the rank state;
    # a bucketed input table already IS partitioned that way — skip the
    # exchange entirely (storage.write_bucketed_edges). The weight is a
    # window over src, which that partitioning already clusters: no
    # exchange and no degree join
    if not pre_partitioned:
        e = e.repartition(num_partitions, "src")
    if weighted:
        e = normalize_edge_weights(e)
    else:
        out_degree = F.count(F.lit(1)).over(Window.partitionBy("src"))
        e = e.withColumn("weight", F.lit(1.0) / out_degree)
    e = e.persist()

    # every id an edge touches (message-target-only vertices included,
    # :81), from ONE groupBy over its src and dst rows: a vertex is a sink
    # when it has no src row
    ends = e.select(
        F.inline(
            F.array(
                F.struct(F.col("src").alias("id"), F.lit(False).alias("is_sink")),
                F.struct(F.col("dst").alias("id"), F.lit(True).alias("is_sink")),
            )
        )
    )
    state = ends.groupBy("id").agg(F.bool_and("is_sink").alias("is_sink"))
    rank = F.lit(1.0)
    if init_ranks is not None:
        state = state.join(init_ranks.select("id", F.col("rank").alias("_warm")), "id", "left")
        rank = F.coalesce("_warm", rank)
    state = state.select("id", rank.alias("rank"), "is_sink")
    return e, state.repartition(num_partitions, "id")


@engine_call
def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    max_supersteps: int = 10,
    tolerance: float | None = None,
    convergence: str = "l1",  # l1 | l1_mean | linf | rmse (PageRankConvergenceType.java)
    weighted: bool = False,
    salt: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
    init_ranks: DataFrame | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Run PageRank; result ``vertices`` has columns (id, rank).

    ``tolerance=None`` runs exactly ``max_supersteps`` iterations
    (RepeatBlock semantics); otherwise halt when the chosen convergence
    metric drops below tolerance (RepeatUntilBlock semantics).
    ``pre_partitioned=True`` declares that ``edges`` already carries a
    hash-partitioning on ``src`` (a bucketed table from
    ``storage.write_bucketed_edges``) and skips the per-run exchange.

    ``init_ranks`` (id, rank) warm-starts the iteration — the
    incremental-recompute path after a graph mutation: seed with the
    previous run's converged ranks (vertices missing from it start at
    1.0, extra rows are ignored) and the power iteration re-converges in
    the few supersteps the perturbation needs instead of from scratch.
    """
    if convergence not in ("l1", "l1_mean", "linf", "rmse"):
        raise ValueError(f"unknown convergence type {convergence!r}")
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e, setup_cut = _init_piece(
        edges, num_partitions, weighted=weighted,
        pre_partitioned=pre_partitioned, init_ranks=init_ranks,
    )
    # the initial state is the first lineage cut: ONE set-up aggregate
    # fills it (and the edge cache under it) and returns the vertex
    # count and the total / sink mass, so superstep 0 starts with its
    # scalars known (fresh start: every rank is exactly 1.0);
    # run_supersteps adopts the filled cut as superstep 0's input
    setup_cut = setup_cut.localCheckpoint(eager=False)
    srow = _setup_sums(setup_cut)
    n_vertices = int(srow["n"])
    state = setup_cut
    init_sink_sum = float(srow["sink_mass"] or 0.0)
    if init_ranks is not None:
        # this formulation CONSERVES the initial mass (new = d·(msgs +
        # sink/N) + (1-d)·allSum/N), so an arbitrary warm vector must be
        # rescaled to the reference's mass-N convention or the fixpoint
        # itself would be scaled by the mass ratio. The rescale is an
        # un-cut input the loop persists; superstep 0's cut stops
        # reading the set-up cut, which is freed after the loop
        total = float(srow["mass"] or 0.0)
        if total > 0:
            state = state.withColumn(
                "rank", F.col("rank") * F.lit(n_vertices / total)
            )
            init_sink_sum = init_sink_sum * (n_vertices / total)

    return _rank_loop(
        spark, e, setup_cut, state, n_vertices,
        None if resume else (float(n_vertices), init_sink_sum),
        damping=damping, salt=salt, tele=False, max_supersteps=max_supersteps,
        tolerance=tolerance, convergence=convergence, checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval, resume=resume, verbose=verbose,
    )


def _setup_sums(setup_cut: DataFrame):
    """Vertex count, mass and sink mass of a rank state: the set-up
    aggregate, the ONE action that fills the initial lazy cut and the
    edge cache it reads (and a resumed snapshot's sums)."""
    return setup_cut.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rank").alias("mass"),
        F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0))).alias(
            "sink_mass"
        ),
    ).collect()[0]


def _rank_loop(
    spark: SparkSession,
    e: DataFrame,
    setup_cut: DataFrame,
    state: DataFrame,
    n_vertices: int,
    sums: tuple[float, float] | None,
    *,
    damping: float,
    salt: int | None,
    tele: bool,
    tolerance: float | None,
    convergence: str,
    **loop: Any,
) -> PregelRun:
    """The rank iteration over the cached edges ``e`` from ``state`` (the
    set-up cut, or a frame derived from it): per superstep ``rank' =
    d·msg + tele·(d·sink_sum + (1-d)·all_sum)``, one Spark job. PageRank's
    ``tele`` is 1/N on every vertex, folded into the ``{base}`` literal;
    ``tele=True`` reads a per-vertex ``tele`` column instead (personalized
    PageRank: the source preference), and the teleport mass is the unit
    probability mass. ``sums`` = (all_sum, sink_sum) of ``state``; None
    derives them from the first state the loop reads (a resumed
    snapshot). Result ``vertices``: (id, rank)."""
    if n_vertices == 0:
        e.unpersist()
        return PregelRun(vertices=setup_cut.select("id", "rank"), supersteps=0, converged=True)
    d = float(damping)
    # the step's {base} slot is the teleport + sink mass of the previous
    # superstep. Join strategy hints: SHUFFLE_HASH(v) on the scatter join
    # (gather_cte), SHUFFLE_HASH(g) on the update join — build the
    # gathered messages, probe the co-partitioned state
    term = "v.tele * {base}" if tele else "{base}"
    gather = gather_cte("pr_edges", "pr_state", "v.rank * e.weight", salt=salt)
    step_sql = f"""WITH {gather}
      SELECT /*+ SHUFFLE_HASH(g) */ v.id,
             {d!r} * coalesce(g.msg, 0.0) + {term} AS rank,
             v.is_sink,{" v.tele," if tele else ""}
             {d!r} * coalesce(g.msg, 0.0) + {term} - v.rank AS _delta
      FROM pr_state v LEFT JOIN g ON v.id = g.dst"""
    agg_sql = """
      SELECT sum(rank) AS all_sum,
             sum(CASE WHEN is_sink THEN rank ELSE 0.0 END) AS sink_sum,
             sum(abs(_delta)) AS l1,
             max(abs(_delta)) AS linf,
             sqrt(avg(_delta * _delta)) AS rmse
      FROM pr_new"""

    def scalars(all_sum: float, sink_sum: float) -> dict[str, float]:
        if tele:
            return {"base": d * sink_sum + (1.0 - d)}
        return {"base": d * sink_sum / n_vertices + (1.0 - d) * all_sum / n_vertices}

    def resumed(df: DataFrame) -> dict[str, float]:
        r = _setup_sums(df)
        return scalars(float(r["mass"]), float(r["sink_mass"] or 0.0))

    def update(row, _scalars):
        all_sum, sink_sum = float(row["all_sum"]), float(row["sink_sum"] or 0.0)
        stats = {
            "all_sum": all_sum,
            "sink_sum": sink_sum,
            "l1": float(row["l1"]),
            "l1_mean": float(row["l1"]) / n_vertices,
            "linf": float(row["linf"]),
            "rmse": float(row["rmse"]),
        }
        return stats, scalars(all_sum, sink_sum)

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats[convergence] < tolerance  # noqa: E731

    with LineageCuts(spark.sparkContext) as cuts:
        if state is not setup_cut:  # the loop will not adopt the set-up cut
            cuts.adopt(setup_cut, "setup")
        run = run_sql_supersteps(
            spark, state, ("pr_state", "pr_new"), {"pr_edges": e}, step_sql, agg_sql,
            update, resumed if sums is None else scalars(*sums), halt=halt, **loop,
        )
    return replace(run, vertices=run.vertices.select("id", "rank"))


def pagerank_random_walk(
    spark: SparkSession,
    edges: DataFrame,
    teleport: float = 0.15,
    max_supersteps: int = 30,
    tolerance: float | None = None,
    num_partitions: int | None = None,
    salt: int | None = None,
    pre_partitioned: bool = False,
    verbose: bool = False,
) -> PregelRun:
    """Random-walk normalized PageRank — the probability-distribution
    variant (``giraph-examples/.../RandomWalkComputation.java:115-155`` with
    ``PageRankComputation.java:33-56``): init 1/N; per superstep

        p' = [ (1-t)*(sum(msgs) + D_prev/N) + t/N ] / C_prev

    where ``D_prev`` = cumulative probability of dangling vertices and
    ``C_prev`` = cumulative probability of ALL vertices from the previous
    superstep (the one-superstep-lag aggregators
    CUMULATIVE_DANGLING_PROBABILITY / CUMULATIVE_PROBABILITY); the
    division is the reference's "rescale for numerical stability"
    (:126-129). Convergence = aggregated L1 of |p' - p| vs ``tolerance``.
    Ranks sum to 1 (vs the mass-N convention of ``pagerank``).

    The update conserves mass, so C = 1 and D is the sink mass of
    :func:`pagerank` divided by N: the iteration IS ``pagerank`` with
    ``damping = 1 - t``, scaled by 1/N, and its L1 is pagerank's
    ``l1_mean``. It runs as exactly that; ``history`` carries pagerank's
    stats (``l1_mean`` is this variant's L1). ``salt`` /
    ``pre_partitioned`` are pagerank's.
    """
    run = pagerank(
        spark,
        edges,
        damping=1.0 - float(teleport),
        max_supersteps=max_supersteps,
        tolerance=tolerance,
        convergence="l1_mean",
        salt=salt,
        num_partitions=num_partitions,
        pre_partitioned=pre_partitioned,
        verbose=verbose,
    )
    n = run.vertices.count()
    return replace(
        run, vertices=run.vertices.select("id", (F.col("rank") / F.lit(max(n, 1))).alias("rank"))
    )
