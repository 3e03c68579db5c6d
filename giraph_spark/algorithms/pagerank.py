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

Spark shape per superstep: one scatter join (edges × ranks, co-partitioned
on src==id so only the small rank state reshuffles), one gather
``groupBy(dst).sum`` (map-side combined = the DoubleSumMessageCombiner),
one update join, and ONE driver action computing next-iteration allSum /
sinkSum and all three convergence metrics in a single aggregate (the
per-superstep aggregator gather of master/MasterCompute.java:41-47).

Set-up is ONE Spark job, planned with AQE off in the call's own session
(``engine_session``; ``_init_piece``): the edge table is hash-partitioned
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

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giraph_spark.graph import normalize_edge_weights
from giraph_spark.pregel import (
    PregelRun,
    _checkpointed_jrdd,
    _gated_release,
    engine_session,
    rebind,
    run_supersteps,
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
    home = edges.sparkSession
    spark, edges, init_ranks = engine_session(edges, init_ranks)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev, sv, nv = "pr_edges", "pr_state", "pr_new"
    e, setup_cut = _init_piece(
        edges, num_partitions, weighted=weighted,
        pre_partitioned=pre_partitioned, init_ranks=init_ranks,
    )
    # the initial state is the first lineage cut: ONE set-up aggregate
    # fills it (and the edge cache under it) and returns the vertex
    # count and the total / sink mass, so superstep 0 starts with the
    # aggregator box already initialized (fresh start: every rank is
    # exactly 1.0); run_supersteps adopts the filled cut as superstep
    # 0's input
    setup_cut = setup_cut.localCheckpoint(eager=False)
    srow = setup_cut.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rank").alias("mass"),
        F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0))).alias(
            "sink_mass"
        ),
    ).collect()[0]
    n_vertices = int(srow["n"])
    if n_vertices == 0:
        e.unpersist()
        return PregelRun(
            vertices=rebind(setup_cut.select("id", "rank"), home), supersteps=0,
            converged=True,
        )
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

    d = float(damping)
    # aggregator state visible to the *next* superstep (one-superstep lag,
    # master/MasterCompute.java:41-47). On resume the loop starts from a
    # snapshot this setup never saw, so the box must fall back to the
    # lazy in-loop _sums; otherwise it is fully initialized here.
    box: dict[str, float] = {
        "all_sum": float(n_vertices),
        "sink_sum": None if resume else init_sink_sum,
    }  # type: ignore[assignment]

    def _sums(df: DataFrame) -> tuple[float, float]:
        r = df.agg(
            F.sum("rank").alias("all_sum"),
            F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(F.lit(0.0))).alias(
                "sink_sum"
            ),
        ).collect()[0]
        return float(r["all_sum"]), float(r["sink_sum"] or 0.0)

    # The step is issued as ONE spark.sql() text per superstep instead of
    # ~a dozen DataFrame-API calls: each Column/DataFrame builder is its
    # own py4j round trip, measured ~117 ms of the ~430 ms sf0.1
    # superstep floor; a SQL string ships the whole plan in one call and
    # parses/analyzes JVM-side (measured 442 -> 335 ms/superstep, ranks
    # identical to 1e-10 — FP reorder noise only). Join strategy hints
    # match the DataFrame formulation exactly:
    # - SHUFFLE_HASH(v) on the scatter join: sort-merge would re-sort the
    #   (static, cached, already src-partitioned) edge table every
    #   superstep; hash-building the much smaller per-superstep rank
    #   state streams the edges untouched.
    # - SHUFFLE_HASH(g) on the update join: build the gathered messages,
    #   probe the co-partitioned state.
    # The salted variant reproduces gather_messages' retry-safe two-level
    # reduction (content-hashed salt, pregel.py:104-114) in SQL.
    e.createOrReplaceTempView(ev)
    if salt and salt > 1:
        gather_cte = f"""m AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, v.rank * e.weight AS msg
        FROM {ev} e JOIN {sv} v ON e.src = v.id
      ),
      s1 AS (
        SELECT dst, sum(msg) AS msg
        FROM m GROUP BY dst, pmod(xxhash64(dst, msg), {int(salt)})
      ),
      g AS (SELECT dst, sum(msg) AS msg FROM s1 GROUP BY dst)"""
    else:
        gather_cte = f"""g AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, sum(v.rank * e.weight) AS msg
        FROM {ev} e JOIN {sv} v ON e.src = v.id
        GROUP BY e.dst
      )"""
    step_sql = (
        "WITH " + gather_cte + f"""
      SELECT /*+ SHUFFLE_HASH(g) */ v.id,
             {{d}} * coalesce(g.msg, 0.0) + {{base}} AS rank,
             v.is_sink,
             {{d}} * coalesce(g.msg, 0.0) + {{base}} - v.rank AS _delta
      FROM {sv} v LEFT JOIN g ON v.id = g.dst"""
    )
    agg_sql = f"""
      SELECT sum(rank) AS all_sum,
             sum(CASE WHEN is_sink THEN rank ELSE 0.0 END) AS sink_sum,
             sum(abs(_delta)) AS l1,
             max(abs(_delta)) AS linf,
             sqrt(avg(_delta * _delta)) AS rmse
      FROM {nv}"""

    def step(vertices: DataFrame, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        if box["sink_sum"] is None:  # resume from a snapshot this setup never saw
            box["all_sum"], box["sink_sum"] = _sums(vertices)
        all_sum, sink_sum = box["all_sum"], box["sink_sum"]
        base = d * sink_sum / n_vertices + (1.0 - d) * all_sum / n_vertices

        vertices.createOrReplaceTempView(sv)
        new_state = spark.sql(step_sql.format(d=repr(d), base=repr(base)))
        # LAZY lineage cut BEFORE the action: the convergence aggregate
        # below materializes the checkpoint blocks in ITS job, so the
        # loop adopts the cut and the superstep costs exactly one Spark
        # job (a separate eager-cut job measured ~120 ms of the sf0.1
        # superstep floor)
        new_state = new_state.localCheckpoint(eager=False)
        new_state.createOrReplaceTempView(nv)
        # ONE action: next-iteration sums + all convergence reducers
        row = spark.sql(agg_sql).collect()[0]
        box["all_sum"], box["sink_sum"] = float(row["all_sum"]), float(row["sink_sum"] or 0.0)
        stats = {
            "all_sum": box["all_sum"],
            "sink_sum": box["sink_sum"],
            "l1": float(row["l1"]),
            "l1_mean": float(row["l1"]) / n_vertices,
            "linf": float(row["linf"]),
            "rmse": float(row["rmse"]),
        }
        return new_state, stats

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats[convergence] < tolerance  # noqa: E731

    run = run_supersteps(
        spark,
        state,
        step,
        max_supersteps=max_supersteps,
        halt=halt,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
        verbose=verbose,
    )
    if state is not setup_cut:  # the loop did not adopt the set-up cut
        _gated_release(spark.sparkContext, _checkpointed_jrdd(setup_cut))
    e.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "rank"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


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
    return PregelRun(
        vertices=run.vertices.select("id", (F.col("rank") / F.lit(max(n, 1))).alias("rank")),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )
