"""Shortest paths: SSSP (weighted min-relaxation) and BFS (hop distance).

Reference semantics:
- SSSP ``giraph-examples/.../SimpleShortestPathsComputation.java:39-86``:
  value starts at +inf (0 at source); if min(messages) < value, update and
  send ``dist + edgeWeight`` to out-neighbors; voteToHalt each superstep
  (wake-on-message). Min message combiner.
- BFS ``giraph-block-app-8/.../algo/BreadthFirstSearch.java:58,72,116``:
  hop-distance propagation from one or many seeds.

Spark shape: SSSP/BFS is the send-on-change relaxation WCC and max-label
share (``pregel._relax``): only vertices whose distance improved scatter
next superstep (the active set), and each superstep is one SQL text, one
Spark job. The multi-seed BFS runs one SQL text per superstep too, over
(seed, id) pairs; a full outer join adds the newly reached pairs.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import vertices_from_edges
from giraph_spark.pregel import PregelRun, _relax, _until_unchanged, engine_call, gather_cte

_INF = float("inf")


@engine_call
def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int | list[int],
    weight_col: str | None = "weight",
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    init_dists: DataFrame | None = None,
    init_frontier: DataFrame | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Result ``vertices``: (id, distance) — unreachable stays +Infinity.

    With ``weight_col=None`` every edge has weight 1.0 (= weighted BFS).

    ``init_dists`` (id, distance) warm-starts from a previous run — the
    incremental path after edges are ADDED (shortest distances only
    decrease, so old distances stay valid upper bounds and relaxation
    from them reaches the same fixpoint). ``init_frontier`` (first
    column = vertex ids) names the vertices to relax in superstep 1 —
    for an edge delta, pass ``delta.select("src")``: a decrease can only
    originate at a new edge's source, then cascades normally.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sources = [source] if isinstance(source, int) else list(source)
    if weight_col is None:
        e = edges.select("src", "dst", F.lit(1.0).alias("w"))
    else:
        e = edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    e = e.repartition(num_partitions, "src").persist()

    state = vertices_from_edges(e).select(
        "id",
        F.when(F.col("id").isin(sources), F.lit(0.0)).otherwise(F.lit(_INF)).alias("distance"),
        F.col("id").isin(sources).alias("changed"),
    )
    if init_dists is not None:
        state = state.join(
            init_dists.select("id", F.col("distance").alias("_warm")), "id", "left"
        ).select(
            "id",
            F.least("distance", F.coalesce("_warm", F.lit(_INF))).alias("distance"),
            "changed",
        )
    if init_frontier is not None:
        fr = (
            init_frontier.select(
                F.col(init_frontier.columns[0]).cast("long").alias("id")
            )
            .distinct()
            .withColumn("_f", F.lit(True))
        )
        state = state.join(fr, "id", "left").select(
            "id",
            "distance",
            (F.col("changed") | F.coalesce("_f", F.lit(False))).alias("changed"),
        )

    # inf-distance frontier vertices (possible under init_frontier)
    # would only send inf messages: they do not scatter
    run = _relax(
        spark, state, "sssp", e, "distance", "v.distance + e.w", "min",
        where="v.changed AND v.distance < double('Infinity')",
        max_supersteps=max_supersteps, verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "distance"))


def bfs(
    spark: SparkSession,
    edges: DataFrame,
    seeds: int | list[int],
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Hop distance from the seed set (BreadthFirstSearch.java:58-116);
    result (id, hops) with unreachable = -1 (reference uses a sentinel)."""
    run = sssp(
        spark,
        edges,
        seeds,
        weight_col=None,
        max_supersteps=max_supersteps,
        num_partitions=num_partitions,
        verbose=verbose,
    )
    hops = run.vertices.select(
        "id",
        F.when(F.col("distance") == F.lit(_INF), F.lit(-1))
        .otherwise(F.col("distance").cast("long"))
        .alias("hops"),
    )
    return replace(run, vertices=hops)


@engine_call
def multi_seed_distances(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """One BFS carrying all seeds at once: result ``vertices`` holds the
    REACHED (seed, id, dist) pairs (unreached pairs absent).

    The frontier is (seed, id) pairs, so per superstep the scatter is ONE
    edge join for every seed together (work O(|seeds|·E) total, not
    |seeds| sequential BFS jobs); on a web graph each seed reaches most
    vertices, so state peaks at |seeds|·V, the same bound a per-seed loop
    would pay in time instead of space. Shared core of
    ``harmonic_centrality`` and ``eccentricity``.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").repartition(num_partitions, "src").persist()
    verts = vertices_from_edges(e)

    seed_lit = [int(s) for s in seeds]
    state = (
        verts.where(F.col("id").isin(seed_lit))
        .select(
            F.col("id").alias("seed"),
            "id",
            F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("changed"),
        )
        .repartition(num_partitions, "seed", "id")
    )

    # min-combined per (seed, dst): the composite-key gather; the full
    # outer join adds the newly reached pairs, which send next superstep
    step_sql = "WITH " + gather_cte(
        "msd_edges", "msd_state", "v.dist + 1", fn="min", where="v.changed", by=("seed",)
    ) + """
      SELECT /*+ SHUFFLE_HASH(g) */ coalesce(v.seed, g.seed) AS seed,
             coalesce(v.id, g.dst) AS id,
             coalesce(v.dist, g.msg) AS dist,
             (v.dist IS NULL) AS changed
      FROM msd_state v FULL OUTER JOIN g ON v.seed = g.seed AND v.id = g.dst"""
    run = _until_unchanged(
        spark, state, "msd", e, step_sql, max_supersteps=max_supersteps, verbose=verbose
    )
    return replace(run, vertices=run.vertices.select("seed", "id", "dist"))


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Harmonic centrality over a seed sample: H(v) = Σ_{s: d(s,v)>0} 1/d(s,v)
    (inbound distances — the ranking Common Crawl publishes for its host
    graph; with seeds = all vertices this is exact, with a uniform sample
    scale by N/|seeds| for the standard estimator).

    Result ``vertices``: (id, harmonic, n_reached) for every vertex,
    0.0 / 0 when no seed reaches it.
    """
    run = multi_seed_distances(
        spark, edges, seeds, max_supersteps, num_partitions, verbose
    )
    verts = vertices_from_edges(edges)
    reached = run.vertices.groupBy("id").agg(
        F.sum(
            F.when(F.col("dist") > 0, F.lit(1.0) / F.col("dist")).otherwise(0.0)
        ).alias("harmonic"),
        F.sum(F.when(F.col("dist") > 0, 1).otherwise(0)).cast("long").alias(
            "n_reached"
        ),
    )
    out = (
        verts.join(reached, "id", "left")
        .select(
            "id",
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
            F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
        )
    )
    return replace(run, vertices=out)


def eccentricity(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Per-seed eccentricity over the REACHABLE set: ecc(s) = max_v d(s, v)
    (directed hops), plus how many vertices s reaches. The max over any
    seed sample lower-bounds the graph diameter — the standard
    sampled-BFS diameter estimator for web-scale graphs, one multi-seed
    BFS regardless of sample size.

    Result ``vertices``: (seed, eccentricity, n_reached), one row per seed.
    """
    run = multi_seed_distances(
        spark, edges, seeds, max_supersteps, num_partitions, verbose
    )
    out = run.vertices.groupBy("seed").agg(
        F.max("dist").cast("long").alias("eccentricity"),
        F.sum(F.when(F.col("dist") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_reached"),
    )
    return replace(run, vertices=out)


def closeness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Per-seed closeness over the reachable set:
    C(s) = n_reached / Σ_{v: d(s,v)>0} d(s,v) — the reachable-set
    variant every disconnected/directed web graph needs (classic
    closeness is undefined there). NULL when s reaches nothing.

    Result ``vertices``: (seed, closeness, n_reached); shares the single
    multi-seed BFS with ``harmonic_centrality`` / ``eccentricity``.
    """
    run = multi_seed_distances(
        spark, edges, seeds, max_supersteps, num_partitions, verbose
    )
    reached = run.vertices.where(F.col("dist") > 0)
    out = reached.groupBy("seed").agg(
        F.try_divide(
            F.count(F.lit(1)).cast("double"), F.sum("dist").cast("double")
        ).alias("closeness"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )
    # seeds that reach nothing still get a row (closeness NULL)
    all_seeds = spark.createDataFrame([(int(s),) for s in seeds], "seed long")
    out = all_seeds.join(out, "seed", "left").select(
        "seed", "closeness", F.coalesce("n_reached", F.lit(0)).alias("n_reached")
    )
    return replace(run, vertices=out)


def pointer_jump(
    spark: SparkSession,
    links: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """Resolve functional chains by pointer doubling — (id, final, hops).

    ``links`` is a functional graph (one out-edge per ``src``: redirect
    maps, short-link hops, canonicalization chains); the result gives,
    for every chain head, the terminal target (a node with no out-edge)
    and the exact chain length. The classic web-crawl redirect-resolution
    primitive, and the Shiloach-Vishkin pointer-doubling pattern the
    reference's WCC variants rely on implicitly.

    Each round joins the state against itself (``ptr' = state[ptr].ptr``,
    ``hops' = hops + state[ptr].hops``), doubling the resolved distance —
    O(log L) rounds for chains of length L, at the cost of reshuffling
    the whole state per round (the standard doubling tradeoff vs L
    one-hop rounds; at 100 TB the log factor wins for crawl-depth
    chains). Raises if ``max_rounds`` (default 40 → chains up to 2^40)
    is exhausted, which on a *functional* input can only mean a cycle —
    a silent partial resolve would be wrong.
    """
    from giraph_spark.pregel import LineageCuts as _Cuts

    with _Cuts(spark.sparkContext) as cuts:
        state = cuts.cut(
            links.select("src", "dst").dropDuplicates(["src"]).select(
                F.col("src").alias("id"),
                F.col("dst").alias("ptr"),
                F.lit(1).cast("long").alias("hops"),
            ),
            "state",
        )
        for _ in range(max_rounds):
            m = state.select(
                F.col("id").alias("ptr"),
                F.col("ptr").alias("m_ptr"),
                F.col("hops").alias("m_hops"),
            )
            nxt = state.join(m, "ptr", "left")
            changed = nxt.where(F.col("m_ptr").isNotNull())
            n_changed = changed.count()
            if n_changed == 0:
                break
            state = cuts.cut(
                nxt.select(
                    "id",
                    F.coalesce("m_ptr", "ptr").alias("ptr"),
                    (F.col("hops") + F.coalesce("m_hops", F.lit(0))).alias("hops"),
                ),
                "state",
            )
        else:
            raise RuntimeError(
                "pointer_jump: round budget exhausted — the input is not an "
                "acyclic functional graph (redirect cycle?)"
            )
        cuts.forget("state")
        return state.select("id", F.col("ptr").alias("final"), "hops")


def pseudo_diameter(
    spark: SparkSession,
    edges: DataFrame,
    start: int | None = None,
    symmetrize_input: bool = True,
    max_supersteps: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Double-sweep BFS pseudo-diameter (Magnien-Latapy-Habib): BFS from
    ``start`` (default min vertex id), hop to the farthest reached vertex
    (tie-break min id), BFS again from there; the second sweep's maximum
    hop count is a lower bound on the diameter that is exact on trees and
    near-exact on web graphs. Returns ONE row
    (start_id, peripheral_id, diameter_lb).

    Two frontier BFS runs + two 1-row driver argmax aggregates — the
    whole thing is O(E * diameter) like a single BFS, vs the O(V * E)
    all-pairs eccentricity it approximates. Giraph has no diameter op;
    the sweep reuses the BreadthFirstSearch superstep
    (``BreadthFirstSearch.java:58-116``) unchanged.
    """
    from giraph_spark.graph import symmetrize

    e = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
    if start is None:
        start = int(
            vertices_from_edges(e).agg(F.min("id").alias("m")).collect()[0]["m"]
        )
    first = bfs(spark, e, start, max_supersteps=max_supersteps,
                num_partitions=num_partitions)
    far = first.vertices.where(F.col("hops") >= 0).agg(
        F.expr("max_by(id, struct(hops, -id))").alias("id")
    ).collect()[0]["id"]
    second = bfs(spark, e, int(far), max_supersteps=max_supersteps,
                 num_partitions=num_partitions)
    return second.vertices.agg(
        F.lit(int(start)).alias("start_id"),
        F.lit(int(far)).alias("peripheral_id"),
        F.max("hops").alias("diameter_lb"),
    )


def landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: list[int],
    pairs: DataFrame,
    max_supersteps: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Landmark (2-hop-cover style) distance estimation for arbitrary
    directed pairs: est(u, v) = min over landmarks L of
    d(u -> L) + d(L -> v) — an UPPER bound on the true distance, exact
    whenever a shortest path passes a landmark. The standard web-graph
    answer to 'how far is page u from page v' when all-pairs BFS is
    impossible: 2|L| BFS sweeps at build time, O(|L|) lookup per query.

    Build = ONE forward multi-seed BFS over the edges plus ONE backward
    multi-seed BFS over the reversed edges (both
    :func:`multi_seed_distances`, frontier-based); the estimate is two
    hash joins of the queried ``pairs`` (u, v) against the two distance
    tables and a min-combine — no per-query graph traversal. Pairs with
    no common reaching/reachable landmark are returned with est = NULL
    (unknown, not infinite).
    """
    fwd = multi_seed_distances(
        spark, edges, landmarks,
        max_supersteps=max_supersteps, num_partitions=num_partitions,
    ).vertices
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = multi_seed_distances(
        spark, rev, landmarks,
        max_supersteps=max_supersteps, num_partitions=num_partitions,
    ).vertices
    to_l = bwd.select(
        F.col("id").alias("u"), "seed", F.col("dist").alias("_du")
    )
    from_l = fwd.select(
        F.col("id").alias("v"), "seed", F.col("dist").alias("_dv")
    )
    return (
        pairs.select("u", "v")
        .join(to_l, "u", "left")
        .join(from_l, ["v", "seed"], "left")
        .groupBy("u", "v")
        .agg(F.min(F.col("_du") + F.col("_dv")).alias("est"))
    )


def mean_distance(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_supersteps: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sampled average shortest-path length: mean of d(s, v) over every
    reached (seed, vertex) pair with d > 0 — the L in the small-world
    characterization and the standard 'average click distance' estimate
    for a web graph (one multi-seed BFS, any sample size). Returns ONE
    row (n_pairs, mean_dist rounded 6dp)."""
    run = multi_seed_distances(
        spark, edges, seeds, max_supersteps, num_partitions
    )
    d = run.vertices.where(F.col("dist") > 0)
    return d.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("dist"), 6).alias("mean_dist"),
    )
