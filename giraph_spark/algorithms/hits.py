"""HITS (hubs & authorities) — Kleinberg's link-analysis iteration.

Beyond-reference link-graph operator (the reference ships PageRank
variants only; HITS is the other classic web-link score and slots into
the same superstep machinery — SURVEY.md §2.8). Semantics follow the
original formulation (Kleinberg, JACM 1999):

    auth'(v) = Σ_{u→v} hub(u)        (gather over in-edges)
    hub'(u)  = Σ_{u→v} auth'(v)      (gather of the NEW auth over out-edges)
    then L2-normalize each score vector.

Because the normalizations are scalar multiplies, computing ``hub'`` from
the *unnormalized* ``auth'`` yields the same normalized result — so one
superstep is two scatter/gather joins plus ONE driver action.

Spark shape per superstep (same scale discipline as pagerank.py):

- the edge table is exchanged ONCE per run in each join orientation
  (hash-partitioned by ``src`` for the auth gather, by ``dst`` for the
  hub gather) and cached; per superstep only the small vertex state
  reshuffles (SHUFFLE_HASH build side = state);
- both gathers are algebraic sums → map-side combined, hub fan-in is
  bounded by the same salting path as every other gather
  (``gather_messages(salt=...)``);
- ONE ``collect`` per superstep returns ‖a‖², ‖h‖² and the dot products
  against the previous (unit) vectors, so the convergence metric
  ``delta = (1 - cos(a', a)) + (1 - cos(h', h))`` costs no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import dedup_edges, vertices_from_edges
from giraph_spark.pregel import PregelRun, engine_session, gather_messages, rebind, run_supersteps


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 10,
    tolerance: float | None = None,
    salt: int | None = None,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Run HITS; result ``vertices`` has columns (id, auth, hub), each
    vector L2-normalized.

    ``tolerance`` (if set) halts when ``(1-cos(auth',auth)) +
    (1-cos(hub',hub))`` drops below it (both vectors are unit, so this is
    the angular movement of the power iteration); otherwise exactly
    ``max_supersteps`` iterations run (RepeatBlock semantics).
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = dedup_edges(edges.select("src", "dst"))
    # static for the run: one cached copy per join orientation, so each
    # superstep's two scatter joins reshuffle only the vertex state
    e_fwd = e.repartition(num_partitions, "src").persist()
    e_rev = e.repartition(num_partitions, "dst").persist()

    verts = vertices_from_edges(e)
    n_vertices = verts.count()
    if n_vertices == 0:
        empty = verts.select(
            "id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
        )
        return PregelRun(vertices=rebind(empty, home), supersteps=0, converged=True)

    init = 1.0 / (n_vertices ** 0.5)  # already L2-normalized
    state = verts.select(
        "id", F.lit(init).alias("auth"), F.lit(init).alias("hub")
    ).repartition(num_partitions, "id")

    # the step's joined intermediate is cached so the norm aggregate and
    # the state materialization share one execution; released one
    # superstep later (after the engine's lineage cut detaches the state)
    box: dict[str, DataFrame | None] = {"prev_raw": None}

    def _release_prev() -> None:
        prev = box["prev_raw"]
        if prev is not None:
            prev.unpersist()
            box["prev_raw"] = None

    def step(vertices: DataFrame, superstep: int):
        _release_prev()
        a_msgs = e_fwd.join(
            vertices.select(F.col("id").alias("src"), "hub").hint("shuffle_hash"),
            "src",
        ).select("dst", F.col("hub").alias("msg"))
        a_raw = (
            gather_messages(a_msgs, [("msg", "sum")], key="dst", salt=salt)
            .withColumnRenamed("dst", "id")
            .withColumnRenamed("msg", "a_raw")
        )
        full = vertices.join(a_raw.hint("shuffle_hash"), "id", "left").select(
            "id",
            "auth",
            "hub",
            F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"),
        )
        h_msgs = e_rev.join(
            full.select(F.col("id").alias("dst"), "a_raw").hint("shuffle_hash"),
            "dst",
        ).select("src", F.col("a_raw").alias("msg"))
        h_raw = (
            gather_messages(h_msgs, [("msg", "sum")], key="src", salt=salt)
            .withColumnRenamed("src", "id")
            .withColumnRenamed("msg", "h_raw")
        )
        raw = (
            full.join(h_raw.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                "auth",
                "hub",
                "a_raw",
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
            )
            .persist()
        )
        box["prev_raw"] = raw
        # ONE action: both squared norms + dot products with the previous
        # unit vectors (cos = dot/norm because ‖old‖ = 1)
        norms = raw.agg(
            F.sum(F.col("a_raw") * F.col("a_raw")).alias("na2"),
            F.sum(F.col("h_raw") * F.col("h_raw")).alias("nh2"),
            F.sum(F.col("a_raw") * F.col("auth")).alias("dot_a"),
            F.sum(F.col("h_raw") * F.col("hub")).alias("dot_h"),
        ).collect()[0]
        na = float(norms["na2"]) ** 0.5 or 1.0
        nh = float(norms["nh2"]) ** 0.5 or 1.0
        delta = (1.0 - float(norms["dot_a"]) / na) + (
            1.0 - float(norms["dot_h"]) / nh
        )
        new_state = raw.select(
            "id",
            (F.col("a_raw") / F.lit(na)).alias("auth"),
            (F.col("h_raw") / F.lit(nh)).alias("hub"),
        )
        return new_state, {"na": na, "nh": nh, "delta": delta}

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["delta"] < tolerance  # noqa: E731

    run = run_supersteps(
        spark,
        state,
        step,
        max_supersteps=max_supersteps,
        halt=halt,
        verbose=verbose,
    )
    _release_prev()
    e_fwd.unpersist()
    e_rev.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "auth", "hub"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 10,
    tolerance: float | None = None,
    salt: int | None = None,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Eigenvector centrality by power iteration on in-edges:
    x' = A^T x, L2-normalized each superstep — the HITS authority
    update without the hub alternation (the other classic spectral
    link score; beyond-reference, SURVEY §2.8). Result ``vertices``:
    (id, score), unit L2 norm.

    Same scale shape as ``hits``: edge table exchanged once, one
    algebraic (map-side-combined, saltable) gather plus ONE driver
    action per superstep; ``tolerance`` halts on angular movement
    1 - cos(x', x).
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = dedup_edges(edges.select("src", "dst"))
    e_fwd = e.repartition(num_partitions, "src").persist()

    verts = vertices_from_edges(e)
    n_vertices = verts.count()
    if n_vertices == 0:
        return PregelRun(
            vertices=rebind(verts.select("id", F.lit(0.0).alias("score")), home),
            supersteps=0,
            converged=True,
        )

    init = 1.0 / (n_vertices ** 0.5)
    state = verts.select("id", F.lit(init).alias("score")).repartition(
        num_partitions, "id"
    )
    box: dict[str, DataFrame | None] = {"prev_raw": None}

    def _release_prev() -> None:
        prev = box["prev_raw"]
        if prev is not None:
            prev.unpersist()
            box["prev_raw"] = None

    def step(vertices: DataFrame, superstep: int):
        _release_prev()
        msgs = e_fwd.join(
            vertices.select(F.col("id").alias("src"), "score").hint("shuffle_hash"),
            "src",
        ).select("dst", F.col("score").alias("msg"))
        raw = (
            vertices.join(
                gather_messages(msgs, [("msg", "sum")], key="dst", salt=salt)
                .withColumnRenamed("dst", "id")
                .hint("shuffle_hash"),
                "id",
                "left",
            )
            .select("id", "score", F.coalesce("msg", F.lit(0.0)).alias("raw"))
            .persist()
        )
        box["prev_raw"] = raw
        norms = raw.agg(
            F.sum(F.col("raw") * F.col("raw")).alias("n2"),
            F.sum(F.col("raw") * F.col("score")).alias("dot"),
        ).collect()[0]
        n = float(norms["n2"]) ** 0.5 or 1.0
        delta = 1.0 - float(norms["dot"]) / n
        return (
            raw.select("id", (F.col("raw") / F.lit(n)).alias("score")),
            {"norm": n, "delta": delta},
        )

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["delta"] < tolerance  # noqa: E731

    run = run_supersteps(
        spark,
        state,
        step,
        max_supersteps=max_supersteps,
        halt=halt,
        verbose=verbose,
    )
    _release_prev()
    e_fwd.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "score"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 10,
    tolerance: float | None = None,
    salt: int | None = None,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """SALSA (Lempel & Moran 2001) — the stochastic variant of HITS:
    each propagation divides by the sending side's degree, so the
    iteration is a random walk on the bipartite hub/authority view and
    converges to in/out-degree-proportional scores per component
    instead of being dominated by the densest community (the classic
    TKC-effect fix; the third canonical link-analysis score next to
    PageRank and HITS — beyond-reference, SURVEY §2.8).

        auth'(v) = Σ_{u→v} hub(u) / outdeg(u)
        hub'(u)  = Σ_{u→v} auth'(v) / indeg(v)

    then L1-normalize each vector (the scores are distributions).
    Result ``vertices``: (id, auth, hub). Same scale shape as ``hits``:
    degree-weighted edges exchanged once per orientation, two algebraic
    saltable gathers + ONE action per superstep.
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = dedup_edges(edges.select("src", "dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    # fold the degree normalizations INTO the cached edge tables: the
    # per-superstep scatter then multiplies by a precomputed weight
    e_fwd = (
        e.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("od")).alias("w"))
        .repartition(num_partitions, "src")
        .persist()
    )
    e_rev = (
        e.join(indeg, "dst")
        .select("src", "dst", (F.lit(1.0) / F.col("idg")).alias("w"))
        .repartition(num_partitions, "dst")
        .persist()
    )

    verts = vertices_from_edges(e)
    n_vertices = verts.count()
    if n_vertices == 0:
        empty = verts.select("id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub"))
        return PregelRun(vertices=rebind(empty, home), supersteps=0, converged=True)

    init = 1.0 / n_vertices  # L1-normalized start
    state = verts.select(
        "id", F.lit(init).alias("auth"), F.lit(init).alias("hub")
    ).repartition(num_partitions, "id")

    box: dict[str, DataFrame | None] = {"prev_raw": None}

    def _release_prev() -> None:
        prev = box["prev_raw"]
        if prev is not None:
            prev.unpersist()
            box["prev_raw"] = None

    def step(vertices: DataFrame, superstep: int):
        _release_prev()
        a_msgs = e_fwd.join(
            vertices.select(F.col("id").alias("src"), "hub").hint("shuffle_hash"),
            "src",
        ).select("dst", (F.col("hub") * F.col("w")).alias("msg"))
        a_raw = (
            gather_messages(a_msgs, [("msg", "sum")], key="dst", salt=salt)
            .withColumnRenamed("dst", "id")
            .withColumnRenamed("msg", "a_raw")
        )
        full = vertices.join(a_raw.hint("shuffle_hash"), "id", "left").select(
            "id", "auth", "hub", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw")
        )
        h_msgs = e_rev.join(
            full.select(F.col("id").alias("dst"), "a_raw").hint("shuffle_hash"),
            "dst",
        ).select("src", (F.col("a_raw") * F.col("w")).alias("msg"))
        h_raw = (
            gather_messages(h_msgs, [("msg", "sum")], key="src", salt=salt)
            .withColumnRenamed("src", "id")
            .withColumnRenamed("msg", "h_raw")
        )
        raw = (
            full.join(h_raw.hint("shuffle_hash"), "id", "left")
            .select(
                "id", "auth", "hub", "a_raw",
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
            )
            .persist()
        )
        box["prev_raw"] = raw
        # ONE action: both L1 masses + L1 movement vs the previous vectors
        sums = raw.agg(
            F.sum("a_raw").alias("sa"),
            F.sum("h_raw").alias("sh"),
            F.sum(F.abs(F.col("a_raw") - F.col("auth"))).alias("da"),
            F.sum(F.abs(F.col("h_raw") - F.col("hub"))).alias("dh"),
        ).collect()[0]
        sa = float(sums["sa"]) or 1.0
        sh = float(sums["sh"]) or 1.0
        delta = float(sums["da"]) + float(sums["dh"])
        new_state = raw.select(
            "id",
            (F.col("a_raw") / F.lit(sa)).alias("auth"),
            (F.col("h_raw") / F.lit(sh)).alias("hub"),
        )
        return new_state, {"delta": delta}

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["delta"] < tolerance  # noqa: E731

    run = run_supersteps(
        spark, state, step,
        max_supersteps=max_supersteps, halt=halt, verbose=verbose,
    )
    _release_prev()
    e_fwd.unpersist()
    e_rev.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "auth", "hub"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    max_supersteps: int = 10,
    tolerance: float | None = None,
    salt: int | None = None,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Katz centrality: x'(v) = beta + alpha * SUM_{u->v} x(u) over
    in-edges, iterated from x0 = beta (Katz 1953) — counts all in-walks
    attenuated by alpha^length; the third classic spectral link score
    next to PageRank/eigenvector (beyond-reference, SURVEY §2.8).
    Converges for alpha < 1/lambda_max; no normalization, so a fixed
    iteration count replays exactly in SQL. Result ``vertices``:
    (id, katz). CALIBRATE alpha to the graph: on a denser graph the
    same alpha can be supercritical (lambda_max grows with density),
    and the un-normalized scores then grow geometrically — still
    well-defined for fixed iterations, but at magnitudes ~1e7 a
    6-7-decimal rounding sits beyond double ulp, so independent
    engines' sum orders stop agreeing bit-for-bit (observed at sf0.1
    with the sf0.01-tuned alpha=0.05: max |delta| 1e-7 on ~8e6).

    Scale shape identical to ``eigenvector_centrality``: the edge table
    is exchanged once per run, each superstep is one algebraic
    (map-side-combined, saltable) gather + a broadcast-sized state join,
    and the optional tolerance halt reuses the SAME driver action that
    materializes the state (L1 movement), so no extra job.
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = dedup_edges(edges.select("src", "dst"))
    e_fwd = e.repartition(num_partitions, "src").persist()

    verts = vertices_from_edges(e)
    state = verts.select("id", F.lit(float(beta)).alias("katz")).repartition(
        num_partitions, "id"
    )
    box: dict[str, DataFrame | None] = {"prev": None}

    def _release_prev() -> None:
        prev = box["prev"]
        if prev is not None:
            prev.unpersist()
            box["prev"] = None

    def step(vertices: DataFrame, superstep: int):
        _release_prev()
        msgs = e_fwd.join(
            vertices.select(F.col("id").alias("src"), "katz").hint("shuffle_hash"),
            "src",
        ).select("dst", F.col("katz").alias("msg"))
        new = (
            vertices.join(
                gather_messages(msgs, [("msg", "sum")], key="dst", salt=salt)
                .withColumnRenamed("dst", "id")
                .hint("shuffle_hash"),
                "id",
                "left",
            )
            .select(
                "id",
                "katz",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce("msg", F.lit(0.0))
                ).alias("new_katz"),
            )
            .persist()
        )
        box["prev"] = new
        delta = float(
            new.agg(
                F.sum(F.abs(F.col("new_katz") - F.col("katz"))).alias("d")
            ).collect()[0]["d"]
            or 0.0
        )
        return (
            new.select("id", F.col("new_katz").alias("katz")),
            {"delta": delta},
        )

    halt = None
    if tolerance is not None:
        halt = lambda stats, i: stats["delta"] < tolerance  # noqa: E731

    run = run_supersteps(
        spark, state, step,
        max_supersteps=max_supersteps, halt=halt, verbose=verbose,
    )
    _release_prev()
    e_fwd.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "katz"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )
