"""HITS (hubs & authorities) and its spectral relatives: eigenvector,
SALSA and Katz centrality.

Beyond-reference link-graph operators (the reference ships PageRank
variants only; HITS is the other classic web-link score and slots into
the same superstep machinery — SURVEY.md §2.8). HITS follows the
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
- a superstep is ONE SQL text (``run_sql_supersteps``): both gathers
  are ``gather_cte`` sums (map-side combined, salted with ``salt``) in
  CTEs of one statement, and its aggregate fills the lineage cut — one
  Spark job;
- normalization is lagged: the state holds the UNNORMALIZED vectors,
  the norms superstep i's aggregate returns are the literals superstep
  i+1 divides by, and the result divides by the last norms. The same
  aggregate returns the dot products (or L1 movement) against the
  previous unit vectors, so the convergence metric costs no extra job;
- set-up is ONE job: every raw value starts at 1.0 in a lazy cut whose
  vertex count aggregate gives the initial norm.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giraph_spark.graph import dedup_edges, vertices_from_edges
from giraph_spark.pregel import (
    PregelRun,
    engine_call,
    gather_cte,
    run_sql_supersteps,
)


def _edge_tables(
    edges: DataFrame, num_partitions: int, reverse: bool, weighted: bool
) -> tuple[DataFrame, DataFrame | None]:
    """The run's static edge tables: deduplicated, hash-partitioned by
    ``src`` (and, with ``reverse``, a copy by ``dst``) and cached, so the
    superstep's scatter joins reshuffle only the vertex state.
    ``weighted`` folds SALSA's degree normalization into a ``w`` column,
    a count window over the partition key: no degree join."""
    e = dedup_edges(edges.select("src", "dst"))

    def table(key: str) -> DataFrame:
        t = e.repartition(num_partitions, key)
        if weighted:
            t = t.withColumn("w", F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy(key)))
        return t.persist()

    return table("src"), table("dst") if reverse else None


def _setup(
    e_fwd: DataFrame, num_partitions: int, cols: list[str]
) -> tuple[DataFrame, int]:
    """(initial state, vertex count): every raw value 1.0 in a lazy cut
    that ONE aggregate fills, together with the edge cache it reads."""
    state = (
        vertices_from_edges(e_fwd)
        .select("id", *[F.lit(1.0).alias(c) for c in cols])
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=False)
    )
    return state, int(state.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"])


def _hub_auth_sql(name: str, salt: int | None, auth_msg: str, hub_msg: str, extra: str) -> str:
    """The two-gather HITS/SALSA step: auth' gathers ``auth_msg`` over the
    forward edges, hub' gathers ``hub_msg`` over the reversed edges from
    the new auth (CTE ``a``); ``extra`` adds the convergence columns."""
    sv = f"{name}_state"
    return "WITH " + gather_cte(f"{name}_edges", sv, auth_msg, salt=salt) + f""",
      a AS (
        SELECT /*+ SHUFFLE_HASH(g) */ v.id, v.auth, v.hub, coalesce(g.msg, 0.0) AS a_raw
        FROM {sv} v LEFT JOIN g ON v.id = g.dst
      ),
      """ + gather_cte(
        f"{name}_edges_rev", "a", hub_msg, salt=salt, reverse=True, suffix="_h"
    ) + f"""
      SELECT /*+ SHUFFLE_HASH(g_h) */ a.id, a.a_raw AS auth,
             coalesce(g_h.msg, 0.0) AS hub, {extra}
      FROM a LEFT JOIN g_h ON a.id = g_h.dst"""


def _normalized(run: PregelRun, init: dict[str, float], cols: dict[str, str]) -> PregelRun:
    """The result: each raw column divided by the last superstep's norm
    (``cols`` maps column -> stats key; ``init`` before any superstep)."""
    last = run.last_stats or init
    return replace(
        run,
        vertices=run.vertices.select(
            "id", *[(F.col(c) / F.lit(last[k])).alias(c) for c, k in cols.items()]
        ),
    )


def _delta_halt(tolerance: float | None):
    if tolerance is None:
        return None
    return lambda stats, i: stats["delta"] < tolerance


@engine_call
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
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e_fwd, e_rev = _edge_tables(edges, num_partitions, reverse=True, weighted=False)
    state, n = _setup(e_fwd, num_partitions, ["auth", "hub"])
    if n == 0:
        e_fwd.unpersist()
        e_rev.unpersist()
        return PregelRun(vertices=state, supersteps=0, converged=True)
    init = {"na": n ** 0.5, "nh": n ** 0.5}

    # both squared norms + dot products with the previous unit vectors
    # (cos = dot/norm because ‖old‖ = 1)
    step_sql = _hub_auth_sql(
        "hits", salt, "v.hub / {nh}", "v.a_raw",
        "a.a_raw * (a.auth / {na}) AS _dot_a, coalesce(g_h.msg, 0.0) * (a.hub / {nh}) AS _dot_h",
    )
    agg_sql = """SELECT sum(auth * auth) AS na2, sum(hub * hub) AS nh2,
      sum(_dot_a) AS dot_a, sum(_dot_h) AS dot_h FROM hits_new"""

    def update(row, _scalars):
        na = float(row["na2"]) ** 0.5 or 1.0
        nh = float(row["nh2"]) ** 0.5 or 1.0
        delta = (1.0 - float(row["dot_a"]) / na) + (1.0 - float(row["dot_h"]) / nh)
        return {"na": na, "nh": nh, "delta": delta}, {"na": na, "nh": nh}

    run = run_sql_supersteps(
        spark, state, ("hits_state", "hits_new"),
        {"hits_edges": e_fwd, "hits_edges_rev": e_rev}, step_sql, agg_sql, update, init,
        max_supersteps=max_supersteps, halt=_delta_halt(tolerance), verbose=verbose,
    )
    return _normalized(run, init, {"auth": "na", "hub": "nh"})


@engine_call
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
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e_fwd, _ = _edge_tables(edges, num_partitions, reverse=False, weighted=False)
    state, n = _setup(e_fwd, num_partitions, ["score"])
    if n == 0:
        e_fwd.unpersist()
        return PregelRun(vertices=state, supersteps=0, converged=True)
    init = {"norm": n ** 0.5}

    step_sql = "WITH " + gather_cte("eig_edges", "eig_state", "v.score / {norm}", salt=salt) + """
      SELECT /*+ SHUFFLE_HASH(g) */ v.id, coalesce(g.msg, 0.0) AS score,
             coalesce(g.msg, 0.0) * (v.score / {norm}) AS _dot
      FROM eig_state v LEFT JOIN g ON v.id = g.dst"""
    agg_sql = "SELECT sum(score * score) AS n2, sum(_dot) AS dot FROM eig_new"

    def update(row, _scalars):
        norm = float(row["n2"]) ** 0.5 or 1.0
        return {"norm": norm, "delta": 1.0 - float(row["dot"]) / norm}, {"norm": norm}

    run = run_sql_supersteps(
        spark, state, ("eig_state", "eig_new"), {"eig_edges": e_fwd}, step_sql, agg_sql,
        update, init, max_supersteps=max_supersteps, halt=_delta_halt(tolerance),
        verbose=verbose,
    )
    return _normalized(run, init, {"score": "norm"})


@engine_call
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
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the degree normalizations are folded INTO the cached edge tables:
    # the per-superstep scatter multiplies by a precomputed weight
    e_fwd, e_rev = _edge_tables(edges, num_partitions, reverse=True, weighted=True)
    state, n = _setup(e_fwd, num_partitions, ["auth", "hub"])
    if n == 0:
        e_fwd.unpersist()
        e_rev.unpersist()
        return PregelRun(vertices=state, supersteps=0, converged=True)
    init = {"na": float(n), "nh": float(n)}

    # both L1 masses + L1 movement vs the previous vectors
    step_sql = _hub_auth_sql(
        "salsa", salt, "v.hub / {nh} * e.w", "v.a_raw * e.w",
        "abs(a.a_raw - a.auth / {na}) AS _da, abs(coalesce(g_h.msg, 0.0) - a.hub / {nh}) AS _dh",
    )
    agg_sql = """SELECT sum(auth) AS sa, sum(hub) AS sh, sum(_da) AS da, sum(_dh) AS dh
      FROM salsa_new"""

    def update(row, _scalars):
        na, nh = float(row["sa"]) or 1.0, float(row["sh"]) or 1.0
        delta = float(row["da"]) + float(row["dh"])
        return {"na": na, "nh": nh, "delta": delta}, {"na": na, "nh": nh}

    run = run_sql_supersteps(
        spark, state, ("salsa_state", "salsa_new"),
        {"salsa_edges": e_fwd, "salsa_edges_rev": e_rev}, step_sql, agg_sql, update, init,
        max_supersteps=max_supersteps, halt=_delta_halt(tolerance), verbose=verbose,
    )
    return _normalized(run, init, {"auth": "na", "hub": "nh"})


@engine_call
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
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e_fwd, _ = _edge_tables(edges, num_partitions, reverse=False, weighted=False)
    # an un-cut input: the loop persists it, superstep 0's job fills it
    state = vertices_from_edges(e_fwd).select(
        "id", F.lit(float(beta)).alias("katz")
    ).repartition(num_partitions, "id")

    katz = f"{float(beta)!r} + {float(alpha)!r} * coalesce(g.msg, 0.0)"
    step_sql = "WITH " + gather_cte("katz_edges", "katz_state", "v.katz", salt=salt) + f"""
      SELECT /*+ SHUFFLE_HASH(g) */ v.id, {katz} AS katz, abs({katz} - v.katz) AS _delta
      FROM katz_state v LEFT JOIN g ON v.id = g.dst"""

    run = run_sql_supersteps(
        spark, state, ("katz_state", "katz_new"), {"katz_edges": e_fwd}, step_sql,
        "SELECT sum(_delta) AS d FROM katz_new",
        lambda row, _: ({"delta": float(row["d"] or 0.0)}, {}),
        max_supersteps=max_supersteps, halt=_delta_halt(tolerance), verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "katz"))
