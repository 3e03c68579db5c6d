"""k-core decomposition — iterative peeling to fixpoint.

Not in the reference (beyond-reference graph metric, SURVEY §2.8): the
k-core is the maximal subgraph in which every vertex has degree >= k in
the symmetric graph — the standard hub/periphery split for web graphs
(periphery pages peel away round by round; the core is where link
authority concentrates).

Shape: ``k_core`` and ``coreness`` run the engine's degree peel
(:func:`giraph_spark.pregel._peel`, shared with the densest-subgraph
peel). The state keeps each vertex's degree in the alive set; a
superstep is one SQL text that peels the matching alive vertices and
lets only those send, so each survivor's degree drops by its number of
newly peeled neighbours — one gather over the peeled vertices' edges,
no degree recount. One set-up job, then one job per superstep: the
aggregate that fills the superstep's cut gives the alive count and the
min alive degree, which decide the next superstep or the halt.
Supersteps needed = peeling depth (typically a handful).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import reverse_edges, symmetrize
from giraph_spark.pregel import LineageCuts, _peel, bare_checkpoint, engine_call

_log = logging.getLogger("giraph_spark")

# trussness: a removed-edge frontier up to this many rows is broadcast
# into the wedge probe; a larger one joins by shuffle
_BROADCAST_FRONTIER_MAX = 1_000_000


def _core_peel(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool,
    num_partitions: int | None,
    max_rounds: int,
    name: str,
    col: str,
    dtype: str,
    when: str,
    label: str,
    advance: Callable[[Any, dict[str, Any]], dict[str, Any] | None],
) -> DataFrame:
    """The final state of a degree peel (:func:`giraph_spark.pregel._peel`)
    over the symmetrized ``edges``, or by out-degree over the table as
    given; when the peel runs out of supersteps, its cut is freed and it
    raises."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the peel counts in-edges: out-degrees are the reversed table's
    e = symmetrize(edges) if symmetrize_input else reverse_edges(edges.select("src", "dst"))
    e = e.repartition(num_partitions, "src").persist()
    run = _peel(spark, e, "kc", col, dtype, when, label, advance, max_rounds)
    if not run.converged:
        with LineageCuts(spark.sparkContext) as cuts:
            cuts.adopt(run.vertices, "peel")
        raise RuntimeError(
            f"{name}: the peel did not converge in {max_rounds} supersteps — raise max_rounds"
        )
    return run.vertices


@engine_call
def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    max_rounds: int = 200,
) -> DataFrame:
    """(id, in_core: long 0/1) over the input graph's vertices.

    ``in_core=1`` iff the vertex survives peeling: repeatedly drop
    vertices whose degree in the current subgraph is < k (out-degree
    when ``symmetrize_input=False`` and the table is not symmetric).
    Each superstep peels every alive vertex of degree < k at once;
    ``max_rounds`` bounds the supersteps, and running out raises.
    """
    k = int(k)
    return _core_peel(
        spark, edges, symmetrize_input, num_partitions, max_rounds, "k_core",
        "peeled", "BOOLEAN", f"deg < {k}", "true",
        lambda row, sc: None if row["n"] == 0 or row["dmin"] >= k else {},
    ).select("id", F.col("peeled").isNull().cast("long").alias("in_core"))


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """The k-truss: maximal subgraph whose every edge closes >= k-2
    triangles *within the subgraph* — (u, v, support) rows with u < v,
    support = that edge's final-round triangle count.

    Not in the reference (beyond-reference cohesion metric, SURVEY §2.8):
    trusses are the standard community-core refinement of k-cores for
    link graphs (every k-truss is inside the (k-1)-core but not vice
    versa).

    Shape: each round enumerates the shrinking subgraph's triangles with
    the same degeneracy-ordered wedge join as ``triangles_per_vertex``
    (hub fan-out bounded by orientation), distributes each triangle to
    its three undirected edges with one map-side-combined count, drops
    light edges, and re-checks the edge count — one triangle pass + one
    action per round, edge set monotonically shrinking. The dominant
    cost is the first round's full triangle join, identical to a plain
    triangle count at 100 TB.
    """
    from giraph_spark.algorithms.triangles import _oriented, _triangle_list_from

    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with LineageCuts(spark.sparkContext) as cuts:
        if symmetrize_input:
            from giraph_spark.graph import clean_symmetric

            sym0 = clean_symmetric(edges)
        else:
            sym0 = edges.select("src", "dst")
        sym = cuts.cut(sym0.repartition(num_partitions, "src"), "sym")
        n_edges = sym.count()  # symmetric rows = 2x undirected edges
        min_support = k - 2

        sup = None
        converged = n_edges == 0
        for _ in range(max_rounds):
            if n_edges == 0:
                converged = True
                break
            o = _oriented(sym, symmetrize_input=False)
            tris = _triangle_list_from(o)
            tri_edges = (
                tris.select(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                )
                .union(
                    tris.select(
                        F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")
                    )
                )
                .union(
                    tris.select(
                        F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v")
                    )
                )
            )
            sup = cuts.cut(
                sym.where(F.col("src") < F.col("dst"))
                .select(F.col("src").alias("u"), F.col("dst").alias("v"))
                .join(
                    tri_edges.groupBy("u", "v").agg(
                        F.count(F.lit(1)).alias("support")
                    ),
                    ["u", "v"],
                    "left",
                )
                .select(
                    "u", "v", F.coalesce("support", F.lit(0)).alias("support")
                ),
                "support",
            )
            kept = sup.where(F.col("support") >= min_support)
            sym = cuts.cut(
                kept.select(F.col("u").alias("src"), F.col("v").alias("dst"))
                .union(kept.select(F.col("v").alias("src"), F.col("u").alias("dst")))
                .repartition(num_partitions, "src"),
                "sym",
            )
            n_kept = sym.count()
            if n_kept == n_edges:
                converged = True
                break
            n_edges = n_kept

        if not converged:
            raise RuntimeError(
                "k_truss: round budget exhausted before the edge set reached "
                "a fixpoint; raise max_rounds"
            )
        if sup is None or n_edges == 0:
            schema = "u long, v long, support long"
            return spark.createDataFrame([], schema)
        out = cuts.cut(
            sup.where(F.col("support") >= min_support), "result"
        )
        cuts.forget("result")  # backs the returned DataFrame
        return out


@engine_call
def coreness(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    max_rounds: int = 500,
) -> DataFrame:
    """Full k-core decomposition: (id, coreness) where coreness(v) is the
    largest k such that v survives k-core peeling (0 for a vertex of
    degree 0 — only a vertex without out-edges when
    ``symmetrize_input=False``, since vertices come from edges).

    Shape: ascending-k peeling on one degree-peel run. A superstep at
    level k peels every alive vertex of degree < k and labels it k - 1;
    the level stays while some alive vertex has degree < k, else jumps
    to the min alive degree + 1, so no superstep confirms a finished
    cascade and no level below the min degree costs one. ``max_rounds``
    bounds the supersteps, and running out raises.
    """

    def level(row, sc: dict[str, Any]) -> dict[str, Any] | None:
        k, dmin = sc.get("k", 0), row["dmin"]
        return None if row["n"] == 0 else {"k": k if dmin < k else dmin + 1}

    return _core_peel(
        spark, edges, symmetrize_input, num_partitions, max_rounds, "coreness",
        "coreness", "BIGINT", "deg < {k}", "{k} - 1", level,
    ).select("id", "coreness")


@engine_call
def trussness(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    max_rounds: int = 4000,
    verbose: bool = False,
    orient_frontier: bool | None = None,
) -> DataFrame:
    """Full truss decomposition: (u, v, trussness) per undirected edge,
    where trussness(e) is the largest k such that e survives k-truss
    peeling (triangle-free edges get the conventional 2, since the
    2-truss requires zero triangles).

    Incremental support maintenance (the delta economy of
    ``triangle_delta``, reference support-counting anchor:
    ``UndirectedTriangleCountingBlockFactory.java:126-145``): per-edge
    triangle support is computed ONCE up front with the degeneracy-
    oriented wedge join, then each peel round only enumerates the
    triangles that pass through the just-removed edge frontier and
    decrements the other edges of those triangles. Total wedge work over
    the WHOLE decomposition is therefore one full triangle enumeration
    (every edge is removed exactly once), versus one full enumeration
    *per round* in the naive shape — the difference between a bounded
    job and a non-starter on a dense 100 TB graph, and the fix for the
    sf0.1 driver OOM the recount-per-round version hit.

    Round shape: ``removed`` (support < k-2) is a small cascade
    frontier, so the wedge probe broadcasts it against the live edge
    set (narrow, no shuffle of the big side; falls back to a shuffle
    join above ``_BROADCAST_FRONTIER_MAX`` rows), dedupes the affected
    triangles on their sorted vertex triple, and applies the decrements
    with one (u, v)-keyed join. Triangle-free edges (support 0 — the
    bulk of a web graph at k=3) skip the probe entirely. The ONLY
    per-round materialization is the support table itself: adjacency is
    derived from it as a transformation (two cached scans beat a second
    O(E) checkpoint per round), each round's removed frontier is kept
    as its own already-cut frame and the result is assembled by one
    union at the END, and empty k-levels are skipped entirely by
    jumping to ``min(support) + 3`` after each completed cascade (no
    edge can be removed below that level).

    Per-round state carrier: :func:`giraph_spark.pregel.bare_checkpoint`
    — an eager localCheckpoint whose leaf is re-wrapped WITHOUT the
    origin-stats chain ``Dataset.checkpoint`` normally bakes in. With
    plain chained checkpoints the per-round PLANNING time compounds
    ~2x/round (the origin plan of each leaf references the previous
    leaf ~4 times, and Catalyst's stats consumers — InjectRuntimeFilter
    foremost — walk that tree: measured 1 s -> 100 s within 8 rounds at
    identical plan text, and a round-3 run OOMed in
    SizeInBytesOnlyStatsPlanVisitor from the same chain). The bare leaf
    keeps planning flat (~70 ms) at any peel depth.

    ``orient_frontier`` pivots each removed edge's wedge probe onto its
    lower-initial-degree endpoint via a STATIC (u, v, pivot) side table
    computed once up front — bounding per-edge wedge candidates by
    min(deg_u, deg_v) instead of deg_u. Results are identical either
    way (the closing-edge check is endpoint-symmetric). Measured
    (``BENCH/runs/truss_orientation_probe_r5.json``): **5.9x faster on
    the hub-skewed mega-hub graph** (352 s -> 60 s, 1.57M edges, top
    degree ~18k vs avg 31), **4% slower on the dense unskewed sf0.1
    demo graph** (150 s -> 158 s, avg degree 283, no hubs) where the
    static table's extra per-round scan has no skew to repay it. The
    default ``None`` therefore decides ADAPTIVELY from one degree
    aggregate at setup: orient when max_degree > 20x mean_degree (the
    two measured graphs sit at ratios ~1100 and ~2). Pass True/False to
    force either probe.
    """
    # the peel runs in the call's own session, AQE off (engine_call).
    # AQE is the root cause of the release-vs-read race observed in the
    # r4 sf0.1 sweep (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND): when a round's
    # frontier materializes EMPTY, AQE's empty-relation propagation
    # replans the decrement join away, the awaited action returns without
    # ever needing the already-submitted support-scan shuffle stage, and
    # that orphaned stage — whose tasks are not interrupted by default —
    # then reads the support blocks the loop has already released. With
    # AQE off every submitted stage belongs to the awaited job. The peel's
    # ``LineageCuts`` also waits, before each free, until no job carrying
    # its tag is active — an orphaned query-stage job carries it too — and
    # the empty-frontier probe skip and the one-round deferral of each
    # support cut's free below are further layers.
    from giraph_spark.algorithms.triangles import _oriented, _triangle_list_from

    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    level = logging.INFO if verbose else logging.DEBUG
    with LineageCuts(spark.sparkContext) as cuts:
        if symmetrize_input:
            from giraph_spark.graph import clean_symmetric

            sym0 = clean_symmetric(edges)
        else:
            sym0 = edges.select("src", "dst")
        sym = cuts.cut(sym0.repartition(num_partitions, "src"), "sym")

        # initial per-edge support: ONE degeneracy-oriented triangle pass
        o = _oriented(sym, symmetrize_input=False)
        tris = _triangle_list_from(o)
        tri_edges = (
            tris.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .union(
                tris.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v"))
            )
            .union(
                tris.select(F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v"))
            )
        )
        # round r's support cut lives in slot sup{r % 2}: adopting it frees
        # the cut of round r - 2, so the cut a round reads is freed only
        # once the NEXT round's state is materialized — even a straggling
        # task attempt (task kill is cooperative — a cancelled attempt can
        # outlive its job) finds its input intact for a full round
        sup = cuts.adopt(
            bare_checkpoint(
                sym.where(F.col("src") < F.col("dst"))
                .select(F.col("src").alias("u"), F.col("dst").alias("v"))
                .join(tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support")),
                      ["u", "v"], "left")
                .select("u", "v", F.coalesce("support", F.lit(0)).alias("support"))
                .repartition(num_partitions, "u", "v")
            ),
            "sup0",
        )
        n = sup.count()
        orient = None
        if orient_frontier is None and n > 0:
            # adaptive default: one degree aggregate decides whether the
            # graph is hub-skewed enough for the oriented probe to pay for
            # its static side table (see the trussness docstring for the two
            # measured anchor points: ratio ~1100 -> 5.9x win, ratio ~2 ->
            # 4% loss; threshold 20x sits well between them)
            drow = (
                sym.groupBy("src")
                .agg(F.count(F.lit(1)).alias("_d"))
                .agg(F.max("_d").alias("mx"), F.avg("_d").alias("av"))
                .collect()[0]
            )
            orient_frontier = float(drow["mx"]) > 20.0 * float(drow["av"] or 1.0)
            _log.log(
                level,
                "trussness degree skew max=%s avg=%.1f -> orient_frontier=%s",
                drow["mx"], float(drow["av"] or 0.0), orient_frontier,
            )
        if orient_frontier:
            # STATIC per-edge pivot by initial symmetric degree, computed ONCE
            # (u, v, pu, pv) with pu = the lower-degree endpoint: probing the
            # pivot's adjacency bounds each removed edge's wedge candidates by
            # min(deg_u, deg_v) instead of deg_u — the win on hub-skewed
            # graphs where the id-ordered u is a hub half the time. Kept OUT
            # of the per-round support state on purpose: the r4 attempt that
            # threaded degree columns through every lineage cut paid for them
            # in cut IO every round (SURVEY §7.3 rejection); a static side
            # table costs one extra scan per round instead.
            deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
            orient = cuts.adopt(
                bare_checkpoint(
                    sup.select("u", "v")
                    .join(deg.select(F.col("src").alias("u"), F.col("_d").alias("_du")), "u")
                    .join(deg.select(F.col("src").alias("v"), F.col("_d").alias("_dv")), "v")
                    .select(
                        "u",
                        "v",
                        F.when(F.col("_dv") < F.col("_du"), F.col("v"))
                        .otherwise(F.col("u"))
                        .alias("pu"),
                        F.when(F.col("_dv") < F.col("_du"), F.col("u"))
                        .otherwise(F.col("v"))
                        .alias("pv"),
                    )
                    .repartition(num_partitions, "u", "v")
                ),
                "orient",
            )
            orient.count()
        cuts.release("sym")  # only the initial orientation needed it
        # per-round removed frontiers, already cut (slot removed{round})
        parts: list[DataFrame] = []
        k = 2
        rounds = 0

        while n > 0:
            # every edge now has support >= the completed cascade's bound, so
            # levels below min(support) + 3 remove nothing — jump over them
            min_sup = int(sup.agg(F.min("support")).collect()[0][0])
            k = max(k + 1, min_sup + 3)
            while True:  # cascade at this k
                rounds += 1
                if rounds > max_rounds:
                    raise RuntimeError(
                        "trussness: round budget exhausted; raise max_rounds"
                    )
                _t0 = time.time()
                # lazy cut + ONE agg that both materializes the frontier's
                # checkpoint blocks and counts total + support>0 rows (the
                # superstep loop's lazy-cut idiom — saves an eager-cut job)
                removed = sup.where(F.col("support") < k - 2).select(
                    "u", "v", "support"
                ).localCheckpoint(eager=False)
                row = removed.agg(
                    F.count(F.lit(1)).alias("n_rm"),
                    F.sum(
                        F.when(F.col("support") > 0, 1).otherwise(0)
                    ).alias("n_fr"),
                ).collect()[0]
                n_rm = int(row["n_rm"])
                n_fr = int(row["n_fr"] or 0)
                cuts.adopt(removed, f"removed{rounds}")
                _t1 = time.time()
                if n_rm == 0:
                    cuts.release(f"removed{rounds}")
                    break
                parts.append(
                    removed.select(
                        "u", "v", F.lit(k - 1).cast("long").alias("trussness")
                    )
                )
                rm_pairs = removed.select("u", "v")
                rm_anti = F.broadcast(rm_pairs) if n_rm <= _BROADCAST_FRONTIER_MAX else rm_pairs
                if n_fr == 0:
                    # every removed edge has support 0 — no triangle passes
                    # through the frontier, so no decrements: the update is a
                    # bare anti-join. Skipping the probe here (rather than
                    # letting the optimizer discover the emptiness at runtime)
                    # is also what removes the trigger for the r4 release race
                    # (see the AQE rationale in trussness): no probe stages
                    # are ever submitted, so none can be orphaned.
                    update = sup.join(rm_anti, ["u", "v"], "left_anti").select(
                        "u", "v", "support"
                    )
                else:
                    # triangles through removed edges in the CURRENT graph:
                    # support-0 edges close nothing — skip them in the probe;
                    # adjacency is the live support table scanned both ways
                    frontier = removed.where(F.col("support") > 0).select("u", "v")
                    if orient is not None:
                        # swap each frontier edge to (pivot, other) so the
                        # wedge join below fans out from the lower-degree
                        # endpoint; the closing-edge check is symmetric
                        # (least/greatest), so correctness is unchanged
                        fk = (
                            F.broadcast(frontier)
                            if n_fr <= _BROADCAST_FRONTIER_MAX
                            else frontier
                        )
                        frontier = orient.join(fk, ["u", "v"]).select(
                            F.col("pu").alias("u"), F.col("pv").alias("v")
                        )
                    fr = F.broadcast(frontier) if n_fr <= _BROADCAST_FRONTIER_MAX else frontier
                    adj = sup.select(F.col("u"), F.col("v").alias("w")).union(
                        sup.select(F.col("v").alias("u"), F.col("u").alias("w"))
                    )
                    cand = (
                        fr.join(adj, "u")
                        .where(F.col("w") != F.col("v"))
                        .join(
                            sup.select(F.col("u").alias("_cu"), F.col("v").alias("_cv")),
                            (F.least("v", "w") == F.col("_cu"))
                            & (F.greatest("v", "w") == F.col("_cv")),
                            "left_semi",
                        )
                    )
                    arr = F.array_sort(F.array("u", "v", "w"))
                    tri = cand.select(
                        arr[0].alias("x"), arr[1].alias("y"), arr[2].alias("z")
                    ).distinct()
                    dec = (
                        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
                        .union(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
                        .union(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
                        .groupBy("u", "v")
                        .agg(F.count(F.lit(1)).alias("dcnt"))
                    )
                    update = (
                        sup.join(rm_anti, ["u", "v"], "left_anti")
                        .join(dec, ["u", "v"], "left")
                        .select(
                            "u",
                            "v",
                            (F.col("support") - F.coalesce("dcnt", F.lit(0))).alias(
                                "support"
                            ),
                        )
                    )
                sup = cuts.adopt(
                    bare_checkpoint(update.repartition(num_partitions, "u", "v")),
                    f"sup{rounds % 2}",
                )
                _t2 = time.time()
                n -= n_rm
                _log.log(
                    level,
                    "trussness round=%s k=%s removed=%s left=%s t_frontier=%.2f t_update=%.2f",
                    rounds, k, n_rm, n, _t1 - _t0, _t2 - _t1,
                )
                if n == 0:
                    break

        if not parts:
            return spark.createDataFrame([], "u long, v long, trussness long")
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.union(p)
        return acc.coalesce(num_partitions).localCheckpoint(eager=True)
