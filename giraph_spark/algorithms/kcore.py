"""k-core decomposition — iterative peeling to fixpoint.

Not in the reference (beyond-reference graph metric, SURVEY §2.8): the
k-core is the maximal subgraph in which every vertex has degree >= k in
the symmetric graph — the standard hub/periphery split for web graphs
(periphery pages peel away round by round; the core is where link
authority concentrates).

Shape: each round is ONE degree aggregate over the shrinking edge set
plus two semi-joins (both shuffle-hash against the small keep set); the
edge count that materializes the new cut doubles as the halt probe, so a
round costs exactly one action. Rounds needed = peeling depth (typically
a handful); the edge set only shrinks, so late rounds are cheap.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import symmetrize, vertices_from_edges
from giraph_spark.pregel import LineageCuts, engine_session, rebind

_log = logging.getLogger("giraph_spark")


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
    vertices whose degree in the current symmetric subgraph is < k.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cuts = LineageCuts()
    e0 = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
    e = cuts.cut(e0.repartition(num_partitions, "src"), "edges")
    verts = cuts.cut(vertices_from_edges(e), "verts")
    n_edges = e.count()

    for _ in range(max_rounds):
        if n_edges == 0:
            break
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
            .select("src")
        )
        new_e = (
            e.join(keep.hint("shuffle_hash"), "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst").hint("shuffle_hash"),
                "dst",
                "left_semi",
            )
            .select("src", "dst")
        )
        new_e = cuts.cut(new_e, "edges")  # materializes BEFORE releasing prev
        n_new = new_e.count()
        e = new_e
        if n_new == n_edges:
            break
        n_edges = n_new
    else:
        raise RuntimeError(f"k_core: no fixpoint within {max_rounds} rounds")

    core = e.select(F.col("src").alias("id")).distinct()
    out = verts.join(
        core.withColumn("in_core", F.lit(1)), "id", "left"
    ).select("id", F.coalesce("in_core", F.lit(0)).cast("long").alias("in_core"))
    out = out.localCheckpoint(eager=True)  # outlives the cuts released below
    for slot in ("edges", "verts"):
        cuts.release(slot)
    return out


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
    cuts = LineageCuts()
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
        cuts.release("sym")
        cuts.release("support")
        schema = "u long, v long, support long"
        return spark.createDataFrame([], schema)
    out = cuts.cut(
        sup.where(F.col("support") >= min_support), "result"
    )
    cuts.release("sym")
    cuts.release("support")
    cuts.forget("result")  # backs the returned DataFrame
    return out


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    max_rounds: int = 500,
) -> DataFrame:
    """Full k-core decomposition: (id, coreness) where coreness(v) is the
    largest k such that v survives k-core peeling (0 for vertices that
    start isolated — impossible here since vertices come from edges, so
    the minimum emitted value is 1).

    Shape: ascending-k sequential peeling, each k starting from the
    (k-1)-core's edge set (monotone containment), so total work is the
    peel cascade itself — the standard distributed decomposition. Each
    round costs one degree aggregate + two semi-joins + one count, and
    for all k below the graph's minimum degree the round is a verified
    no-op (one round each).
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cuts = LineageCuts()
    e0 = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
    e = cuts.cut(e0.repartition(num_partitions, "src"), "edges")
    prev_verts = cuts.cut(vertices_from_edges(e), "prev_verts")
    n_edges = e.count()
    result: DataFrame | None = None
    k = 0
    rounds_left = max_rounds

    while n_edges > 0:
        # after a completed fixpoint every surviving vertex has degree
        # >= the current core's minimum degree, so all levels up to that
        # minimum are verified no-ops — jump straight past them (also
        # subsumes the old d_min fast-start on the first iteration); one
        # tiny min-degree aggregate replaces one no-op cascade per
        # skipped level
        d_cur = int(
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.min("d"))
            .collect()[0][0]
        )
        k = max(k + 1, d_cur + 1)
        # peel e down to its k-core fixpoint
        while True:
            rounds_left -= 1
            if rounds_left < 0:
                raise RuntimeError(
                    "coreness: round budget exhausted; raise max_rounds"
                )
            keep = (
                e.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .where(F.col("d") >= k)
                .select("src")
            )
            e2 = cuts.cut(
                e.join(keep, "src", "left_semi").join(
                    keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
                ).select("src", "dst"),
                "edges",
            )
            n2 = e2.count()
            e = e2
            if n2 == n_edges:
                break
            n_edges = n2
        # survivors of the k-core; the symmetric edge set guarantees
        # every member appears as a src
        cur_verts = cuts.cut(e.select(F.col("src").alias("id")).distinct(), "cur_verts")
        dropped = prev_verts.join(cur_verts, "id", "left_anti").select(
            "id", F.lit(k - 1).cast("long").alias("coreness")
        )
        result = cuts.cut(
            dropped
            if result is None
            else result.union(dropped).coalesce(num_partitions),
            "result",
        )
        prev_verts = cuts.cut(cur_verts, "prev_verts")
        cuts.release("cur_verts")

    # the loop ends when the k-core is empty: remaining prev_verts peaked
    # at k-1 (they survived the (k-1)-core but not the k-core)
    tail = prev_verts.select("id", F.lit(max(k - 1, 0)).cast("long").alias("coreness"))
    out = (tail if result is None else result.union(tail)).localCheckpoint(eager=True)
    cuts.release("edges")
    cuts.release("prev_verts")
    cuts.release("result")
    return out


def _hadoop_rm(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API —
    works for local paths AND shared filesystems (HDFS/S3A), unlike
    ``shutil``. Best-effort: failures are swallowed (scratch cleanup)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
        fs.delete(hpath, True)
    except Exception:  # noqa: BLE001
        pass


def trussness(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    max_rounds: int = 4000,
    deep_cut_interval: int = 0,
    deep_cut_dir: str | None = None,
    broadcast_frontier_max: int = 1_000_000,
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
    join above ``broadcast_frontier_max`` rows), dedupes the affected
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

    ``deep_cut_interval``: optional belt-and-braces — every N peel
    rounds the support table is additionally round-tripped through
    parquet under ``deep_cut_dir`` and re-read as a file-backed leaf.
    With the bare-leaf carrier nothing measurable accumulates, so the
    default is 0 (disabled); set it for multi-thousand-round
    decompositions as insurance against driver-side cache growth.
    ``deep_cut_dir`` defaults to the SparkContext checkpoint dir when
    one is set (required on a multi-machine cluster — executors cannot
    read the driver's local disk) and otherwise to a driver-local temp
    dir, which is correct only for local[*] / single-host runs; scratch
    created here is removed on exit (success or failure).

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
    import os
    import tempfile
    import uuid

    # the peel runs in the call's own session, AQE off (engine_session).
    # AQE is the root cause of the release-vs-read race observed in the
    # r4 sf0.1 sweep (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND): when a round's
    # frontier materializes EMPTY, AQE's empty-relation propagation
    # replans the decrement join away, the awaited action returns without
    # ever needing the already-submitted support-scan shuffle stage, and
    # that orphaned stage — whose tasks are not interrupted by default —
    # then reads the support blocks the loop has already released. With
    # AQE off every submitted stage belongs to the awaited job, so
    # program-order release is sound; the empty-frontier probe skip and
    # the one-round release deferral below are additional layers.
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    scratch_parent: str | None = None
    if deep_cut_dir is None:
        deep_cut_dir = spark.sparkContext.getCheckpointDir()
    if deep_cut_dir is None:
        deep_cut_dir = tempfile.mkdtemp(prefix="giraph_truss_deepcut_")
        scratch_parent = deep_cut_dir  # we created it — we remove it
    deep_dir = os.path.join(deep_cut_dir, f"truss_{uuid.uuid4().hex[:12]}")
    try:
        return rebind(
            _trussness_peel(
                spark,
                edges,
                symmetrize_input=symmetrize_input,
                num_partitions=num_partitions,
                max_rounds=max_rounds,
                deep_cut_interval=deep_cut_interval,
                deep_dir=deep_dir,
                broadcast_frontier_max=broadcast_frontier_max,
                verbose=verbose,
                orient_frontier=orient_frontier,
            ),
            home,
        )
    finally:
        _hadoop_rm(spark, scratch_parent if scratch_parent is not None else deep_dir)


def _trussness_peel(
    spark: SparkSession,
    edges: DataFrame,
    *,
    symmetrize_input: bool,
    num_partitions: int,
    max_rounds: int,
    deep_cut_interval: int,
    deep_dir: str,
    broadcast_frontier_max: int,
    verbose: bool,
    orient_frontier: bool | None = None,
) -> DataFrame:
    import os
    import time

    from giraph_spark.algorithms.triangles import _oriented, _triangle_list_from

    level = logging.INFO if verbose else logging.DEBUG
    cuts = LineageCuts()
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
    from giraph_spark.pregel import (
        _checkpointed_jrdd,
        _gated_release,
        bare_checkpoint,
        flush_releases,
    )

    sup, sup_release = bare_checkpoint(
        sym.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support")),
              ["u", "v"], "left")
        .select("u", "v", F.coalesce("support", F.lit(0)).alias("support"))
        .repartition(num_partitions, "u", "v")
    )
    n = sup.count()
    orient = None
    orient_release = None
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
        orient, orient_release = bare_checkpoint(
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
        )
        orient.count()
    cuts.release("sym")  # only the initial orientation needed it
    parts: list[DataFrame] = []  # per-round removed frontiers, already cut
    part_handles: list[object] = []
    # one-round release deferral: sup_{r-1}'s blocks are freed only after
    # round r's state is materialized, so even a straggling task attempt
    # from round r-1 (task kill is cooperative — a cancelled attempt can
    # outlive its job) finds its input intact for a full round
    deferred_release = None
    k = 2
    rounds = 0
    next_deep_cut = deep_cut_interval if deep_cut_interval else None

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
            if next_deep_cut is not None and rounds >= next_deep_cut:
                next_deep_cut += deep_cut_interval
                p_sup = os.path.join(deep_dir, f"sup_{rounds}")
                sup.write.mode("overwrite").parquet(p_sup)
                if deferred_release is not None:
                    deferred_release()
                deferred_release = sup_release
                sup = spark.read.parquet(p_sup)
                sup_release = None  # file-backed; nothing to release
                # earlier intervals' dirs are NOT deleted mid-run: frames
                # from a parquet-backed round may still lazily reference
                # them (observed FAILED_READ_FILE under interval=1); the
                # whole scratch dir is removed once the result is
                # materialized below
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
            rm_handle = _checkpointed_jrdd(removed)
            _t1 = time.time()
            if n_rm == 0:
                _gated_release(spark.sparkContext, rm_handle)
                break
            parts.append(
                removed.select(
                    "u", "v", F.lit(k - 1).cast("long").alias("trussness")
                )
            )
            part_handles.append(rm_handle)
            rm_pairs = removed.select("u", "v")
            rm_anti = F.broadcast(rm_pairs) if n_rm <= broadcast_frontier_max else rm_pairs
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
                        if n_fr <= broadcast_frontier_max
                        else frontier
                    )
                    frontier = orient.join(fk, ["u", "v"]).select(
                        F.col("pu").alias("u"), F.col("pv").alias("v")
                    )
                fr = F.broadcast(frontier) if n_fr <= broadcast_frontier_max else frontier
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
            new_sup, new_release = bare_checkpoint(
                update.repartition(num_partitions, "u", "v")
            )
            _t2 = time.time()
            if deferred_release is not None:
                deferred_release()
            deferred_release = sup_release
            sup, sup_release = new_sup, new_release
            n -= n_rm
            _log.log(
                level,
                "trussness round=%s k=%s removed=%s left=%s t_frontier=%.2f t_update=%.2f",
                rounds, k, n_rm, n, _t1 - _t0, _t2 - _t1,
            )
            if n == 0:
                break

    if not parts:
        out = spark.createDataFrame([], "u long, v long, trussness long")
    else:
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.union(p)
        out = acc.coalesce(num_partitions).localCheckpoint(eager=True)
    for h in part_handles:
        _gated_release(spark.sparkContext, h)
    if deferred_release is not None:
        deferred_release()
    if sup_release is not None:
        sup_release()
    if orient_release is not None:
        orient_release()
    # the decomposition is done: give stragglers a short bounded window
    # to finish so their blocks free now; anything still watched stays
    # pending and drains on a later gated call (never freed under a
    # live reader) — a long wait here would only stall concurrent-query
    # harnesses whose unrelated jobs keep the watch sets live
    flush_releases(timeout=5.0)
    return out
