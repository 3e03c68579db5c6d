"""The BSP superstep engine — Pregel on DataFrames.

Maps the reference's execution model onto Spark:

- superstep            = one driver-loop iteration issuing
                         ``scatter join -> groupBy(dst).agg -> update join``
                         (ComputeCallable.call(), graph/ComputeCallable.java:149-265)
- message transport    = the shuffle of the gather ``groupBy``
                         (replaces Netty, comm/SendMessageCache.java:51,240)
- message combiner     = map-side partial aggregation in ``groupBy().agg()``
                         (combiner/MessageCombiner.java:32-57)
- superstep barrier    = Spark stage boundary
                         (worker/BspServiceWorker.finishSuperstep():746-837)
- aggregators/master   = one driver-side action per superstep + Python
                         closure into the next plan
                         (master/MasterCompute.java:41-147)
- halt condition       = driver ``while``: all-halted-and-no-messages /
                         converged / max supersteps
                         (master/BspServiceMaster.java:1654-1679)
- checkpoint/restart   = CheckpointManager snapshots (BspServiceWorker
                         .storeCheckpoint():1249); the loop keeps computing
                         from the lineage cut it wrote
- hub-skew salting     = two-level gather aggregation (our analog of
                         partition balancing, partition/PartitionBalancer.java,
                         required because a web graph's ``groupBy(dst)``
                         fan-in is power-law)

At 100 TB the same loop holds: ``edges`` is a bucketed-by-src table read
once per superstep with only the (much smaller) vertex state reshuffled;
AQE handles residual join skew; the salted gather bounds per-reducer
fan-in on mega-hubs.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark import RDD
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.checkpoint import CheckpointManager

_log = logging.getLogger("giraph_spark")

# aggregate functions usable at BOTH levels of a salted two-level gather —
# exactly the MessageCombiner contract: commutative + associative
# (combiner/MessageCombiner.java:32-57)
_ASSOCIATIVE = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "bit_xor": lambda c: F.expr(f"bit_xor({c})"),
}


def scatter_to_targets(
    vertices: DataFrame,
    targets_col: str,
    msg_cols: list[str],
    dst_col: str = "dst",
) -> DataFrame:
    """sendMessageToMultipleEdges (``graph/Computation.java:123-135``):
    one message value fanned out to an explicit id list. The vertex row
    carries ``targets_col: array<long>``; the scatter is a single
    ``explode`` — Tungsten materializes the copies at shuffle-write, so
    the per-row cost matches Giraph's one-encode-many-ids message store
    (``comm/messages/MessageEncodeAndStoreType.java:25-38``).

    Returns (``dst_col``, *msg_cols) ready for ``gather_messages``."""
    return vertices.select(
        F.explode(F.col(targets_col)).alias(dst_col),
        *[F.col(c) for c in msg_cols],
    )


def gather_messages(
    messages: DataFrame,
    aggs: list[tuple[str, str]],
    key: str | list[str] = "dst",
    salt: int | None = None,
) -> DataFrame:
    """Combine messages per target vertex: ``groupBy(dst).agg(...)``.

    ``aggs`` is ``[(column, fn)]`` with fn in {sum,min,max,bit_xor} — the
    associative/commutative combiner set. With ``salt=S`` the reduction is
    two-level — ``groupBy(dst, hash(src-side row) % S)`` then
    ``groupBy(dst)`` — bounding any single reducer's fan-in on power-law
    hubs (north-rule skew requirement; Giraph analog: partition balancing
    + sharded aggregators, comm/aggregators/AggregatorUtils.java:29-41).
    Catalyst already performs map-side partial aggregation; explicit
    salting additionally splits the *reduce side* of a hot key.
    """
    for col, fn in aggs:
        if fn not in _ASSOCIATIVE:
            raise ValueError(f"gather fn must be associative, got {fn!r} for {col!r}")
    keys = [key] if isinstance(key, str) else list(key)
    if not salt or salt <= 1:
        return messages.groupBy(*keys).agg(
            *[_ASSOCIATIVE[fn](c).alias(c) for c, fn in aggs]
        )
    # Deterministic per-row salt: hash the full row CONTENT so a retried /
    # speculative map task reproduces identical salt assignments (a
    # nondeterministic expression like monotonically_increasing_id as a
    # shuffle key risks dropped/duplicated messages under partial stage
    # retry — the SPARK-23207 failure class).
    salted = messages.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in messages.columns]), F.lit(salt)),
    )
    level1 = salted.groupBy(*keys, "_salt").agg(
        *[_ASSOCIATIVE[fn](c).alias(c) for c, fn in aggs]
    )
    return level1.groupBy(*keys).agg(*[_ASSOCIATIVE[fn](c).alias(c) for c, fn in aggs])


def gather_topk_messages(
    messages: DataFrame,
    k: int,
    key: str | list[str] = "dst",
    msg_col: str = "msg",
    ascending: bool = False,
    salt: int | None = None,
) -> DataFrame:
    """Per-target top-k of incoming messages — the per-vertex TopNReduce
    gather (reference analog: sharded reducers feeding TopNReduce,
    ``reducers/collect/ShardedReducerHandle.java``).

    Unlike the algebraic gathers in :func:`gather_messages`, a top-k over
    ``collect_list`` is NOT reduced by map-side partial aggregation — the
    hot key's messages all land on one reducer. ``salt=S`` makes the
    merge two-level: per (key, salt) bucket take a local top-k (bounding
    any reducer's input to fan-in/S), then merge the S bounded lists.
    Bounded top-k merge is associative, so the result is exactly the
    unsalted one. Returns (key, topk: array<msg type>).

    Degeneration caveat: the salt is a pure function of row CONTENT
    (required for exactly-once semantics under task retry, SPARK-23207
    class), so byte-identical duplicate messages share one salt bucket.
    A hot key whose fan-in is dominated by ONE repeated value degrades
    to the unsalted plan; distinct-valued hot keys (the normal top-k
    workload) spread uniformly. If duplicate-heavy gathers matter,
    pre-collapse them with an algebraic ``groupBy(key, msg).count()``
    (map-side combinable) before the top-k.
    """
    order_desc = not ascending

    def topk_of(col: Column) -> Column:
        arr = F.array_sort(col)
        if order_desc:
            arr = F.reverse(arr)
        return F.slice(arr, 1, k)

    keys = [key] if isinstance(key, str) else list(key)
    if not salt or salt <= 1:
        return messages.groupBy(*keys).agg(
            topk_of(F.collect_list(msg_col)).alias("topk")
        )
    salted = messages.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in messages.columns]), F.lit(salt)),
    )
    level1 = salted.groupBy(*keys, "_salt").agg(
        topk_of(F.collect_list(msg_col)).alias("_t")
    )
    return level1.groupBy(*keys).agg(
        topk_of(F.flatten(F.collect_list("_t"))).alias("topk")
    )


def scatter_messages(
    edges: DataFrame,
    vertices: DataFrame,
    message,
    edge_filter=None,
) -> DataFrame:
    """The send-side API family (graph/Computation.java): ``sendMessage``
    / ``sendMessageToAllEdges`` / ``sendMessageToMultipleEdges``.

    ``message`` is a Column over the vertex frame; ``edge_filter`` (a
    boolean Column over the edge frame) restricts which out-edges carry
    it — the multiple-edges variant; None sends to all out-edges.
    Vertices whose message is null send nothing (the reference's
    null-supplier contract). Returns (dst, msg) rows for
    ``gather_messages``.
    """
    vm = vertices.select(F.col("id").alias("src"), message.alias("msg")).where(
        F.col("msg").isNotNull()
    )
    e = edges if edge_filter is None else edges.where(edge_filter)
    return e.select("src", "dst").join(vm, "src").select("dst", "msg")


def materialize_count(df: DataFrame, pred_col: str) -> int:
    """ONE action that both materializes a just-``persist()``-ed state and
    returns ``count(pred_col)`` — replaces the ``.where(pred).count()``
    second job per superstep (the frontier-size aggregator); the scan that
    fills the cache is the same scan that counts."""
    row = df.agg(
        F.sum(F.when(F.col(pred_col), 1).otherwise(0)).alias("c")
    ).collect()[0]
    return int(row["c"] or 0)


# --- a private session per engine call -----------------------------------


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df`` as a frame of ``session``, with no job: its queries are then
    planned under ``session``'s conf. The ANALYZED plan crosses over, so
    views it read in the other session's catalog stay resolved."""
    if df.sparkSession is session:
        return df
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(  # noqa: SLF001
        session._jsparkSession, df._jdf.queryExecution().analyzed()  # noqa: SLF001
    )
    return DataFrame(jdf, session)


def engine_session(*frames: DataFrame | None) -> tuple[Any, ...]:
    """``(session, *frames)``: a private session for one engine call, and
    ``frames`` (None passes through) rebound into it.

    The session is a clone of the first frame's session with AQE off in
    the clone only. ``cloneSession`` keeps the caller's runtime confs
    (``newSession`` would drop them) and shares the SparkContext, the
    cache manager and the codegen cache, so a cached input is still hit
    and the caller's job groups tag the call's jobs. The caller's conf is
    never written, and the call's temp views live in the clone's catalog,
    so concurrent calls on one session cannot see each other's. A frame
    already in an engine session (a nested call: pagerank ->
    run_supersteps) keeps that session. Results go back to the caller
    with ``rebind(df, home)``.

    Why AQE is off: superstep plans are fixed-shape (explicit
    shuffle_hash hints, explicit partition counts, salting for skew), so
    adaptive re-planning adds only its latency — AQE materializes query
    stages one at a time with a driver re-plan between them, measured
    ~60ms/superstep at sf0.1 (interleaved 5-rep A/B medians: 490 -> 433
    ms/superstep) — and in set-up an adaptive plan runs the aggregate
    that fills a lazy cut, or a cache first read, as query-stage jobs of
    their own."""
    home = frames[0].sparkSession
    if getattr(home, "_engine_private", False):
        spark = home
    else:
        # the SparkSession constructor rebinds RDD.toDF to the new session
        to_df = RDD.toDF
        spark = SparkSession(home.sparkContext, home._jsparkSession.cloneSession())  # noqa: SLF001
        RDD.toDF = to_df
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark._engine_private = True  # type: ignore[attr-defined]
    return (spark, *(None if f is None else rebind(f, spark) for f in frames))


def partition_width(df: DataFrame) -> int:
    """``df``'s partition count without running a job: a cut's java RDD,
    else the output partitioning of the (non-adaptive) physical plan.
    0 when the plan does not know it (a file or local-table scan).
    ``df.rdd.getNumPartitions()`` would instead convert to a Python RDD,
    which under AQE materializes every query stage."""
    jrdd = _checkpointed_jrdd(df)
    try:
        if jrdd is not None:
            return int(jrdd.getNumPartitions())
        plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        return int(plan.outputPartitioning().numPartitions())
    except Exception:  # noqa: BLE001
        return 0


# --- job-completion-gated checkpoint-block release -----------------------
#
# Releasing a localCheckpoint block that a still-running task reads aborts
# that task unrecoverably (the lineage is truncated by construction). The
# engine's driver loops release in program order AFTER awaiting each
# action, which is safe — except for (a) orphaned stages: an AQE replan
# can let an action return while an already-submitted stage of a pruned
# subtree is still running (the r4 trussness race), and (b) any caller
# that overlaps actions from a second thread. Instead of unpersisting
# immediately, every release below is GATED: the blocks are freed only
# once no job/stage that was live at release-request time is still
# active. In the single-threaded loops the active sets are empty at
# request time and the free happens inline (no behavior change, ~1 py4j
# call); under overlap the free is deferred and drained on subsequent
# release/cut calls. The reference trusts its BSP barrier for the same
# guarantee (worker/BspServiceWorker.finishSuperstep() waits for all
# workers before checkpoint cleanup).

_PENDING_RELEASES: list[tuple[Any, frozenset, object]] = []
_RELEASES_LOCK = __import__("threading").Lock()


def _live_work_ids(sc) -> frozenset:
    """Ids of currently-active jobs AND stages (tagged to keep the two id
    spaces distinct). Stages matter independently: an orphaned stage can
    outlive its job's action returning (AQE empty-relation replan)."""
    try:
        t = sc.statusTracker()
        return frozenset(
            [("j", j) for j in t.getActiveJobsIds()]
            + [("s", s) for s in t.getActiveStageIds()]
        )
    except Exception:  # noqa: BLE001
        return frozenset()


def drain_releases() -> int:
    """Free every pending handle whose watched jobs/stages have all
    finished; return how many remain pending. Runs under the pool lock
    from start to finish, so a release requested from another thread
    (a streaming foreachBatch, a second engine call) waits for the drain
    and the returned count is exact."""
    with _RELEASES_LOCK:
        live: dict[int, frozenset] = {}
        still = []
        for sc, watched, handle in _PENDING_RELEASES:
            if id(sc) not in live:
                live[id(sc)] = _live_work_ids(sc)
            if watched & live[id(sc)]:
                still.append((sc, watched, handle))
            else:
                try:
                    handle.unpersist(False)  # type: ignore[attr-defined]
                except Exception:  # noqa: BLE001
                    pass
        _PENDING_RELEASES[:] = still
        return len(still)


def _gated_release(sc, handle) -> None:
    """Release ``handle``'s checkpoint blocks as soon as nothing that was
    running at request time can still read them."""
    drain_releases()
    if handle is None:
        return
    watched = _live_work_ids(sc)
    if not watched:
        try:
            handle.unpersist(False)  # type: ignore[attr-defined]
        except Exception:  # noqa: BLE001
            pass
    else:
        with _RELEASES_LOCK:
            _PENDING_RELEASES.append((sc, watched, handle))


def flush_releases(timeout: float = 30.0) -> int:
    """Wait (bounded) for every pending release's watched work to finish
    and free those blocks. Entries whose watched jobs/stages are STILL
    live after the timeout stay pending — never free under a possible
    reader (the pool is process-global, so with concurrent queries a
    force-free here could yank another thread's deferred handle
    mid-read); they drain on any later gated call or die with the
    session. Returns how many remain pending."""
    deadline = time.time() + timeout
    while True:
        left = drain_releases()
        if left == 0 or time.time() >= deadline:
            return left
        time.sleep(0.05)


def _checkpointed_jrdd(df: DataFrame):
    """Best-effort handle to the java RDD backing a localCheckpoint'ed
    DataFrame (LogicalRDD.rdd), for explicit release — there is no public
    unpersist for checkpoint blocks. Returns None if the internals don't
    match (then the block lives until session end, the pre-existing
    behavior)."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()  # noqa: SLF001
    except Exception:  # noqa: BLE001
        return None


def bare_checkpoint(df: DataFrame) -> tuple[DataFrame, Callable[[], None]]:
    """Eager localCheckpoint returning a BARE ``LogicalRDD`` wrap of the
    checkpointed data — stripped of the origin-stats/constraints
    references ``Dataset.checkpoint`` bakes into its leaf.

    Why it exists (measured, round 4): a checkpoint leaf keeps lazy
    references to its ORIGIN plan's statistics, and in an iterated loop
    the origin plan references the previous round's leaf several times —
    so Catalyst's stats consumers (InjectRuntimeFilter, join-strategy
    selection, AQE) walk a tree that grows ~branching^depth. In the
    trussness peel this doubled the per-round planning time every round
    (1 s -> 100 s within 8 rounds, identical plan text) and is the same
    accumulation that OOMed a round-3 run inside
    SizeInBytesOnlyStatsPlanVisitor; reliable ``checkpoint()`` carries
    the same chain, and a parquet round-trip breaks it only because a
    file scan has no origin. Rebuilding the leaf with
    ``internalCreateDataFrame`` over the already-checkpointed internal
    RDD severs the chain with zero IO: planning measured flat (70 ms)
    at every depth.

    Trades: the bare leaf loses outputPartitioning/ordering metadata
    (downstream joins may add an exchange the original leaf could have
    elided) and reports default stats. Use it for loops whose state is
    re-shuffled anyway; keep plain ``LineageCuts`` where cut-to-cut
    co-partitioning matters (the pregel superstep state).

    Returns ``(bare_df, release)``; ``release()`` frees the checkpoint
    blocks once nothing downstream reads them.
    """
    spark = df.sparkSession
    c = df.localCheckpoint(eager=True)
    handle = _checkpointed_jrdd(c)
    jdf = spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
        c._jdf.queryExecution().toRdd(), c._jdf.schema(), False  # noqa: SLF001
    )
    bare = DataFrame(jdf, spark)

    sc = spark.sparkContext

    def release() -> None:
        _gated_release(sc, handle)

    # expose the checkpointed java-RDD handle for tests/diagnostics that
    # need the concrete rdd id (e.g. asserting release() freed exactly
    # these blocks without assuming the session-wide store is empty)
    bare._bare_checkpoint_handle = handle  # type: ignore[attr-defined]
    return bare, release


class LineageCuts:
    """Per-slot localCheckpoint bookkeeping with explicit block release.

    The engine-level mechanism behind every iterative driver loop
    (scc/mis/wcc-star): ``cut(df, slot)`` eagerly checkpoints ``df`` and
    frees the slot's previous blocks (``DataFrame.unpersist`` cannot --
    checkpoint RDD blocks are only reachable via the java handle).
    """

    def __init__(self) -> None:
        # slot -> (SparkContext, java-RDD handle): the sc is captured at
        # cut time so release() can gate on live work even when called
        # from a thread where SparkSession.getActiveSession() is None
        # (fresh py4j threads don't inherit the active-session local)
        self._handles: dict[str, tuple[Any, object]] = {}

    def cut(self, df: DataFrame, slot: str) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        sc = df.sparkSession.sparkContext
        prev = self._handles.get(slot)
        if prev is not None:
            _gated_release(*prev)
        self._handles[slot] = (sc, _checkpointed_jrdd(out))
        return out

    def forget(self, slot: str) -> None:
        """Stop tracking (the cut's blocks outlive this run — e.g. the
        result) without releasing them."""
        self._handles.pop(slot, None)

    def release(self, slot: str) -> None:
        """Free a slot's blocks once no live job/stage can read them."""
        prev = self._handles.pop(slot, None)
        if prev is not None:
            _gated_release(*prev)


@dataclass
class WorkerHooks:
    """Application/superstep lifecycle hooks — the reference's
    WorkerContext surface (``worker/WorkerContext.java:78-154``:
    preApplication / preSuperstep / postSuperstep / postApplication).

    Giraph runs these once per *worker JVM*; here the superstep loop is
    driver-orchestrated, so the hooks run once per application / superstep
    on the driver, with the current vertex-state DataFrame and the loop's
    aggregator dict in scope (the idiomatic Spark home for per-worker
    setup like reading config or verifying invariants — per-executor init
    belongs inside a ``mapInPandas`` batch fn, SURVEY §2 row 13). Any
    hook may be None. ``post_superstep`` receives the superstep's stats
    dict and may mutate it (visible to ``halt`` and the history)."""

    pre_application: Callable[[DataFrame], None] | None = None
    pre_superstep: Callable[[DataFrame, int], None] | None = None
    post_superstep: Callable[[DataFrame, int, dict[str, Any]], None] | None = None
    post_application: Callable[[DataFrame], None] | None = None


@dataclass
class PregelRun:
    """Outcome of a superstep loop."""

    vertices: DataFrame
    supersteps: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)

    @property
    def last_stats(self) -> dict[str, Any]:
        return self.history[-1] if self.history else {}


def run_supersteps(
    spark: SparkSession,
    vertices: DataFrame,
    step: Callable[[DataFrame, int], tuple[DataFrame, dict[str, Any]]],
    max_supersteps: int,
    halt: Callable[[dict[str, Any], int], bool] | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    hooks: WorkerHooks | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Drive the BSP loop.

    ``step(vertices, superstep)`` returns ``(new_vertices, stats)`` and must
    have issued exactly the actions it needs (typically ONE ``agg`` that
    both materializes the new state and computes convergence metrics —
    the per-superstep aggregator gather of MasterCompute.java:41-47).
    ``halt(stats, superstep)`` True ends the loop — the master halt
    decision of BspServiceMaster.java:1654-1679. Snapshots + per-partition
    lineage metrics are written every ``checkpoint_interval`` supersteps;
    with ``resume=True`` the loop continues from the newest valid snapshot.

    Lineage cut, one rule: every superstep's state is a localCheckpoint.
    If ``step`` returns a lazy cut (``localCheckpoint(eager=False)``
    issued BEFORE its aggregate) that its own action materialized, the
    loop adopts it — one Spark job per superstep. Any other frame (an
    un-cut derived plan, or a lazy cut the step's action never scanned)
    is cut eagerly here and the frame it cut is unpersisted. Either way
    the previous cut's blocks are then freed, the partition width is
    bounded, and a snapshot is taken when due.

    The input follows the same rule: a ``vertices`` frame that is a cut
    already materialized (e.g. a lazy cut the caller's set-up aggregate
    filled) is adopted as superstep 0's cut, so the loop owns its blocks
    and frees them like any other cut — after superstep 0, or when a
    ``resume`` snapshot replaces it; the caller must not read it after
    the call. Any other input is persisted and filled by superstep 0's
    own job. The width bound's base is the input's partition count read
    from its physical plan (no job), or the first cut's when the plan
    does not know it (a file scan).

    Lineage-cut invalidation: each cut explicitly releases the PREVIOUS
    cut's localCheckpoint blocks, so a ``step``/``halt`` closure must not
    retain and later re-execute a DataFrame derived from an earlier
    superstep — it would fail with "checkpoint block not found". Derive
    everything you need within the superstep (or from ``PregelRun.
    vertices`` after the loop).

    Fault tolerance at cluster scale: ``localCheckpoint`` blocks are
    executor-local and NOT fault-tolerant — one lost executor aborts the
    run, which then restarts from the newest ``checkpoint_dir`` snapshot
    via ``resume=True`` (Giraph's checkpoint-restart contract,
    BspServiceMaster superstep recovery). A snapshot is one write job and
    the loop keeps computing from the cut it wrote, so this holds in the
    superstep after a snapshot too: no task retry heals a loss there.
    On a 1000-executor cluster size ``checkpoint_interval`` by
    (executor MTBF / superstep time): the cost of a reliable snapshot
    every k supersteps buys losing at most k supersteps of work, while
    the per-superstep local cut only bounds plan growth. local[*] runs
    can ignore this (one JVM = no partial loss).

    Concurrency: the call runs in its own session (``engine_session``):
    a clone of ``vertices``' session with AQE off in the clone only, or
    the engine session ``vertices`` already belongs to. The caller's conf
    is never written, so queries run concurrently on the same session
    from other threads keep AQE; the result's ``vertices`` is rebound
    into the session the input came from. ``step`` and the hooks receive
    frames of the private session: a frame derived from one keeps it, and
    a temp view made from one resolves through ``df.sparkSession.sql``,
    not through the caller's session.

    ``verbose=True`` logs each superstep's stats at INFO on the
    ``giraph_spark`` logger (DEBUG otherwise).
    """
    home = vertices.sparkSession
    spark, vertices = engine_session(vertices)
    ckpt = (
        CheckpointManager(spark, checkpoint_dir, checkpoint_interval)
        if checkpoint_dir
        else None
    )
    sc = spark.sparkContext
    level = logging.INFO if verbose else logging.DEBUG
    superstep = 0
    history: list[dict[str, Any]] = []
    converged = False
    # a materialized input cut is adopted: the loop owns its blocks
    jrdd = _checkpointed_jrdd(vertices)
    cut_jrdd = jrdd if jrdd is not None and jrdd.isCheckpointed() else None
    if resume and ckpt is not None:
        found = ckpt.latest()
        if found is not None:
            superstep, vertices, _m = found
            # the snapshot replaces the input: nothing reads its cut
            _gated_release(sc, cut_jrdd)
            cut_jrdd = None
            _log.log(level, "resuming from checkpoint superstep=%d", superstep)
    last_saved = superstep if (resume and ckpt is not None) else None
    current = vertices if cut_jrdd is not None else vertices.persist()
    # 0 (a file scan's plan) falls back to the first cut's width
    start_partitions = partition_width(current)
    try:
        if hooks is not None and hooks.pre_application is not None:
            hooks.pre_application(current)
        while superstep < max_supersteps:
            t0 = time.time()
            if hooks is not None and hooks.pre_superstep is not None:
                hooks.pre_superstep(current, superstep)
            new_vertices, stats = step(current, superstep)
            # adopt or cut: a returned input is never adopted (its
            # handle is the live cut, freed below)
            jrdd = None if new_vertices is current else _checkpointed_jrdd(new_vertices)
            if jrdd is None or not jrdd.isCheckpointed():
                cut = new_vertices.localCheckpoint(eager=True)
                new_vertices.unpersist()
                # a lazy cut the step never scanned was filled by this
                # job; the new cut no longer reads it
                _gated_release(sc, jrdd)
                new_vertices, jrdd = cut, _checkpointed_jrdd(cut)
            if not stats:
                stats = {"rows": new_vertices.count()}
            stats = dict(stats)
            stats["superstep"] = superstep
            stats["seconds"] = time.time() - t0
            if hooks is not None and hooks.post_superstep is not None:
                hooks.post_superstep(new_vertices, superstep, stats)
            history.append(stats)
            _log.log(level, "superstep=%d %s", superstep, stats)

            superstep += 1
            current.unpersist()
            current = new_vertices
            # the previous cut's blocks: localCheckpoint blocks are not
            # freed by DataFrame.unpersist, so a long run would
            # otherwise hold every superstep's state
            _gated_release(sc, cut_jrdd)
            cut_jrdd = jrdd
            # defensive width bound: a step that unions frames (narrow
            # union sums partition counts) would otherwise compound the
            # width superstep over superstep until the cut materializes
            # tens of thousands of tiny blocks. The coalesce is narrow
            # and lands on the INPUT of the next step, so its cut
            # materializes at the bounded width (8x headroom)
            width = partition_width(current)
            start_partitions = start_partitions or width
            if width > 8 * start_partitions:
                current = current.coalesce(start_partitions)

            if ckpt is not None and ckpt.should_save(superstep):
                ckpt.save(current, superstep, stats)
                last_saved = superstep

            if halt is not None and halt(stats, superstep):
                converged = True
                break

        # final snapshot, unless this superstep is saved already (by
        # the loop, or on resume the directory the state is read from)
        if ckpt is not None and history and last_saved != superstep:
            ckpt.save(current, superstep, history[-1])
        if hooks is not None and hooks.post_application is not None:
            hooks.post_application(current)
    finally:
        # opportunistic, non-forcing: free any release whose watched
        # work has finished (the loop's own releases are usually
        # freed inline; this catches ones deferred past a straggler)
        drain_releases()
    return PregelRun(
        vertices=rebind(current, home), supersteps=superstep, converged=converged,
        history=history,
    )
