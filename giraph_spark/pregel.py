"""The BSP superstep engine — Pregel on DataFrames.

Maps the reference's execution model onto Spark:

- superstep            = one driver-loop iteration issuing ONE SQL text
                         ``scatter join -> gather (gather_cte) -> update join``
                         whose lazy lineage cut the aggregator action fills:
                         one Spark job (``run_sql_supersteps``;
                         ComputeCallable.call(), graph/ComputeCallable.java:149-265)
- message transport    = the shuffle of the gather ``groupBy``
                         (replaces Netty, comm/SendMessageCache.java:51,240)
- message combiner     = map-side partial aggregation in ``groupBy().agg()``
                         (combiner/MessageCombiner.java:32-57)
- superstep barrier    = Spark stage boundary
                         (worker/BspServiceWorker.finishSuperstep():746-837)
- aggregators/master   = that one driver-side action per superstep; its
                         row becomes the scalars of the next step's text
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

import functools
import inspect
import logging
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.profiler import AccumulatorProfilerCollector

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


# --- one boundary per engine call -----------------------------------------


def _rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df`` as a frame of ``session``, with no job: its queries are then
    planned under ``session``'s conf. The ANALYZED plan crosses over, so
    views it read in the other session's catalog stay resolved."""
    if df.sparkSession is session:
        return df
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(  # noqa: SLF001
        session._jsparkSession, df._jdf.queryExecution().analyzed()  # noqa: SLF001
    )
    return DataFrame(jdf, session)


def _engine_session(home: SparkSession) -> SparkSession:
    """A private session for one engine call: a clone of ``home`` with AQE
    off in the clone only.

    ``cloneSession`` keeps the caller's runtime confs (``newSession``
    would drop them) and shares the SparkContext, the cache manager and
    the codegen cache, so a cached input is still hit and the caller's
    job groups tag the call's jobs. The caller's conf is never written,
    and the call's temp views live in the clone's catalog, so concurrent
    calls on one session cannot see each other's. The Python wrapper is
    built without the ``SparkSession`` constructor: that constructor
    rebinds the class attribute ``RDD.toDF`` to the new session, so no
    class attribute is read or written here.

    Why AQE is off: superstep plans are fixed-shape (explicit
    shuffle_hash hints, explicit partition counts, salting for skew), so
    adaptive re-planning adds only its latency — AQE materializes query
    stages one at a time with a driver re-plan between them, measured
    ~60ms/superstep at sf0.1 (interleaved 5-rep A/B medians: 490 -> 433
    ms/superstep) — and in set-up an adaptive plan runs the aggregate
    that fills a lazy cut, or a cache first read, as query-stage jobs of
    their own."""
    spark = SparkSession.__new__(SparkSession)
    spark._sc = home._sc  # noqa: SLF001
    spark._jsc = home._jsc  # noqa: SLF001
    spark._jvm = home._jvm  # noqa: SLF001
    spark._jsparkSession = home._jsparkSession.cloneSession()  # noqa: SLF001
    spark._profiler_collector = AccumulatorProfilerCollector()  # noqa: SLF001
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark._engine_private = True  # type: ignore[attr-defined]
    return spark


def engine_call(fn: Callable[..., Any]) -> Callable[..., Any]:
    """The one boundary of an engine call (Giraph's GraphTaskManager:
    every computation enters and leaves the job through it).

    The home session is the first DataFrame argument's. The call runs in
    a private session (:func:`_engine_session`) passed as its ``spark``
    argument, with every DataFrame argument rebound into it; on return
    the result, or every DataFrame attribute of it (``PregelRun.vertices``,
    a mutable run's ``edges``), is rebound back into the home session. A
    call made inside an engine session (pagerank -> run_supersteps,
    run_mutable_supersteps -> run_supersteps) runs straight through in
    that session."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def call(*args: Any, **kwargs: Any) -> Any:
        bound = sig.bind(*args, **kwargs)
        frames = {k: v for k, v in bound.arguments.items() if isinstance(v, DataFrame)}
        home = next(iter(frames.values())).sparkSession
        if getattr(home, "_engine_private", False):
            return fn(*args, **kwargs)
        spark = _engine_session(home)
        bound.arguments.update({k: _rebind(v, spark) for k, v in frames.items()}, spark=spark)
        result = fn(*bound.args, **bound.kwargs)
        if isinstance(result, DataFrame):
            return _rebind(result, home)
        for k, v in vars(result).items():
            if isinstance(v, DataFrame):
                setattr(result, k, _rebind(v, home))
        return result

    return call


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


def _checkpointed_jrdd(df: DataFrame, unary: bool = False):
    """Best-effort handle to the java RDD backing a localCheckpoint'ed
    DataFrame (LogicalRDD.rdd, or a ``bare_checkpoint`` frame's cut), for
    explicit release — there is no public unpersist for checkpoint
    blocks. ``unary=True`` also finds the cut under a chain of one-child
    nodes (a projection of a loop's result). Returns None if the
    internals don't match (then the block lives until session end)."""
    # vars(): a missing DataFrame attribute would be looked up as a column
    handle = vars(df).get("_bare_checkpoint_handle")
    if handle is not None:
        return handle
    try:
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        while unary and plan.children().size() == 1:
            plan = plan.children().head()
        return plan.rdd()
    except Exception:  # noqa: BLE001
        return None


def bare_checkpoint(df: DataFrame) -> DataFrame:
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

    The cut's blocks are freed by the ``LineageCuts`` that adopts the
    returned frame (``cuts.adopt(bare_checkpoint(df), slot)``).
    """
    spark = df.sparkSession
    c = df.localCheckpoint(eager=True)
    jdf = spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
        c._jdf.queryExecution().toRdd(), c._jdf.schema(), False  # noqa: SLF001
    )
    bare = DataFrame(jdf, spark)
    # the bare leaf's RDD is derived from the cut's, which holds the
    # blocks: keep the cut's handle for the owner that frees it
    bare._bare_checkpoint_handle = _checkpointed_jrdd(c)  # type: ignore[attr-defined]
    return bare


class LineageCuts:
    """The one owner of a loop's localCheckpoint blocks, and the only code
    that frees them (``DataFrame.unpersist`` cannot: checkpoint RDD blocks
    are only reachable through the java handle).

    A scope: ``with LineageCuts(sc) as cuts:`` adds one job tag to the
    calling thread, so every job the loop issues carries it. ``cut(df,
    slot)`` eagerly checkpoints ``df``; ``adopt(df, slot)`` takes over an
    already-materialized cut (``df``, or the cut a projection ``df``
    reads, such as a loop's result). Either frees the slot's previous
    cut once the new one is materialized. ``release(slot)`` frees a
    slot, ``forget(slot)`` hands its blocks to the caller (a result). On
    exit, also when the loop raises, the tag is removed and every slot
    not forgotten is freed. An owner that is not entered (a stream's
    cross-batch state) tags no job, so its frees do not wait.

    A free waits until no ACTIVE job carries the owner's tag, then
    unpersists. The owner has awaited its own actions, so the only
    tagged job that can still run is an orphaned query-stage job of an
    AQE re-plan (the r4 trussness race: a stage of a pruned subtree keeps
    reading the blocks after the action returned). Jobs of other threads
    never delay a free — the reference gets the same guarantee from its
    barrier: ``BspServiceWorker.finishSuperstep()`` frees checkpoint state
    once the workers that read it are done.

    Hand-back contract: a frame derived from a cut is readable until the
    owner frees that cut. A reader on another thread hands the frame back
    (says it is done) before the owner frees it; nothing guards a free
    against a reader the owner was not told about. Engine calls never
    share a cut: each call's cuts are private to its session.
    """

    def __init__(self, sc: SparkContext) -> None:
        self._sc = sc
        self.tag = f"giraph-cuts-{uuid.uuid4().hex}"
        self._tracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
        self._arrays = sc._jvm.java.util.Arrays  # noqa: SLF001
        self._handles: dict[str, Any] = {}

    def __enter__(self) -> LineageCuts:
        self._sc.addJobTag(self.tag)
        return self

    def __exit__(self, *exc: object) -> None:
        self._sc.removeJobTag(self.tag)
        for slot in list(self._handles):
            self.release(slot)

    def adopt(self, df: DataFrame, slot: str) -> DataFrame:
        prev = self._handles.get(slot)
        self._handles[slot] = _checkpointed_jrdd(df, unary=True)
        self._free(prev)
        return df

    def cut(self, df: DataFrame, slot: str) -> DataFrame:
        return self.adopt(df.localCheckpoint(eager=True), slot)

    def forget(self, slot: str) -> None:
        self._handles.pop(slot, None)

    def release(self, slot: str) -> None:
        self._free(self._handles.pop(slot, None))

    def _ids(self, jarr) -> set[int]:
        # one py4j call for the whole array, not one per element
        text = self._arrays.toString(jarr)[1:-1]
        return {int(i) for i in text.split(",") if i.strip()}

    def _tagged_job_active(self) -> bool:
        active = self._ids(self._tracker.getActiveJobIds())
        return bool(active) and bool(active & self._ids(self._tracker.getJobIdsForTag(self.tag)))

    def _free(self, handle: Any) -> None:
        if handle is None:
            return
        try:
            while self._tagged_job_active():
                time.sleep(0.01)
            handle.unpersist(False)
        except Exception:  # noqa: BLE001 — a stopped context dropped the blocks
            pass


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


@engine_call
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
    bounded, and a snapshot is taken when due. Every engine algorithm
    issues its supersteps through :func:`run_sql_supersteps`, whose cuts
    are always adopted; the eager cut serves only steps composed by
    users (``blocks.run_block``, ``mutation.run_mutable_supersteps`` and
    direct callers).

    The input follows the same rule: a ``vertices`` frame that is a cut
    already materialized (e.g. a lazy cut the caller's set-up aggregate
    filled) is adopted as superstep 0's cut, so the loop owns its blocks
    and frees them like any other cut — after superstep 0, or when a
    ``resume`` snapshot replaces it; the caller must not read it after
    the call. Any other input is persisted and filled by superstep 0's
    own job. The width bound's base is the input's partition count read
    from its physical plan (no job), or the first cut's when the plan
    does not know it (a file scan).

    Lineage-cut invalidation: the loop's cuts have one owner, a
    ``LineageCuts`` scope around the loop. Each superstep frees the
    PREVIOUS cut once the new one is materialized, and the loop's exit
    (also on an exception) frees every cut but the result's. So a
    ``step``/``halt`` closure must not retain and later re-execute a
    DataFrame derived from an earlier superstep — it would fail with
    "checkpoint block not found". Derive everything you need within the
    superstep (or from ``PregelRun.vertices`` after the loop).

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

    Concurrency: the call enters through :func:`engine_call`, so it runs
    in a clone of ``vertices``' session with AQE off in the clone only,
    or in the engine session ``vertices`` already belongs to. The
    caller's conf and the class attribute ``RDD.toDF`` are never
    written, so queries run concurrently on the same session from other
    threads keep AQE and ``rdd.toDF()`` keeps its session; the result's
    ``vertices`` is rebound into the session the input came from.
    ``step`` and the hooks receive frames of the private session: a frame
    derived from one keeps it, and a temp view made from one resolves
    through ``df.sparkSession.sql``, not through the caller's session.
    The loop's jobs carry its owner's job tag, and a free waits only for
    those: jobs that other threads run at the same time never delay it,
    and never read this loop's cuts.

    ``verbose=True`` logs each superstep's stats at INFO on the
    ``giraph_spark`` logger (DEBUG otherwise).
    """
    ckpt = (
        CheckpointManager(spark, checkpoint_dir, checkpoint_interval)
        if checkpoint_dir
        else None
    )
    level = logging.INFO if verbose else logging.DEBUG
    superstep = 0
    history: list[dict[str, Any]] = []
    converged = False
    # slot str(i) holds the cut superstep i reads
    with LineageCuts(spark.sparkContext) as cuts:
        # a materialized input cut is adopted: the loop owns its blocks
        jrdd = _checkpointed_jrdd(vertices)
        adopted = jrdd is not None and jrdd.isCheckpointed()
        if adopted:
            cuts.adopt(vertices, "0")
        if resume and ckpt is not None:
            found = ckpt.latest()
            if found is not None:
                superstep, vertices, _m = found
                # the snapshot replaces the input: nothing reads its cut
                cuts.release("0")
                adopted = False
                _log.log(level, "resuming from checkpoint superstep=%d", superstep)
        last_saved = superstep if (resume and ckpt is not None) else None
        current = vertices if adopted else vertices.persist()
        # 0 (a file scan's plan) falls back to the first cut's width
        start_partitions = partition_width(current)
        if hooks is not None and hooks.pre_application is not None:
            hooks.pre_application(current)
        while superstep < max_supersteps:
            t0 = time.time()
            if hooks is not None and hooks.pre_superstep is not None:
                hooks.pre_superstep(current, superstep)
            new_vertices, stats = step(current, superstep)
            # adopt or cut: a returned input is never adopted (it is the
            # live cut, freed below)
            slot = str(superstep + 1)
            jrdd = None if new_vertices is current else _checkpointed_jrdd(new_vertices)
            if jrdd is not None and jrdd.isCheckpointed():
                cuts.adopt(new_vertices, slot)
            else:
                if jrdd is not None:
                    # a lazy cut the step never scanned: the cut below
                    # fills it, and then nothing reads it
                    cuts.adopt(new_vertices, "unscanned")
                cut = cuts.cut(new_vertices, slot)
                new_vertices.unpersist()
                cuts.release("unscanned")
                new_vertices = cut
            if not stats:
                stats = {"rows": new_vertices.count()}
            stats = dict(stats)
            stats["superstep"] = superstep
            stats["seconds"] = time.time() - t0
            if hooks is not None and hooks.post_superstep is not None:
                hooks.post_superstep(new_vertices, superstep, stats)
            history.append(stats)
            _log.log(level, "superstep=%d %s", superstep, stats)

            # the previous cut's blocks: localCheckpoint blocks are not
            # freed by DataFrame.unpersist, so a long run would
            # otherwise hold every superstep's state
            cuts.release(str(superstep))
            superstep += 1
            current.unpersist()
            current = new_vertices
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
        cuts.forget(str(superstep))  # the result's cut
    return PregelRun(
        vertices=current, supersteps=superstep, converged=converged, history=history
    )


def gather_cte(
    edges: str,
    state: str,
    value: str,
    fn: str = "sum",
    where: str | None = None,
    salt: int | None = None,
    by: tuple[str, ...] = (),
    reverse: bool = False,
    suffix: str = "",
) -> str:
    """The SQL-text gather: a CTE ``g{suffix}(*by, dst, msg)`` combining
    ``value`` (over edge ``e`` and state row ``v``) per target with the
    associative ``fn`` — :func:`gather_messages` as SQL text. The state
    joins the edges' ``src`` (``dst`` with ``reverse``: scatter along
    the reversed edges); ``by`` are extra state keys the gather keeps.
    SHUFFLE_HASH(v): stream the static cached edge table, hash-build the
    state — sort-merge would re-sort the edges every superstep. With
    ``salt=S`` the reduction is gather_messages' retry-safe content-hashed
    two-level one, via the CTEs ``m{suffix}`` and ``s1{suffix}``."""
    if fn not in _ASSOCIATIVE:
        raise ValueError(f"gather fn must be associative, got {fn!r}")
    to, frm = ("src", "dst") if reverse else ("dst", "src")
    out = ", ".join([*(f"v.{k} AS {k}" for k in by), f"e.{to} AS dst"])
    keys = ", ".join([*by, "dst"])
    scan = f"FROM {edges} e JOIN {state} v ON e.{frm} = v.id" + (
        f"\n        WHERE {where}" if where else ""
    )
    g, m, s1 = f"g{suffix}", f"m{suffix}", f"s1{suffix}"
    if salt and salt > 1:
        return f"""{m} AS (
        SELECT /*+ SHUFFLE_HASH(v) */ {out}, {value} AS msg
        {scan}
      ),
      {s1} AS (
        SELECT {keys}, {fn}(msg) AS msg
        FROM {m} GROUP BY {keys}, pmod(xxhash64({keys}, msg), {int(salt)})
      ),
      {g} AS (SELECT {keys}, {fn}(msg) AS msg FROM {s1} GROUP BY {keys})"""
    return f"""{g} AS (
        SELECT /*+ SHUFFLE_HASH(v) */ {out}, {fn}({value}) AS msg
        {scan}
        GROUP BY {", ".join([*(f"v.{k}" for k in by), f"e.{to}"])}
      )"""


def run_sql_supersteps(
    spark: SparkSession,
    state: DataFrame,
    views: tuple[str, str],
    edges: dict[str, DataFrame],
    step_sql: str,
    agg_sql: str,
    update: Callable[[Any, dict[str, Any]], tuple[dict[str, Any], dict[str, Any]]],
    scalars: dict[str, Any] | Callable[[DataFrame], dict[str, Any]] | None = None,
    **loop: Any,
) -> PregelRun:
    """:func:`run_supersteps` with every superstep issued as ONE SQL text —
    one Spark job per superstep.

    ``edges`` maps view names to the run's static cached edge frames:
    they are registered once and unpersisted when the loop ends. Each
    superstep binds the state to the view ``views[0]``, runs
    ``step_sql.format(**scalars)`` as a lazy ``localCheckpoint`` bound to
    ``views[1]``, and runs ``agg_sql`` (over ``views[1]``) as the ONE
    action: it fills the cut, which the loop adopts, and returns the
    aggregator row. ``update(row, scalars)`` maps it to ``(stats, next
    scalars)`` — the master's one-superstep-lagged aggregators
    (master/MasterCompute.java:41-47). ``scalars`` may be a function of
    the first state the loop reads (a resumed snapshot the set-up never
    saw). The remaining keyword arguments go to :func:`run_supersteps`.

    Why SQL text: each DataFrame-API builder is its own py4j round trip,
    measured ~117 ms of the ~430 ms sf0.1 superstep floor; one string
    ships the whole plan in one call and parses JVM-side (442 -> 335
    ms/superstep), and a lazy cut filled by the aggregate saves the
    separate eager-cut job (~120 ms).
    """
    sv, nv = views
    scalars = {} if scalars is None else scalars
    for name, df in edges.items():
        df.createOrReplaceTempView(name)

    def step(vertices: DataFrame, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        nonlocal scalars
        if callable(scalars):
            scalars = scalars(vertices)
        vertices.createOrReplaceTempView(sv)
        new_state = spark.sql(step_sql.format(**scalars)).localCheckpoint(eager=False)
        new_state.createOrReplaceTempView(nv)
        stats, scalars = update(spark.sql(agg_sql).collect()[0], scalars)
        return new_state, stats

    try:
        return run_supersteps(spark, state, step, **loop)
    finally:
        for df in edges.values():
            df.unpersist()


def _until_unchanged(
    spark: SparkSession,
    state: DataFrame,
    prefix: str,
    edges: DataFrame,
    step_sql: str,
    **loop: Any,
) -> PregelRun:
    """:func:`run_sql_supersteps` for a step whose new state flags the
    rows it ``changed``: the views are ``{prefix}_edges`` (``edges``),
    ``{prefix}_state`` and ``{prefix}_new``, the aggregate counts the
    changed rows, and the run halts once none changed (the master check
    of ConnectedComponentsComputation.java:157-162)."""
    return run_sql_supersteps(
        spark, state, (f"{prefix}_state", f"{prefix}_new"), {f"{prefix}_edges": edges},
        step_sql, f"SELECT sum(CASE WHEN changed THEN 1 ELSE 0 END) AS c FROM {prefix}_new",
        lambda row, _: ({"changed": int(row["c"] or 0)}, {}),
        halt=lambda stats, i: stats["changed"] == 0,
        **loop,
    )


def _relax(
    spark: SparkSession,
    state: DataFrame,
    prefix: str,
    edges: DataFrame,
    col: str,
    value: str,
    fn: str,
    where: str = "v.changed",
    salt: int | None = None,
    **loop: Any,
) -> PregelRun:
    """Send-on-change relaxation, the one vertex program of SSSP, WCC and
    max-label (SimpleShortestPathsComputation.java:39-86,
    ConnectedComponentsComputation.java:49-104, MaxComputation.java:30-47):
    the state rows matching ``where`` (by default the ones that changed
    last superstep) send ``value`` along their out-edges, each vertex
    takes the ``fn`` (min or max) of its messages and its own ``col``,
    and is ``changed`` when a message improved it. The state is (id,
    ``col``, changed); views and halt are :func:`_until_unchanged`'s."""
    pick, better = {"min": ("least", "<"), "max": ("greatest", ">")}[fn]
    sv = f"{prefix}_state"
    step_sql = "WITH " + gather_cte(
        f"{prefix}_edges", sv, value, fn=fn, where=where, salt=salt
    ) + f"""
      SELECT /*+ SHUFFLE_HASH(g) */ v.id,
             {pick}(v.{col}, coalesce(g.msg, v.{col})) AS {col},
             (coalesce(g.msg, v.{col}) {better} v.{col}) AS changed
      FROM {sv} v LEFT JOIN g ON v.id = g.dst"""
    return _until_unchanged(spark, state, prefix, edges, step_sql, **loop)
