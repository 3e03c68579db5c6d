"""Engine-semantics tests (FIXTURES.md §3): checkpoint-resume equivalence,
partitioning invariance, checkpoint validity, gather contract."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from giraph_spark.algorithms import connected_components, pagerank
from giraph_spark.checkpoint import CheckpointManager
from giraph_spark.pregel import gather_messages


def _random_digraph(seed: int, n: int, m: int):
    rng = np.random.RandomState(seed)
    return sorted(
        {
            (int(s), int(t))
            for s, t in zip(rng.randint(0, n, m), rng.randint(0, n, m))
            if s != t
        }
    )


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_checkpoint_resume_equivalence(spark, tmp_path):
    """TestCheckpointing.java:99-147 semantics: run to completion; rerun
    'killed' at superstep k and resumed; final state identical."""
    edges = _edges_df(spark, _random_digraph(41, 150, 260))
    full = connected_components(spark, edges, max_supersteps=50)
    want = {r["id"]: r["component"] for r in full.vertices.collect()}

    ck = str(tmp_path / "ck")
    # 'crash' after 3 supersteps (checkpoints at 2 and on exit at 3)
    partial = connected_components(
        spark, edges, max_supersteps=3, checkpoint_dir=ck, checkpoint_interval=2
    )
    assert not partial.converged
    resumed = connected_components(
        spark,
        edges,
        max_supersteps=50,
        checkpoint_dir=ck,
        checkpoint_interval=2,
        resume=True,
    )
    got = {r["id"]: r["component"] for r in resumed.vertices.collect()}
    assert got == want
    # resume actually skipped the completed supersteps
    assert resumed.supersteps <= full.supersteps + 3
    assert len(resumed.history) < len(full.history)


def test_resume_after_lost_cut(spark, tmp_path, monkeypatch):
    """Checkpoint-restart contract: the snapshot at superstep 2 is a copy
    of the cut the loop keeps computing from. Losing that cut's blocks
    right after the save (a lost executor) may abort the run; resume=True
    from the snapshot then gives the uninterrupted answer."""
    from py4j.protocol import Py4JJavaError

    from giraph_spark.pregel import _checkpointed_jrdd

    real_save = CheckpointManager.save

    def save_then_lose_cut(self, vertices, superstep, stats):
        out = real_save(self, vertices, superstep, stats)
        if superstep == 2:
            _checkpointed_jrdd(vertices).unpersist(True)
        return out

    # a path plus chords: WCC needs more than 2 supersteps to converge
    pairs = [(i, i + 1) for i in range(24)] + _random_digraph(3, 24, 12)
    edges = _edges_df(spark, sorted(set(pairs)))
    algos = {
        "pagerank": (lambda **kw: pagerank(spark, edges, max_supersteps=6, **kw), "rank"),
        "wcc": (lambda **kw: connected_components(spark, edges, **kw), "component"),
    }
    for name, (call, col) in algos.items():
        want = {r["id"]: r[col] for r in call().vertices.collect()}
        ck = str(tmp_path / f"lost-{name}")
        with monkeypatch.context() as m:
            m.setattr(CheckpointManager, "save", save_then_lose_cut)
            try:
                call(checkpoint_dir=ck, checkpoint_interval=2)
                finished = True
            except Py4JJavaError as e:  # the lost cut aborts the run
                assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(e)
                finished = False
        saved = CheckpointManager(spark, ck).latest()[0]
        assert finished or saved == 2, (name, saved)
        resumed = call(checkpoint_dir=ck, checkpoint_interval=2, resume=True)
        got = {r["id"]: r[col] for r in resumed.vertices.collect()}
        assert got.keys() == want.keys()
        if name == "pagerank":
            assert all(abs(got[k] - want[k]) <= 1e-12 for k in want)
        else:
            assert got == want
        assert [h["superstep"] for h in resumed.history] == list(
            range(saved, resumed.supersteps)
        )


def test_checkpoint_metrics_record_per_partition_lineage(spark, tmp_path):
    """Each snapshot's metrics.json has one entry per written part file:
    distinct partition ids below the state's width, rows summing to the
    vertex count."""
    import glob
    import json

    ck = str(tmp_path / "ck2")
    edges = _edges_df(spark, _random_digraph(5, 60, 120))
    run = pagerank(spark, edges, max_supersteps=4, checkpoint_dir=ck, checkpoint_interval=2)
    width = run.vertices.rdd.getNumPartitions()
    n = run.vertices.count()
    snaps = sorted(os.listdir(ck))
    assert snaps == ["superstep=00002", "superstep=00004"]
    for snap in snaps:
        with open(os.path.join(ck, snap, "metrics.json")) as f:
            m = json.load(f)
        parts = m["partitions"]
        pids = [p["partition"] for p in parts]
        assert len(set(pids)) == len(pids) and all(0 <= p < width for p in pids)
        assert len(parts) == len(glob.glob(os.path.join(ck, snap, "data.parquet", "part-*")))
        assert m["rows"] == sum(p["rows"] for p in parts) == n
        assert "l1" in m["stats"]


def test_checkpoint_latest_skips_invalid(spark, tmp_path):
    ck = str(tmp_path / "ck3")
    edges = _edges_df(spark, _random_digraph(9, 40, 80))
    pagerank(spark, edges, max_supersteps=4, checkpoint_dir=ck, checkpoint_interval=2)
    mgr = CheckpointManager(spark, ck)
    newest = sorted(os.listdir(ck))[-1]
    # corrupt the newest snapshot: drop parquet _SUCCESS
    os.remove(os.path.join(ck, newest, "data.parquet", "_SUCCESS"))
    found = mgr.latest()
    assert found is not None
    assert found[0] < int(newest.split("=")[1])
    shutil.rmtree(os.path.join(ck, newest))


def test_partitioning_invariance(spark):
    """Combiner invariance (FIXTURES.md §3): identical results across
    shuffle-partition counts — allclose 1e-12 pairwise."""
    edges = _edges_df(spark, _random_digraph(29, 80, 400))
    runs = {
        p: pagerank(spark, edges, max_supersteps=12, num_partitions=p).vertices
        for p in (2, 8, 32)
    }
    base = runs[2].withColumnRenamed("rank", "r0")
    for p in (8, 32):
        j = base.join(runs[p].withColumnRenamed("rank", "r1"), "id")
        bad = j.where(F.abs(F.col("r0") - F.col("r1")) > 1e-12).count()
        assert bad == 0, f"partitions={p} diverged"


def test_gather_rejects_non_associative(spark):
    df = spark.createDataFrame([(1, 2.0)], "dst long, msg double")
    with pytest.raises(ValueError):
        gather_messages(df, [("msg", "avg")])


def test_scatter_to_targets(spark):
    """sendMessageToMultipleEdges (Computation.java:123-135): one value
    fanned out to an explicit target-id list, then combined per target —
    equivalent to the explode+gather the scatter compiles to."""
    from giraph_spark.pregel import scatter_to_targets

    verts = spark.createDataFrame(
        [(1, [10, 11], 2.0), (2, [11], 5.0), (3, [], 9.0)],
        "id long, targets array<long>, msg double",
    )
    out = scatter_to_targets(verts, "targets", ["msg"])
    assert out.columns == ["dst", "msg"]
    got = {
        (r["dst"], r["msg"])
        for r in gather_messages(out, [("msg", "sum")]).collect()
    }
    assert got == {(10, 2.0), (11, 7.0)}  # empty target list drops out


def test_worker_hooks_lifecycle(spark):
    """WorkerContext.java:78-154 lifecycle order: preApplication once,
    pre/postSuperstep per superstep, postApplication once; postSuperstep
    may mutate stats visible to halt and the history."""
    from giraph_spark.pregel import WorkerHooks, run_supersteps

    state = spark.createDataFrame([(i, 0) for i in range(4)], "id long, v long")
    calls: list[str] = []
    hooks = WorkerHooks(
        pre_application=lambda df: calls.append("preApp"),
        pre_superstep=lambda df, i: calls.append(f"pre{i}"),
        post_superstep=lambda df, i, stats: (
            calls.append(f"post{i}"),
            stats.__setitem__("flag", i),
        ),
        post_application=lambda df: calls.append("postApp"),
    )

    def step(vertices, superstep):
        nv = vertices.select("id", (F.col("v") + 1).alias("v"))
        total = nv.agg(F.sum("v")).collect()[0][0]
        return nv, {"total": int(total)}

    run = run_supersteps(
        spark, state, step, max_supersteps=5,
        halt=lambda stats, i: stats["flag"] >= 2,  # set by post_superstep
        hooks=hooks,
    )
    assert run.supersteps == 3 and run.converged
    assert calls == [
        "preApp", "pre0", "post0", "pre1", "post1", "pre2", "post2", "postApp",
    ]
    assert [h["flag"] for h in run.history] == [0, 1, 2]


def test_lineage_cut_bounds_partition_width(spark):
    """A step that unions frames (narrow union sums partition counts)
    must not compound width superstep over superstep — the lineage cut
    coalesces back past 8x the initial width."""
    from giraph_spark.pregel import run_supersteps

    v0 = spark.createDataFrame([(i, 0) for i in range(8)], "id long, v long").repartition(4)

    def widening_step(vertices, superstep):
        half_a = vertices.where(F.col("id") % 2 == 0)
        half_b = vertices.where(F.col("id") % 2 == 1)
        nv = half_a.unionByName(half_b)  # width = 2x input every superstep
        return nv, {"n": nv.count()}

    run = run_supersteps(spark, v0, widening_step, max_supersteps=10)
    assert run.vertices.count() == 8
    assert run.vertices.rdd.getNumPartitions() <= 8 * 4


def _jobs_per_superstep(spark, step, supersteps, tag, v0=None, **kwargs):
    """Run ``step`` on a 50-row state (or ``v0``) with each superstep in its
    own job group; returns (run, Spark jobs issued per superstep)."""
    from giraph_spark.pregel import WorkerHooks, run_supersteps

    sc = spark.sparkContext
    if v0 is None:
        v0 = spark.createDataFrame([(i, float(i)) for i in range(50)], "id long, x double")
    hooks = WorkerHooks(
        pre_superstep=lambda df, i: sc.setJobGroup(f"{tag}-{i}", f"{tag} ss={i}")
    )
    try:
        run = run_supersteps(spark, v0, step, supersteps, hooks=hooks, **kwargs)
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001 — job events land
    tracker = sc.statusTracker()
    return run, [len(tracker.getJobIdsForGroup(f"{tag}-{i}")) for i in range(supersteps)]


def test_loop_adopts_materialized_lazy_cut(spark, caplog):
    """A step whose own aggregate materializes its lazy cut costs exactly
    one Spark job per superstep: the loop adopts the cut instead of
    cutting again. verbose=True logs each superstep at INFO."""
    import logging

    from giraph_spark.pregel import _checkpointed_jrdd

    def step(vertices, superstep):
        nv = vertices.select("id", (F.col("x") + 1).alias("x")).localCheckpoint(
            eager=False
        )
        return nv, {"sum": nv.agg(F.sum("x")).collect()[0][0]}

    with caplog.at_level(logging.INFO, logger="giraph_spark"):
        run, jobs = _jobs_per_superstep(spark, step, 4, "adopt", verbose=True)
    assert jobs == [1, 1, 1, 1]
    assert [h["sum"] for h in run.history] == [1275.0 + 50 * i for i in range(4)]
    assert _checkpointed_jrdd(run.vertices).isCheckpointed()
    lines = [r.getMessage() for r in caplog.records if r.name == "giraph_spark"]
    assert [m.split()[0] for m in lines] == [f"superstep={i}" for i in range(4)]


def test_loop_cuts_uncut_frame(spark):
    """A step that returns an un-cut derived frame is cut by the loop: one
    extra (eager-cut) job per superstep, and the result is a cut."""
    from giraph_spark.pregel import _checkpointed_jrdd

    def step(vertices, superstep):
        nv = vertices.select("id", (F.col("x") + 1).alias("x"))
        return nv, {"sum": nv.agg(F.sum("x")).collect()[0][0]}

    run, jobs = _jobs_per_superstep(spark, step, 4, "cut")
    assert jobs == [2, 2, 2, 2]
    assert _checkpointed_jrdd(run.vertices).isCheckpointed()
    assert run.vertices.agg(F.sum("x")).collect()[0][0] == 1225.0 + 50 * 4


def test_loop_cuts_unscanned_lazy_cut(spark):
    """A lazy cut the step's action never scanned is not adopted: the loop
    cuts it eagerly, so no superstep reads a freed checkpoint block
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND would raise here)."""

    def step(vertices, superstep):
        nv = vertices.select("id", (F.col("x") + 1).alias("x")).localCheckpoint(
            eager=False
        )
        return nv, {"n": vertices.count()}  # the action scans the INPUT

    run, _ = _jobs_per_superstep(spark, step, 5, "unscanned")
    assert run.supersteps == 5
    assert run.vertices.agg(F.sum("x")).collect()[0][0] == 1225.0 + 50 * 5


def _persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs()}  # noqa: SLF001


def test_triangle_global_entry_frees_its_cache(spark, tmp_path):
    """The triangle_global entry query counts the demo graph's triangles
    and leaves no cached RDD behind: no persistent RDD after collecting it
    is new. (Earlier tests' leftovers may be freed by the context cleaner
    meanwhile, so the set after may be smaller.)"""
    import __spark_entry__ as E
    from tests.oracles import triangles_oracle

    pairs = _random_digraph(17, 30, 150)
    # a lineitem table whose demo edges are (7·s, 7·t): the demo edge
    # is (orderkey, 131·partkey + 7·suppkey) mod 4096
    spark.createDataFrame(
        [(7 * s, 0, t) for s, t in pairs], "l_orderkey long, l_partkey long, l_suppkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    rows = E.q_triangle_global(spark, str(tmp_path)).collect()
    assert _persistent_rdd_ids(sc) <= before
    want = sum(triangles_oracle(pairs).values()) // 3
    assert want > 0 and [r["n_triangles"] for r in rows] == [want]


def test_loop_adopts_materialized_input_cut(spark):
    """An input that is a materialized cut is adopted as superstep 0's
    cut: superstep 0 costs one job (no persist fill, no re-cut), and the
    loop frees the input's blocks like any other cut."""
    from giraph_spark.pregel import _checkpointed_jrdd

    v0 = spark.createDataFrame([(i, float(i)) for i in range(50)], "id long, x double")
    v0 = v0.localCheckpoint(eager=False)
    assert v0.agg(F.sum("x")).collect()[0][0] == 1225.0  # fills the cut
    input_id = _checkpointed_jrdd(v0).id()
    assert input_id in _persistent_rdd_ids(spark.sparkContext)

    def step(vertices, superstep):
        nv = vertices.select("id", (F.col("x") + 1).alias("x")).localCheckpoint(
            eager=False
        )
        return nv, {"sum": nv.agg(F.sum("x")).collect()[0][0]}

    run, jobs = _jobs_per_superstep(spark, step, 3, "adopt-input", v0=v0)
    assert jobs == [1, 1, 1]
    assert [h["sum"] for h in run.history] == [1275.0, 1325.0, 1375.0]
    assert input_id not in _persistent_rdd_ids(spark.sparkContext)


# the power-iteration callers at 5 supersteps -> PregelRun
_SQL_STEP_JOB_CALLS = {
    "ppr": lambda s, e: _alg("ppr").personalized_pagerank(
        s, e, [0, 3], max_supersteps=5, tolerance=None
    ),
    "trustrank": lambda s, e: _alg("ppr").trustrank(s, e, [0, 3], max_supersteps=5),
    "ppr_batch": lambda s, e: _alg("ppr").ppr_batch(
        s, e, [0, 3, 7], max_supersteps=5, tolerance=None
    ),
    "hits": lambda s, e: _alg("hits").hits(s, e, max_supersteps=5),
    "eigenvector": lambda s, e: _alg("hits").eigenvector_centrality(s, e, max_supersteps=5),
    "salsa": lambda s, e: _alg("hits").salsa(s, e, max_supersteps=5),
    "katz": lambda s, e: _alg("hits").katz_centrality(s, e, max_supersteps=5),
}


def test_engine_calls_setup_is_one_job(spark, tmp_path, monkeypatch):
    """Each SQL-text engine call plans its set-up without AQE and folds it
    into one job: a 5-superstep PageRank issues at most 1 + 5 Spark jobs,
    WCC, LPA, the power-iteration family (PPR, TrustRank, ppr_batch,
    HITS, eigenvector, SALSA, Katz), SSSP, BFS, the multi-seed BFS and
    the three degree peels (densest subgraph, k_core, coreness) at most
    one per superstep plus one. A snapshot is one write job:
    snapshotting every 3 supersteps adds 2 (at 3 and the final 5), and
    the resume to superstep 7 is at most 7 jobs."""
    from giraph_spark.algorithms import label_propagation, max_label_propagation

    sc = spark.sparkContext
    edges = _edges_df(spark, _random_digraph(11, 60, 240))

    def jobs(tag, call):
        sc.setJobGroup(tag, tag)
        try:
            run = call()
        finally:
            sc._jsc.clearJobGroup()  # noqa: SLF001
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return run, len(sc.statusTracker().getJobIdsForGroup(tag))

    run, n = jobs("jobs-pr", lambda: pagerank(spark, edges, max_supersteps=5))
    assert run.supersteps == 5 and n <= 6, n
    ck = {"checkpoint_dir": str(tmp_path / "ck-jobs"), "checkpoint_interval": 3}
    run, n = jobs("jobs-pr-ck", lambda: pagerank(spark, edges, max_supersteps=5, **ck))
    assert run.supersteps == 5 and n <= 8, n
    run, n = jobs(
        "jobs-pr-resume", lambda: pagerank(spark, edges, max_supersteps=7, resume=True, **ck)
    )
    assert run.supersteps == 7 and n <= 7, n
    run, n = jobs("jobs-wcc", lambda: connected_components(spark, edges, max_supersteps=5))
    assert n <= run.supersteps + 1, (n, run.supersteps)
    run, n = jobs("jobs-lpa", lambda: label_propagation(spark, edges, max_supersteps=5))
    assert n <= run.supersteps + 1, (n, run.supersteps)
    run, n = jobs("jobs-maxlp", lambda: max_label_propagation(spark, edges, max_supersteps=5))
    assert n <= run.supersteps + 1, (n, run.supersteps)
    # the power-iteration family: one set-up job, one job per superstep
    for name, call in _SQL_STEP_JOB_CALLS.items():
        run, n = jobs(f"jobs-{name}", lambda: call(spark, edges))
        assert run.supersteps == 5 and n <= run.supersteps + 1, (name, n, run.supersteps)
    # the send-on-change and peel callers run to convergence; k_core and
    # coreness return a frame, so each call's supersteps are read from
    # the loop it ran
    from giraph_spark import pregel

    loops = []
    run_supersteps = pregel.run_supersteps

    def recording(*args, **kwargs):
        loops.append(run_supersteps(*args, **kwargs))
        return loops[-1]

    monkeypatch.setattr(pregel, "run_supersteps", recording)
    for name in ("sssp", "bfs", "multi_seed", "densest", "k_core", "coreness"):
        _, n = jobs(f"jobs-{name}", lambda: _SQL_STEP_CALLERS[name](spark, edges))
        steps = loops[-1].supersteps
        assert n <= steps + 1, (name, n, steps)


def test_engine_calls_restore_callers_aqe(spark):
    """spark.sql.adaptive.enabled reads the caller's value after each
    engine call, also after a call that raises inside its AQE-off scope."""
    from pyspark.errors import AnalysisException

    from giraph_spark.algorithms import label_propagation

    key = "spark.sql.adaptive.enabled"
    user_val = spark.conf.get(key)
    edges = _edges_df(spark, _random_digraph(12, 30, 90))
    bad = spark.createDataFrame([(1, 2)], "a long, b long")
    calls = [
        lambda e: pagerank(spark, e, max_supersteps=2),
        lambda e: connected_components(spark, e, max_supersteps=2),
        lambda e: label_propagation(spark, e, max_supersteps=2),
    ]
    try:
        for caller_val in ("false", "true"):
            spark.conf.set(key, caller_val)
            for call in calls:
                call(edges)
                assert spark.conf.get(key) == caller_val
                with pytest.raises(AnalysisException):
                    call(bad)
                assert spark.conf.get(key) == caller_val
    finally:
        spark.conf.set(key, user_val)


def test_concurrent_engine_calls_leave_callers_conf(spark, tmp_path):
    """Two engine calls at once on one session: thread A runs a
    snapshotting PageRank, thread B WCC then LPA, while the main thread
    polls spark.sql.adaptive.enabled. Every read is the caller's value
    (each call turns AQE off in its own cloned session only), the results
    equal serial runs, and no checkpoint block goes missing."""
    import threading
    import time

    from giraph_spark.algorithms import label_propagation

    key = "spark.sql.adaptive.enabled"
    caller_val = spark.conf.get(key)
    edges = _edges_df(spark, _random_digraph(14, 80, 320))
    calls = {
        "pr": lambda ck: pagerank(
            spark, edges, max_supersteps=6, checkpoint_dir=ck, checkpoint_interval=2
        ),
        "wcc": lambda ck: connected_components(spark, edges),
        "lpa": lambda ck: label_propagation(spark, edges, max_supersteps=5),
    }

    def values(name, ck):
        run = calls[name](ck)
        col = [c for c in run.vertices.columns if c != "id"][0]
        return {r["id"]: r[col] for r in run.vertices.collect()}

    serial = {name: values(name, str(tmp_path / f"serial-{name}")) for name in calls}
    got: dict[str, dict] = {}
    errors: list[str] = []

    def run_all(names):
        try:
            for name in names:
                got[name] = values(name, str(tmp_path / f"conc-{name}"))
        except Exception as exc:  # noqa: BLE001
            errors.append(repr(exc))

    threads = [
        threading.Thread(target=run_all, args=(["pr"],)),
        threading.Thread(target=run_all, args=(["wcc", "lpa"],)),
    ]
    for t in threads:
        t.start()
    reads = []
    deadline = time.time() + 600
    while any(t.is_alive() for t in threads) and time.time() < deadline:
        reads.append(spark.conf.get(key))
        time.sleep(0.001)
    assert not any(t.is_alive() for t in threads)
    assert not any("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in e for e in errors), errors
    assert errors == []
    assert len(reads) > 10 and set(reads) == {caller_val}
    assert got["pr"].keys() == serial["pr"].keys()
    assert all(abs(got["pr"][k] - serial["pr"][k]) <= 1e-12 for k in serial["pr"])
    assert got["wcc"] == serial["wcc"] and got["lpa"] == serial["lpa"]


def test_engine_call_session_boundary(spark):
    """What crosses between the caller's session and a call's cloned one:
    a runtime conf goes in (the caller's shuffle-partition count sizes a
    num_partitions=None call), and the result comes back as a frame of
    the caller's session — planned with the caller's AQE, and a temp view
    made from it resolves through the caller's catalog. ``RDD.toDF`` is
    left bound to the session it was bound to."""
    from pyspark import RDD

    to_df = RDD.toDF
    key = "spark.sql.shuffle.partitions"
    user_val = spark.conf.get(key)
    edges = _edges_df(spark, _random_digraph(15, 40, 120))
    try:
        spark.conf.set(key, "3")
        run = pagerank(spark, edges, max_supersteps=2, num_partitions=None)
    finally:
        spark.conf.set(key, user_val)
    assert run.vertices.rdd.getNumPartitions() == 3
    assert run.vertices.sparkSession is spark
    assert RDD.toDF is to_df
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    plan = run.vertices.groupBy("rank").count()._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "AdaptiveSparkPlan"
    run.vertices.createOrReplaceTempView("boundary_ranks")
    try:
        n = spark.sql("SELECT count(*) FROM boundary_ranks").collect()[0][0]
    finally:
        spark.catalog.dropTempView("boundary_ranks")
    assert n == run.vertices.count()


def test_concurrent_engine_calls_leave_rdd_todf_bound(spark, monkeypatch):
    """Two engine calls on one session, forced into the order that breaks
    a per-call save and restore of the class attribute ``RDD.toDF``: call
    A is parked in the ``SparkSession`` constructor right after the
    constructor rebinds ``RDD.toDF`` (at ``install_exception_handler``),
    call B starts, and A finishes before B goes on. Afterwards
    ``rdd.toDF()`` still makes a frame of the caller's session. A call
    that never runs the constructor is never parked."""
    import threading

    import pyspark.sql.session as session_mod
    from pyspark import RDD

    from giraph_spark.algorithms import label_propagation

    monkeypatch.setattr(RDD, "toDF", RDD.toDF)  # put back at teardown
    install = session_mod.install_exception_handler
    a_parked, b_parked, a_done = threading.Event(), threading.Event(), threading.Event()
    role: dict[int, str] = {}

    def gated_install():
        me = role.get(threading.get_ident())
        if me == "a" and not a_parked.is_set():
            a_parked.set()
            b_parked.wait(60)  # until B has saved A's binding and made its own
        elif me == "b" and not b_parked.is_set():
            b_parked.set()
            a_done.wait(120)  # A restores first
        install()

    monkeypatch.setattr(session_mod, "install_exception_handler", gated_install)
    edges = _edges_df(spark, _random_digraph(16, 30, 90))
    errors: list[str] = []

    def run(name, call):
        role[threading.get_ident()] = name
        try:
            call()
        except Exception as exc:  # noqa: BLE001
            errors.append(repr(exc))
        finally:
            if name == "a":
                a_done.set()

    a = threading.Thread(
        target=run, args=("a", lambda: connected_components(spark, edges, max_supersteps=2))
    )
    b = threading.Thread(
        target=run, args=("b", lambda: label_propagation(spark, edges, max_supersteps=2))
    )
    a.start()
    while a.is_alive() and not a_parked.wait(0.05):
        pass
    b.start()
    a.join(300)
    b.join(300)
    assert not a.is_alive() and not b.is_alive()
    assert errors == []
    assert spark.sparkContext.parallelize([(1,)]).toDF(["x"]).sparkSession is spark


def test_pagerank_resume_frees_setup_cut(spark, tmp_path):
    """A resume=True PageRank replaces its set-up cut with the snapshot and
    frees it: the only checkpoint left registered is the result's."""
    sc = spark.sparkContext
    edges = _edges_df(spark, _random_digraph(13, 40, 160))
    ckpt = str(tmp_path / "ck")
    pagerank(spark, edges, max_supersteps=3, checkpoint_dir=ckpt, checkpoint_interval=3)
    before = _persistent_rdd_ids(sc)
    run = pagerank(
        spark, edges, max_supersteps=4, checkpoint_dir=ckpt, checkpoint_interval=3,
        resume=True,
    )
    assert run.supersteps == 4 and len(run.history) == 1
    assert len(_persistent_rdd_ids(sc) - before) == 1  # the result's cut


def _alg(module: str):
    import importlib

    return importlib.import_module(f"giraph_spark.algorithms.{module}")


# hand-rolled loop -> (call(spark, edges) -> result frame, blocks the result
# owns: its own cut, or none for a curve built from driver-side rows)
_HAND_ROLLED_LOOPS = {
    "scc": (lambda s, e: _alg("scc").strongly_connected_components(s, e), 1),
    "bowtie": (lambda s, e: _alg("bowtie").bowtie_decomposition(s, e), 1),
    "mis": (lambda s, e: _alg("mis").maximal_independent_set(s, e), 1),
    "matching": (lambda s, e: _alg("matching").maximal_matching(s, e), 1),
    "betweenness": (
        lambda s, e: _alg("betweenness").betweenness_centrality(s, e, seeds=[0, 1, 2]), 1
    ),
    "anf_exact": (lambda s, e: _alg("anf").anf_exact(s, e, max_t=4), 0),
    "anf_hll": (lambda s, e: _alg("anf").anf_hll(s, e, max_t=4), 0),
    "k_truss": (lambda s, e: _alg("kcore").k_truss(s, e, k=3), 1),
    "louvain_move_phase": (lambda s, e: _alg("louvain").louvain_move_phase(s, e), 1),
    "wcc_star": (lambda s, e: _alg("wcc").connected_components_star(s, e).vertices, 1),
    "pointer_jump": (
        lambda s, e: _alg("paths").pointer_jump(
            s, s.createDataFrame([(i, i // 2) for i in range(1, 60)], "src long, dst long")
        ),
        1,
    ),
    "deadlock": (lambda s, e: _alg("deadlock").bracha_toueg_free(s, e, 0).vertices, 1),
    "trussness": (lambda s, e: _alg("kcore").trussness(s, e), 1),
}


def _weighted(e):
    return e.withColumn("weight", (F.col("src") * 7 + F.col("dst")) % 5 + 1.0)


# SQL-text superstep caller -> call(spark, edges) -> result frame; the
# result owns its loop's last cut and nothing else
_SQL_STEP_CALLERS = {
    "ppr": lambda s, e: _alg("ppr").personalized_pagerank(s, e, [0, 3], max_supersteps=5),
    "ppr_weighted": lambda s, e: _alg("ppr").personalized_pagerank(
        s, _weighted(e), [0, 3], max_supersteps=5, weighted=True
    ),
    "trustrank": lambda s, e: _alg("ppr").trustrank(s, e, [0, 3], max_supersteps=5),
    "ppr_batch": lambda s, e: _alg("ppr").ppr_batch(s, e, [0, 3, 7], max_supersteps=5),
    "local_community": lambda s, e: _alg("ppr").local_community(s, e, seed=0),
    "hits": lambda s, e: _alg("hits").hits(s, e, max_supersteps=5),
    "eigenvector": lambda s, e: _alg("hits").eigenvector_centrality(s, e, max_supersteps=5),
    "salsa": lambda s, e: _alg("hits").salsa(s, e, max_supersteps=5),
    "katz": lambda s, e: _alg("hits").katz_centrality(s, e, max_supersteps=5),
    "sssp": lambda s, e: _alg("paths").sssp(s, _weighted(e), 0),
    "bfs": lambda s, e: _alg("paths").bfs(s, e, 0),
    "multi_seed": lambda s, e: _alg("paths").multi_seed_distances(s, e, [0, 3, 7]),
    "densest": lambda s, e: _alg("densest").densest_subgraph(s, e),
    "k_core": lambda s, e: _alg("kcore").k_core(s, e, k=3),
    "coreness": lambda s, e: _alg("kcore").coreness(s, e),
}


@pytest.mark.parametrize("name", sorted(_SQL_STEP_CALLERS))
def test_sql_step_caller_frees_its_cuts(spark, name):
    """A SQL-text superstep caller on the 60-vertex graph leaves at most
    one more persistent RDD registered (the result's cut): its edge
    caches, set-up cut and superstep cuts are freed, and the result still
    reads."""
    sc = spark.sparkContext
    edges = _edges_df(spark, _random_digraph(11, 60, 240))
    before = _persistent_rdd_ids(sc)
    result = _SQL_STEP_CALLERS[name](spark, edges)
    result = getattr(result, "vertices", result)
    grown = _persistent_rdd_ids(sc) - before
    assert len(grown) <= 1, (name, sorted(grown))
    assert result.count() > 0


@pytest.mark.parametrize("name", ["sssp", "densest"])
def test_sql_step_caller_frees_its_cuts_when_the_loop_raises(spark, monkeypatch, name):
    """A SQL-text superstep caller whose loop raises at superstep 1 leaves
    no persistent RDD behind: its edge cache and cuts are freed on the
    exception path too."""
    from giraph_spark import pregel

    run_supersteps = pregel.run_supersteps

    def raising(spark, state, step, **loop):
        def step_or_raise(vertices, superstep):
            if superstep == 1:
                raise RuntimeError("superstep 1 fails")
            return step(vertices, superstep)

        return run_supersteps(spark, state, step_or_raise, **loop)

    monkeypatch.setattr(pregel, "run_supersteps", raising)
    sc = spark.sparkContext
    edges = _edges_df(spark, _random_digraph(11, 60, 240))
    before = _persistent_rdd_ids(sc)
    with pytest.raises(RuntimeError, match="superstep 1 fails"):
        _SQL_STEP_CALLERS[name](spark, edges)
    assert _persistent_rdd_ids(sc) == before


@pytest.mark.parametrize("name", sorted(_HAND_ROLLED_LOOPS))
def test_hand_rolled_loop_frees_its_cuts(spark, name):
    """A hand-rolled loop on the 60-vertex graph leaves registered only the
    blocks its result reads, with nothing flushed after the call, and the
    result stays readable."""
    call, own = _HAND_ROLLED_LOOPS[name]
    sc = spark.sparkContext
    edges = _edges_df(spark, _random_digraph(11, 60, 240))
    before = _persistent_rdd_ids(sc)
    result = call(spark, edges)
    grown = _persistent_rdd_ids(sc) - before
    assert len(grown) <= own, (name, sorted(grown))
    assert result.count() > 0


def test_bare_checkpoint_values_schema_release(spark):
    """bare_checkpoint: same rows/schema as the input, a true leaf plan
    (no origin references — the iterated-planning fix), and the owner
    that adopts it frees the checkpoint blocks."""
    from giraph_spark.pregel import LineageCuts, bare_checkpoint

    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(i, float(i) / 3, f"s{i}") for i in range(100)],
        "id long, x double, s string",
    )
    with LineageCuts(sc) as cuts:
        bare = cuts.adopt(bare_checkpoint(df.repartition(4, "id")), "a")
        assert bare.schema == df.schema
        assert sorted(map(tuple, bare.collect())) == sorted(map(tuple, df.collect()))
        # leaf plan: analyzed tree is a single LogicalRDD node
        analyzed = bare._jdf.queryExecution().analyzed().toString()
        assert analyzed.strip().startswith("LogicalRDD")
        assert "\n " not in analyzed.strip()  # no children
        # chaining through joins keeps the next leaf constant-size too
        nxt = cuts.adopt(
            bare_checkpoint(
                bare.join(F.broadcast(bare.limit(3).select("id")), "id", "left_anti")
            ),
            "b",
        )
        assert nxt._jdf.queryExecution().analyzed().toString().strip().startswith(
            "LogicalRDD"
        )
        assert nxt.count() == 97

        def stored_ids():
            return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

        # scope the release assertion to the ids THIS test checkpointed —
        # the suite-shared session may hold other tests' persisted RDDs
        released_ids = {bare._bare_checkpoint_handle.id(), nxt._bare_checkpoint_handle.id()}
        assert released_ids <= stored_ids()
        cuts.release("a")
        cuts.release("b")
        assert stored_ids() & released_ids == set()


def test_bare_checkpoint_release_under_concurrent_actions(spark):
    """The hand-back contract of a cut's owner: a reader thread runs
    actions on each state the main thread hands it and says when it is
    done with it, while the main thread keeps cutting the next state from
    the last one; the main thread frees a state only after the reader
    handed it back. Must produce no CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (a
    raised exception in either thread) and leave no leaked blocks."""
    import queue
    import threading

    from giraph_spark.pregel import LineageCuts, bare_checkpoint

    sc = spark.sparkContext
    base_ids = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    handed: queue.Queue = queue.Queue()
    done: queue.Queue = queue.Queue()
    errors: list[str] = []

    def reader():
        while (item := handed.get()) is not None:
            slot, df = item
            try:
                for _ in range(3):
                    df.agg(F.sum("x")).collect()
            except Exception as exc:  # noqa: BLE001
                errors.append(repr(exc))
            done.put(slot)

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    with LineageCuts(sc) as cuts:
        state = cuts.adopt(
            bare_checkpoint(spark.range(0, 2000).select(F.col("id"), F.lit(0).alias("x"))),
            "s0",
        )
        handed.put(("s0", state))
        for step in range(1, 13):
            state = cuts.adopt(
                bare_checkpoint(state.select("id", (F.col("x") + 1).alias("x"))), f"s{step}"
            )
            handed.put((f"s{step}", state))
            cuts.release(done.get(timeout=600))  # the state the reader handed back
        handed.put(None)
        t.join(timeout=600)
        assert not t.is_alive()
        assert errors == [], errors
        assert int(state.agg(F.sum("x")).collect()[0][0]) == 2000 * 12
    after_ids = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    assert after_ids - base_ids == set()


def test_release_waits_only_for_owner_tagged_jobs(spark):
    """A free waits for the owner's own tagged jobs, and only for them: a
    slow job on a thread that carries the owner's tag reads a cut, and
    release() returns only once that job has ended, and it succeeded; a
    slow untagged job on another thread is still running when release()
    returns."""
    import threading
    import time

    from giraph_spark.pregel import LineageCuts

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def sleepy(seconds):
        def count_after(rows):
            import time

            time.sleep(seconds)
            yield sum(1 for _ in rows)

        return count_after

    out: dict[str, object] = {}
    with LineageCuts(sc) as cuts:
        cut = cuts.cut(spark.range(0, 400, numPartitions=2), "c")

        def tagged():
            sc.addJobTag(cuts.tag)
            try:
                out["rows"] = sum(cut.rdd.mapPartitions(sleepy(3.0)).collect())
            finally:
                sc.removeJobTag(cuts.tag)

        def untagged():
            out["other"] = sum(
                spark.range(0, 10, numPartitions=1).rdd.mapPartitions(sleepy(15.0)).collect()
            )

        threads = [threading.Thread(target=untagged), threading.Thread(target=tagged)]
        for th in threads:
            th.start()
        deadline = time.time() + 120
        while time.time() < deadline:
            active = set(tracker.getActiveJobsIds())
            owned = set(sc._jsc.sc().statusTracker().getJobIdsForTag(cuts.tag))  # noqa: SLF001
            if active & owned and active - owned:
                break
            time.sleep(0.02)
        assert active & owned and active - owned, "both slow jobs never ran at once"
        cuts.release("c")
        after = set(tracker.getActiveJobsIds())
        assert not after & owned  # the tagged reader had ended ...
        assert after & (active - owned)  # ... and the untagged job had not
        assert all(tracker.getJobInfo(j).status == "SUCCEEDED" for j in active & owned)
    for th in threads:
        th.join(timeout=120)
    assert out == {"rows": 400, "other": 10}


def test_trussness_empty_frontier_rounds_and_no_leaks(spark):
    """Trussness on a graph engineered so whole peel rounds remove ONLY
    support-0 edges (the empty-frontier case whose AQE replan orphaned a
    stage in the r4 sweep): a triangle pair sharing an edge plus a long
    chain of triangle-free edges. Checks exact trussness values, that
    repeated runs are stable, and that the decomposition releases every
    checkpoint block it created."""
    from giraph_spark.algorithms.kcore import trussness

    sc = spark.sparkContext
    base_ids = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    tri = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)]  # two triangles on edge (1,2)
    chain = [(10 + i, 11 + i) for i in range(30)]  # support-0 edges
    edges = spark.createDataFrame(tri + chain, "src long, dst long")
    expect = {(u, v): 3 for (u, v) in tri}
    expect[(1, 2)] = 3  # shared edge: still only one triangle survives each k
    expect.update({(u, v): 2 for (u, v) in chain})
    for _ in range(2):  # stability under rerun (fresh cut/release cycle)
        got = {
            (r["u"], r["v"]): r["trussness"]
            for r in trussness(spark, edges, num_partitions=4).collect()
        }
        assert got == expect
    after_ids = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    # the result frame itself is checkpointed and returned (its blocks are
    # the caller's to free); everything else must be released
    assert len(after_ids - base_ids) <= 2


def test_trussness_orientation_parity(spark):
    """orient_frontier pivots the wedge probe to the lower-degree
    endpoint (skew optimization) — results must be identical to the
    unoriented probe on a graph mixing a K5, shared triangles, a chain
    and a star hub."""
    import itertools

    from giraph_spark.algorithms.kcore import trussness

    k5 = list(itertools.combinations(range(5), 2))
    tri = [(10, 11), (11, 12), (10, 12), (11, 13), (12, 13)]
    chain = [(100 + i, 101 + i) for i in range(8)]
    star = [(500, 600 + i) for i in range(40)]
    edges = spark.createDataFrame(k5 + tri + chain + star, "src long, dst long")
    a = {
        (r["u"], r["v"]): r["trussness"]
        for r in trussness(spark, edges, num_partitions=4).collect()
    }
    b = {
        (r["u"], r["v"]): r["trussness"]
        for r in trussness(
            spark, edges, num_partitions=4, orient_frontier=True
        ).collect()
    }
    assert a == b
    assert all(a[e] == 5 for e in k5)  # K5 survives the 5-truss
    assert all(a[e] == 2 for e in chain + star)


def test_daemon_warm_wiring(spark):
    """The local-mode session must point the worker daemon at the
    pre-importing module, the repo root must be on the env PYTHONPATH the
    executor hands to that daemon, and _prewarm itself must be clean to
    call (it runs before fork in every Python-worker daemon)."""
    import os

    from giraph_spark import daemon_warm

    assert (
        spark.conf.get("spark.python.daemon.module")
        == "giraph_spark.daemon_warm"
    )
    repo_root = os.path.dirname(
        os.path.dirname(os.path.abspath(daemon_warm.__file__))
    )
    assert repo_root in os.environ.get("PYTHONPATH", "").split(os.pathsep)
    daemon_warm._prewarm()  # must not raise (degrades lazily, never fails)


def test_daemon_warm_blas_single_threaded(monkeypatch):
    """_prewarm caps OpenBLAS at one thread before numpy loads it (the
    daemon forks after), unless the user already chose a value."""
    from giraph_spark import daemon_warm

    monkeypatch.setenv("OPENBLAS_NUM_THREADS", "3")
    daemon_warm._prewarm()
    assert os.environ["OPENBLAS_NUM_THREADS"] == "3"
    monkeypatch.delenv("OPENBLAS_NUM_THREADS")
    daemon_warm._prewarm()
    assert os.environ["OPENBLAS_NUM_THREADS"] == "1"
