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


def test_loop_adopts_materialized_input_cut(spark):
    """An input that is a materialized cut is adopted as superstep 0's
    cut: superstep 0 costs one job (no persist fill, no re-cut), and the
    loop frees the input's blocks like any other cut."""
    from giraph_spark.pregel import _checkpointed_jrdd, flush_releases

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
    flush_releases()
    assert jobs == [1, 1, 1]
    assert [h["sum"] for h in run.history] == [1275.0, 1325.0, 1375.0]
    assert input_id not in _persistent_rdd_ids(spark.sparkContext)


def test_engine_calls_setup_is_one_job(spark, tmp_path):
    """Each SQL-text engine call plans its set-up without AQE and folds it
    into one job: a 5-superstep PageRank issues at most 1 + 5 Spark jobs,
    WCC and LPA at most one per superstep plus one. A snapshot is one
    write job: snapshotting every 3 supersteps adds 2 (at 3 and the final
    5), and the resume to superstep 7 is at most 7 jobs."""
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


def test_pagerank_resume_frees_setup_cut(spark, tmp_path):
    """A resume=True PageRank replaces its set-up cut with the snapshot and
    frees it: the only checkpoint left registered is the result's."""
    from giraph_spark.pregel import flush_releases

    sc = spark.sparkContext
    edges = _edges_df(spark, _random_digraph(13, 40, 160))
    ckpt = str(tmp_path / "ck")
    pagerank(spark, edges, max_supersteps=3, checkpoint_dir=ckpt, checkpoint_interval=3)
    flush_releases()
    before = _persistent_rdd_ids(sc)
    run = pagerank(
        spark, edges, max_supersteps=4, checkpoint_dir=ckpt, checkpoint_interval=3,
        resume=True,
    )
    flush_releases()
    assert run.supersteps == 4 and len(run.history) == 1
    assert len(_persistent_rdd_ids(sc) - before) == 1  # the result's cut


def test_bare_checkpoint_values_schema_release(spark):
    """bare_checkpoint: same rows/schema as the input, a true leaf plan
    (no origin references — the iterated-planning fix), and release()
    frees the checkpoint blocks."""
    from pyspark.sql import functions as F

    from giraph_spark.pregel import bare_checkpoint

    df = spark.createDataFrame(
        [(i, float(i) / 3, f"s{i}") for i in range(100)],
        "id long, x double, s string",
    )
    bare, release = bare_checkpoint(df.repartition(4, "id"))
    assert bare.schema == df.schema
    assert sorted(map(tuple, bare.collect())) == sorted(map(tuple, df.collect()))
    # leaf plan: analyzed tree is a single LogicalRDD node
    analyzed = bare._jdf.queryExecution().analyzed().toString()
    assert analyzed.strip().startswith("LogicalRDD")
    assert "\n " not in analyzed.strip()  # no children
    # chaining through joins keeps the next leaf constant-size too
    nxt, release2 = bare_checkpoint(
        bare.join(F.broadcast(bare.limit(3).select("id")), "id", "left_anti")
    )
    assert nxt._jdf.queryExecution().analyzed().toString().strip().startswith(
        "LogicalRDD"
    )
    assert nxt.count() == 97
    sc = spark.sparkContext

    def stored_ids():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored_ids()
    # scope the release assertion to the ids THIS test checkpointed —
    # the suite-shared session may hold other tests' persisted RDDs
    released_ids = {
        h.id()
        for h in (bare._bare_checkpoint_handle, nxt._bare_checkpoint_handle)
        if h is not None
    }
    assert released_ids, "expected at least one tracked checkpoint handle"
    assert released_ids <= before
    release()
    release2()
    assert stored_ids() & released_ids == set()


def test_bare_checkpoint_release_under_concurrent_actions(spark):
    """Stress the cut/release discipline the iterative loops rely on
    (trussness peel, r4 race): a background thread hammers actions on the
    CURRENT state frame while the main thread keeps cutting new states and
    releasing old ones with a ONE-STEP deferral — the lag that keeps a
    straggling reader's input alive for a full round. Must produce no
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (surfaces as a raised SparkException
    in either thread) and leave no leaked blocks."""
    import threading

    from pyspark.sql import functions as F

    from giraph_spark.pregel import bare_checkpoint

    sc = spark.sparkContext
    base_ids = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    state, release = bare_checkpoint(
        spark.range(0, 2000).select(F.col("id"), F.lit(0).alias("x"))
    )
    holder = {"df": state, "stop": False, "errors": []}

    def reader():
        while not holder["stop"]:
            try:
                holder["df"].agg(F.sum("x")).collect()
            except Exception as exc:  # noqa: BLE001
                holder["errors"].append(repr(exc))
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    deferred = None
    for step in range(12):
        new_state, new_release = bare_checkpoint(
            holder["df"].select("id", (F.col("x") + 1).alias("x"))
        )
        holder["df"] = state = new_state
        if deferred is not None:
            deferred()
        deferred = release
        release = new_release
    holder["stop"] = True
    t.join(timeout=60)
    assert not t.is_alive()
    assert holder["errors"] == [], holder["errors"]
    assert int(state.agg(F.sum("x")).collect()[0][0]) == 2000 * 12
    if deferred is not None:
        deferred()
    release()
    after_ids = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    assert after_ids - base_ids == set()


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


def test_gated_release_pool_bookkeeping():
    """Deterministic unit test of the job/stage-gated release pool
    (pregel._gated_release / drain_releases / flush_releases): a handle
    whose watched job or stage is still live must NOT be freed, a drain
    after the work finishes must free it, and flush waits bounded but
    never frees a still-watched handle. Uses fakes so no Spark
    scheduling races apply; the process-global pool is stashed for the
    test's duration so deferred stragglers from earlier real-Spark
    tests can't skew the counts (restored afterwards)."""
    from giraph_spark import pregel

    class FakeHandle:
        def __init__(self):
            self.freed = False

        def unpersist(self, blocking):
            self.freed = True

    class FakeTracker:
        def __init__(self, owner):
            self.owner = owner

        def getActiveJobsIds(self):
            return list(self.owner.jobs)

        def getActiveStageIds(self):
            return list(self.owner.stages)

    class FakeSC:
        def __init__(self, jobs=(), stages=()):
            self.jobs = set(jobs)
            self.stages = set(stages)

        def statusTracker(self):
            return FakeTracker(self)

    # stash any deferred entries earlier suite tests legitimately left
    # (their watched jobs may still be live on the shared session)
    with pregel._RELEASES_LOCK:
        stashed = pregel._PENDING_RELEASES
        pregel._PENDING_RELEASES = []
    try:
        _pool_cases(pregel, FakeSC, FakeHandle)
    finally:
        with pregel._RELEASES_LOCK:
            pregel._PENDING_RELEASES.extend(stashed)


def _pool_cases(pregel, FakeSC, FakeHandle):
    assert pregel.drain_releases() == 0

    # no live work at request time -> freed inline
    sc = FakeSC()
    h0 = FakeHandle()
    pregel._gated_release(sc, h0)
    assert h0.freed and pregel.drain_releases() == 0

    # a live job at request time -> deferred until that job finishes
    sc.jobs = {7}
    h1 = FakeHandle()
    pregel._gated_release(sc, h1)
    assert not h1.freed
    assert pregel.drain_releases() == 1 and not h1.freed
    sc.jobs = set()
    assert pregel.drain_releases() == 0 and h1.freed

    # a live STAGE alone (orphaned stage, job already returned) defers too
    sc.stages = {3}
    h2 = FakeHandle()
    pregel._gated_release(sc, h2)
    assert not h2.freed
    # a new job appearing later does NOT keep the old handle pinned:
    # only ids watched at request time gate the free
    sc.stages = set()
    sc.jobs = {99}
    assert pregel.drain_releases() == 0 and h2.freed

    # flush waits bounded but NEVER frees under a still-live watched job
    # (process-global pool: forcing could yank another thread's handle
    # mid-read); the entry stays pending and drains once the job ends
    sc2 = FakeSC(jobs={1})
    h3 = FakeHandle()
    pregel._gated_release(sc2, h3)
    assert not h3.freed
    assert pregel.flush_releases(timeout=0.2) == 1 and not h3.freed
    sc2.jobs = set()
    assert pregel.flush_releases(timeout=0.2) == 0 and h3.freed

    # None handle and a broken tracker degrade gracefully
    pregel._gated_release(sc2, None)

    class BrokenSC:
        def statusTracker(self):
            raise RuntimeError("gone")

    h4 = FakeHandle()
    pregel._gated_release(BrokenSC(), h4)
    assert h4.freed  # unknown liveness -> free now (pre-gating behavior)


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
