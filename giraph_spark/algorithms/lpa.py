"""Label propagation.

Two variants:

- ``max_label_propagation`` — the reference's max-label computation
  (``giraph-examples/.../MaxComputation.java:30-47``: set value to max of
  messages, send on change, halt; golden test MaxComputationTest.java:37-55).
  Structurally identical to WCC with max instead of min.

- ``label_propagation`` — community LPA (mode of neighbor labels,
  deterministic tie-break to the smaller label). The reference has no
  standalone community LPA (its "label propagation" instances are the
  min/max propagations above — see SURVEY.md §2.4); this is the north-rule
  operator, reusing the identical superstep skeleton with the update rule
  swapped: ``groupBy(dst, label).count()`` then an argmax with
  ``max_by(label, struct(cnt, -label))`` — most-frequent label, ties to
  the smallest. Synchronous updates, halt when no label changes or
  ``max_supersteps``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import symmetrize, vertices_from_edges
from giraph_spark.pregel import PregelRun, engine_session, rebind, run_supersteps


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 10,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    weight_col: str | None = None,
    incremental_threshold: float | None = 0.25,
    verbose: bool = False,
) -> PregelRun:
    """Community LPA; result ``vertices``: (id, label).

    Per superstep every vertex adopts the most frequent label among its
    neighbors (ties -> smallest label); vertices with no in-neighbors keep
    their label. Synchronous (all updates based on the previous round),
    so results are deterministic and partitioning-invariant.

    ``weight_col``: weighted votes — each neighbor's label counts its
    edge weight instead of 1 (the host-graph case, where ``n_links`` is
    the natural vote strength). Weights must be INTEGERS: the argmax
    tie-break is over exact vote sums, and integer sums are associative
    regardless of combine order, so weighted runs stay deterministic
    and oracle-replayable (float votes would make ties order-dependent).
    With ``symmetrize_input`` the weighted closure keeps max weight per
    pair (``symmetrize_weighted``, PrepareGraphPieces.java:202-277).

    ``incremental_threshold``: the send-on-change economy of the
    reference's propagations (``ConnectedComponentsComputation.java:98-102``
    halts quiet vertices). Once the changed-vertex frontier drops below
    this fraction of |V|, the superstep recounts votes ONLY for
    "affected" destinations — those with at least one in-neighbor whose
    label changed last round. Exact, not approximate: a vertex whose
    in-neighbors all kept their labels sees the identical vote multiset
    and re-derives the same mode, so skipping it cannot alter the
    synchronous fixpoint trajectory. Late supersteps then shuffle
    O(edges incident to the frontier's out-neighborhood) instead of
    O(|E|). Costs a second dst-partitioned cached copy of the edge table
    (built lazily on first use). ``None`` disables (always full scatter).
    """
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev, edv, sv, nv = "lpa_edges", "lpa_edges_dst", "lpa_state", "lpa_new"
    if weight_col is not None:
        from giraph_spark.graph import symmetrize_weighted

        e = (
            symmetrize_weighted(edges, weight_col)
            if symmetrize_input
            else edges.select("src", "dst", weight_col)
        )
        e = e.select("src", "dst", F.col(weight_col).cast("long").alias("_w"))
    else:
        e = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
    e = e.repartition(num_partitions, "src").persist()

    state = vertices_from_edges(e).select("id", F.col("id").alias("label"))

    # one-superstep-lagged aggregator (MasterCompute-style): last round's
    # changed count decides this round's full-vs-incremental plan
    box: dict[str, Any] = {"changed": None, "n": None, "e_dst": None}

    # Each superstep is ONE spark.sql() text instead of ~15 DataFrame-API
    # py4j round trips — same rationale and measurement as the PageRank
    # step (pagerank.py: ~117 ms/superstep of plan-building py4j). The
    # two-stage mode (count per (dst, label), map-side combined, then
    # max_by argmax with the deterministic smaller-label tie-break) and
    # every join-strategy hint carry over verbatim.
    e.createOrReplaceTempView(ev)
    vote_expr = "sum(j._w)" if weight_col is not None else "count(1)"
    wcol = ", ve._w AS _w" if weight_col is not None else ""
    wcol_full = ", e._w AS _w" if weight_col is not None else ""

    def _tail_sql(source_cte: str) -> str:
        return f"""c AS (
        SELECT dst, label, {vote_expr.replace('j.', '')} AS cnt
        FROM {source_cte} GROUP BY dst, label
      ),
      m AS (
        SELECT dst, max_by(label, struct(cnt, -label)) AS new_label
        FROM c GROUP BY dst
      )
      SELECT /*+ SHUFFLE_HASH(m) */ v.id,
             coalesce(m.new_label, v.label) AS label,
             (coalesce(m.new_label, v.label) != v.label) AS _changed
      FROM {sv} v LEFT JOIN m ON v.id = m.dst"""

    full_sql = f"""WITH j AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, v.label AS label{wcol_full}
        FROM {ev} e JOIN {sv} v ON e.src = v.id
      ),
      """ + _tail_sql("j")
    # incremental: frontier = vertices whose label changed last round;
    # affected dsts = their out-neighborhood (frontier shuffled to the
    # cached src-partitioned table — O(frontier)); votes recounted only
    # for edges INTO affected dsts via a semi-join against the
    # dst-partitioned copy (affected shuffled, edges stay put)
    incr_sql = f"""WITH ch AS (SELECT id AS src FROM {sv} WHERE _changed),
      aff AS (
        SELECT /*+ SHUFFLE_HASH(ch) */ DISTINCT e.dst AS dst
        FROM {ev} e JOIN ch ON e.src = ch.src
      ),
      ve AS (
        SELECT /*+ SHUFFLE_HASH(aff) */ ed.*
        FROM {edv} ed LEFT SEMI JOIN aff ON ed.dst = aff.dst
      ),
      j AS (
        SELECT /*+ SHUFFLE_HASH(v) */ ve.dst AS dst, v.label AS label{wcol}
        FROM ve JOIN {sv} v ON ve.src = v.id
      ),
      """ + _tail_sql("j")
    agg_sql = (
        f"SELECT sum(CASE WHEN _changed THEN 1 ELSE 0 END) AS c, "
        f"count(1) AS n FROM {nv}"
    )

    def step(vertices: DataFrame, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        prev_changed = box["changed"]
        use_incr = (
            incremental_threshold is not None
            and prev_changed is not None
            and box["n"] is not None
            and 0 < prev_changed <= incremental_threshold * box["n"]
        )
        if use_incr and box["e_dst"] is None:
            box["e_dst"] = e.repartition(num_partitions, "dst").persist()
            box["e_dst"].createOrReplaceTempView(edv)
        vertices.createOrReplaceTempView(sv)
        new_state = spark.sql(incr_sql if use_incr else full_sql)
        # lazy cut materialized by the aggregate below (adopted)
        new_state = new_state.localCheckpoint(eager=False)
        new_state.createOrReplaceTempView(nv)
        row = spark.sql(agg_sql).collect()[0]
        box["changed"] = int(row["c"] or 0)
        box["n"] = int(row["n"])
        return new_state, {
            "changed": box["changed"],
            "incremental": bool(use_incr),
        }

    run = run_supersteps(
        spark,
        state,
        step,
        max_supersteps=max_supersteps,
        halt=lambda stats, i: stats["changed"] == 0,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
        verbose=verbose,
    )
    e.unpersist()
    if box["e_dst"] is not None:
        box["e_dst"].unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "label"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )


def max_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Max-label propagation (MaxComputation.java:30-47): every vertex
    converges to the max id reachable along edge direction; send-on-change."""
    home = edges.sparkSession
    spark, edges = engine_session(edges)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev, sv, nv = "maxlp_edges", "maxlp_state", "maxlp_new"
    e = edges.select("src", "dst").repartition(num_partitions, "src").persist()

    state = vertices_from_edges(e).select(
        "id", F.col("id").alias("label"), F.lit(True).alias("changed")
    )

    # one spark.sql() text per superstep — the WCC shape with max/greatest
    e.createOrReplaceTempView(ev)
    step_sql = f"""WITH g AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, max(v.label) AS msg
        FROM {ev} e JOIN {sv} v ON e.src = v.id
        WHERE v.changed
        GROUP BY e.dst
      )
      SELECT /*+ SHUFFLE_HASH(g) */ v.id,
             greatest(v.label, coalesce(g.msg, v.label)) AS label,
             (coalesce(g.msg, v.label) > v.label) AS changed
      FROM {sv} v LEFT JOIN g ON v.id = g.dst"""
    count_sql = f"SELECT sum(CASE WHEN changed THEN 1 ELSE 0 END) AS c FROM {nv}"

    def step(vertices: DataFrame, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        vertices.createOrReplaceTempView(sv)
        new_state = spark.sql(step_sql).localCheckpoint(eager=False)
        new_state.createOrReplaceTempView(nv)
        row = spark.sql(count_sql).collect()[0]
        return new_state, {"changed": int(row["c"] or 0)}

    run = run_supersteps(
        spark,
        state,
        step,
        max_supersteps=max_supersteps,
        halt=lambda stats, i: stats["changed"] == 0,
        verbose=verbose,
    )
    e.unpersist()
    return PregelRun(
        vertices=rebind(run.vertices.select("id", "label"), home),
        supersteps=run.supersteps,
        converged=run.converged,
        history=run.history,
    )
