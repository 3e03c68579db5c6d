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

from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import symmetrize, vertices_from_edges
from giraph_spark.pregel import PregelRun, _relax, engine_call, gather_cte, run_sql_supersteps


@engine_call
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
    views = {ev: e}
    if incremental_threshold is not None:
        # the dst-partitioned copy: cached lazily, on the first
        # incremental superstep's scan
        views[edv] = e.repartition(num_partitions, "dst").persist()

    # The two-stage mode (count per (dst, label), map-side combined, then
    # max_by argmax with the deterministic smaller-label tie-break); the
    # step's ``{votes}`` slot is the vote-source CTE: the full scatter, or
    # the incremental recount
    vote_expr = "sum(_w)" if weight_col is not None else "count(1)"
    wcol = ", ve._w AS _w" if weight_col is not None else ""
    wcol_full = ", e._w AS _w" if weight_col is not None else ""
    step_sql = "WITH {votes}" + f"""c AS (
        SELECT dst, label, {vote_expr} AS cnt
        FROM j GROUP BY dst, label
      ),
      m AS (
        SELECT dst, max_by(label, struct(cnt, -label)) AS new_label
        FROM c GROUP BY dst
      )
      SELECT /*+ SHUFFLE_HASH(m) */ v.id,
             coalesce(m.new_label, v.label) AS label,
             (coalesce(m.new_label, v.label) != v.label) AS _changed
      FROM {sv} v LEFT JOIN m ON v.id = m.dst"""
    full_votes = f"""j AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, v.label AS label{wcol_full}
        FROM {ev} e JOIN {sv} v ON e.src = v.id
      ),
      """
    # incremental: frontier = vertices whose label changed last round;
    # affected dsts = their out-neighborhood (frontier shuffled to the
    # cached src-partitioned table — O(frontier)); votes recounted only
    # for edges INTO affected dsts via a semi-join against the
    # dst-partitioned copy (affected shuffled, edges stay put)
    incr_votes = f"""ch AS (SELECT id AS src FROM {sv} WHERE _changed),
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
      """
    agg_sql = (
        f"SELECT sum(CASE WHEN _changed THEN 1 ELSE 0 END) AS c, "
        f"count(1) AS n FROM {nv}"
    )

    def update(row, scalars: dict[str, str]) -> tuple[dict[str, Any], dict[str, str]]:
        # one-superstep-lagged aggregator (MasterCompute-style): this
        # round's changed count decides the next round's plan
        changed = int(row["c"] or 0)
        use_incr = (
            incremental_threshold is not None
            and 0 < changed <= incremental_threshold * int(row["n"])
        )
        stats = {"changed": changed, "incremental": scalars["votes"] is incr_votes}
        return stats, {"votes": incr_votes if use_incr else full_votes}

    run = run_sql_supersteps(
        spark, state, (sv, nv), views, step_sql, agg_sql, update, {"votes": full_votes},
        max_supersteps=max_supersteps,
        halt=lambda stats, i: stats["changed"] == 0,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
        verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "label"))


@engine_call
def max_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Max-label propagation (MaxComputation.java:30-47): every vertex
    converges to the max id reachable along edge direction; send-on-change."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").repartition(num_partitions, "src").persist()

    state = vertices_from_edges(e).select(
        "id", F.col("id").alias("label"), F.lit(True).alias("changed")
    )

    run = _relax(
        spark, state, "maxlp", e, "label", "v.label", "max",
        max_supersteps=max_supersteps, verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "label"))
