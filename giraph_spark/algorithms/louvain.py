"""Distributed Louvain community detection (synchronous move phase).

The modularity-maximizing move phase of Blondel et al.'s Louvain
method, restructured for a synchronous distributed engine (the same
adaptation used by Grappolo / distributed-Louvain-on-BSP systems):

- every vertex evaluates, in parallel, the modularity gain of moving
  into each neighboring community (including staying put);
- moves are PARITY-GATED: in round r only vertices with
  ``(id + r) % 2 == 0`` may adopt their argmax community. Synchronous
  all-move updates oscillate (two adjacent vertices can swap
  communities forever); alternating halves is the standard
  deterministic symmetry-breaker.
- gain comparison is done in EXACT INTEGER arithmetic: with unit edge
  weights, ``ΔQ(v→c) ∝ k_in(v,c) - k_v·σ_adj(c) / 2m``; multiplying
  through by ``2m`` gives ``score(v,c) = 2m·k_in(v,c) - k_v·σ_adj(c)``
  — all BIGINTs, so the argmax (tie-break: keep current community,
  then smallest community id) is bit-identical in any engine. No
  floating-point gain means the DuckDB oracle replays the rounds
  exactly.

``σ_adj(c)`` is the total degree of community c with v's own degree
removed when c is v's current community (the standard "gain relative
to leaving" correction).

One Louvain LEVEL is this move phase to fixpoint; the full multi-level
method composes with :func:`giraph_spark.algorithms.coarsen` (contract
each community to a super-vertex, re-run, expand) — see
``louvain_levels``.

Scale shape per round: one scatter join (edges × community state,
edge side static and cached), two map-side-combined aggregations
(σ per community — |C| rows; k_in per (v, c) — bounded by Σdeg), one
window-free integer argmax via ``max_by``, and a lineage cut. Identical
shuffle profile to a PageRank superstep plus one extra small groupBy.

Reference parity: the reference has no Louvain; its LPA
(`MaxComputation.java`) shares the skeleton. Beyond-reference operator
per SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import clean_symmetric
from giraph_spark.pregel import LineageCuts


def louvain_move_phase(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 8,
    stop_when_stable: bool = True,
    num_partitions: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Run the synchronous move phase; returns (id, community).

    ``rounds`` bounds the loop; with ``stop_when_stable`` it exits after
    TWO consecutive zero-move rounds (one is not convergence: a round
    only gates half the vertices, so the other half gets its turn
    before the phase is declared stable). The move count rides the same
    action that materializes the round — one job per round.

    ``weight_col``: INTEGER edge weights (link counts — the host-graph
    case). Weights are symmetrized with the max-closure of
    ``symmetrize_weighted`` and cast to long; integral weights keep the
    gain argmax in exact integer arithmetic (a float weight would
    reintroduce cross-engine tie ambiguity — rescale counts, don't pass
    fractions).
    """
    from giraph_spark.graph import drop_self_loops, symmetrize_weighted

    with LineageCuts(spark.sparkContext) as cuts:
        if weight_col is None:
            sym = clean_symmetric(edges).withColumn("w", F.lit(1).cast("long"))
        else:
            sym = symmetrize_weighted(drop_self_loops(edges), weight_col).select(
                "src", "dst", F.col(weight_col).cast("long").alias("w")
            )
        if num_partitions:
            sym = sym.repartition(num_partitions, "src")
        sym = sym.persist()
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.sum("w").alias("k")
        )
        m2 = deg.agg(F.sum("k")).collect()[0][0]  # 2m (total edge weight x2)
        if not m2:
            sym.unpersist()
            return spark.createDataFrame([], "id BIGINT, community BIGINT")
        state = cuts.cut(
            deg.select("id", F.col("id").alias("community"), "k"), "state"
        )

        zero_streak = 0
        for r in range(rounds):
            # σ(c): total degree per community
            sigma = state.groupBy(F.col("community").alias("c")).agg(
                F.sum("k").alias("sigma")
            )
            # k_in(v, c): edges from v into each neighboring community
            nbr_comm = sym.join(
                state.select(F.col("id").alias("dst"), F.col("community").alias("c")),
                "dst",
            ).select(F.col("src").alias("id"), "c", "w")
            k_in = nbr_comm.groupBy("id", "c").agg(F.sum("w").alias("k_in"))
            # ensure the STAY option exists even with no intra-community edge
            stay = state.select(
                "id", F.col("community").alias("c"), F.lit(0).cast("long").alias("k_in")
            )
            cand = (
                k_in.unionByName(stay)
                .groupBy("id", "c")
                .agg(F.max("k_in").alias("k_in"))
            )
            scored = (
                cand.join(state.select("id", "community", "k"), "id")
                .join(sigma, "c")
                .select(
                    "id",
                    "c",
                    "community",
                    "k",
                    (
                        F.lit(int(m2)) * F.col("k_in")
                        - F.col("k")
                        * (
                            F.col("sigma")
                            - F.when(F.col("c") == F.col("community"), F.col("k")).otherwise(
                                F.lit(0)
                            )
                        )
                    ).alias("score"),
                )
            )
            # argmax in exact integer arithmetic; tie-break: current community
            # first, then smallest community id — encoded in one max_by key
            # (score, is_current, -c) compared lexicographically
            best = scored.groupBy("id").agg(
                F.max_by(
                    "c",
                    F.struct(
                        F.col("score").alias("s"),
                        (F.col("c") == F.col("community")).cast("int").alias("cur"),
                        (-F.col("c")).alias("negc"),
                    ),
                ).alias("best_c")
            )
            gate = (F.col("id") + F.lit(r)) % 2 == 0
            nxt = (
                state.join(best, "id")
                .select(
                    "id",
                    F.when(gate, F.col("best_c")).otherwise(F.col("community")).alias(
                        "community"
                    ),
                    "k",
                    (F.when(gate, F.col("best_c")).otherwise(F.col("community"))
                     != F.col("community")).cast("long").alias("_moved"),
                )
            )
            nxt = cuts.cut(nxt, "next")
            moved = nxt.agg(F.sum("_moved")).collect()[0][0] or 0
            state = cuts.cut(nxt.drop("_moved"), "state")
            cuts.release("next")
            zero_streak = zero_streak + 1 if moved == 0 else 0
            if stop_when_stable and zero_streak >= 2:
                break
        out = state.select("id", "community")
        cuts.forget("state")
        sym.unpersist()
        return out


def louvain_levels(
    spark: SparkSession,
    edges: DataFrame,
    levels: int = 2,
    rounds: int = 8,
) -> DataFrame:
    """Multi-level Louvain: move phase, contract communities to
    super-vertices, repeat, then expand labels back to the original
    vertices. Returns (id, community) where community ids are original
    vertex ids (canonical representative of the final top-level group).
    """
    mapping: DataFrame | None = None
    cur = clean_symmetric(edges)
    for _ in range(levels):
        comm = louvain_move_phase(spark, cur, rounds=rounds)
        # left join: a community that became an ISOLATED super-vertex has
        # no edges at the next level and is absent from comm — keep its
        # previous label instead of dropping the vertices
        mapping = (
            comm
            if mapping is None
            else mapping.select(
                "id", F.col("community").alias("mid")
            ).join(
                comm.select(F.col("id").alias("mid"), "community"), "mid", "left"
            ).select("id", F.coalesce("community", "mid").alias("community"))
        )
        # contract: communities become vertices, drop intra-community edges
        cur = (
            cur.join(comm.select(F.col("id").alias("src"), F.col("community").alias("cs")), "src")
            .join(comm.select(F.col("id").alias("dst"), F.col("community").alias("cd")), "dst")
            .where(F.col("cs") != F.col("cd"))
            .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .distinct()
        )
        if cur.isEmpty():
            break
    assert mapping is not None
    return mapping
