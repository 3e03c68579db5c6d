"""Distributed maximal independent set — deterministic Luby rounds.

Reference semantics (``giraph-block-app-8/.../algo/
DistributedIndependentSet.java:53,82,118``): greedy MIS coloring — per
round, vertices that locally win against all undecided neighbors join
the set; their neighbors leave; repeat until every vertex is decided.

Determinism: the reference uses vertex ids as priorities; we use a
per-round *portable* 31-bit mix of ``(id, round)`` (classic Luby) which
converges in O(log n) expected rounds on any graph and is reproducible
across runs, parallelism levels, AND engines — the same arithmetic is
expressible in ANSI SQL (murmur-style multiply-xorshift mod 2^31, no
engine-specific hash builtin), so a DuckDB oracle can replay the exact
round-by-round decisions. Ties cannot occur within a round modulo hash
collisions, which the id tiebreak resolves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import symmetrize, vertices_from_edges

_M31 = 1 << 31  # all mixing is mod 2^31: products stay < 2^63 (ANSI-safe)
_C1, _C2, _C3 = 2654435769, 2246822519, 3266489917


def luby_priority(id_col: Column, rnd: int) -> Column:
    """Portable per-round priority: murmur-style fmix on 31 bits.

    Pure integer arithmetic (+ * % xor >>) with every intermediate in
    [0, 2^63) — identical results in Spark SQL and any ANSI engine.
    """
    x = F.pmod(F.pmod(id_col, F.lit(_M31)) + F.lit(_C1) * F.lit(rnd + 1), F.lit(_M31))
    x = F.pmod(x * F.lit(_C2), F.lit(_M31))
    x = x.bitwiseXOR(F.shiftright(x, 13))
    x = F.pmod(x * F.lit(_C3), F.lit(_M31))
    return x.bitwiseXOR(F.shiftright(x, 16))


def luby_priority_sql(id_expr: str, rnd: int | str) -> str:
    """The identical priority as an ANSI/DuckDB SQL expression.

    ``rnd`` may be a Python int (constant-folded) or a SQL expression
    string (evaluated per row — e.g. a subspace column)."""
    if isinstance(rnd, str):
        c1_term = f"{_C1} * (({rnd}) + 1)"
    else:
        c1_term = str(_C1 * (rnd + 1))
    x1 = f"(({id_expr}) % {_M31} + {c1_term}) % {_M31}"
    x2 = f"(({x1}) * {_C2}) % {_M31}"
    x3 = f"xor(({x2}), ({x2}) >> 13)"
    x4 = f"(({x3}) * {_C3}) % {_M31}"
    return f"xor(({x4}), ({x4}) >> 16)"


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    symmetrize_input: bool = True,
    max_rounds: int = 60,
) -> DataFrame:
    """(id, in_set: boolean) — a maximal independent set of the
    undirected graph: no two set members are adjacent, every non-member
    has a set neighbor."""
    from giraph_spark.pregel import LineageCuts as _Cuts

    with _Cuts(spark.sparkContext) as cuts:
        e = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
        e = cuts.cut(e, "e")
        undecided = cuts.cut(vertices_from_edges(e), "undecided")
        n_undecided = undecided.count()
        # (id, in_set) rows: every vertex once as False, each winner once
        # more as True — the result reads this cut only
        in_set: DataFrame | None = None

        exhausted = True
        for rnd in range(max_rounds):
            if n_undecided == 0:
                exhausted = False
                break
            prio = undecided.select("id", luby_priority(F.col("id"), rnd).alias("p"))
            # active edges among undecided vertices, with both priorities
            ea = (
                e.join(prio.select(F.col("id").alias("src"), F.col("p").alias("psrc")), "src")
                .join(prio.select(F.col("id").alias("dst"), F.col("p").alias("pdst")), "dst")
            )
            # a vertex loses if some neighbor beats it (smaller priority, id tiebreak)
            beaten = (
                ea.where(
                    (F.col("pdst") < F.col("psrc"))
                    | ((F.col("pdst") == F.col("psrc")) & (F.col("dst") < F.col("src")))
                )
                .select(F.col("src").alias("id"))
                .distinct()
            )
            # prior winners are already folded into the in_set cut, so the
            # winners slot is safe to recycle first
            winners = cuts.cut(undecided.join(beaten, "id", "left_anti"), "winners")
            if in_set is None:  # the first round's undecided: every vertex
                in_set = undecided.select("id", F.lit(False).alias("in_set"))
            # coalesce: narrow union sums partition counts, so the in_set
            # accumulator would otherwise widen every round
            p_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
            in_set = cuts.cut(
                in_set.union(winners.select("id", F.lit(True))).coalesce(p_max), "in_set"
            )
            # winners and their neighbors become decided
            nbrs = (
                e.join(winners.withColumnRenamed("id", "src"), "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            undecided = cuts.cut(
                undecided.join(winners, "id", "left_anti").join(nbrs, "id", "left_anti"),
                "undecided",
            )
            n_undecided = undecided.count()

        if exhausted and n_undecided > 0:
            raise RuntimeError(
                "maximal_independent_set: round budget exhausted with "
                f"{n_undecided} vertices still undecided — result would "
                "violate maximality; raise max_rounds"
            )
        assert in_set is not None
        cuts.forget("in_set")  # backs the returned DataFrame
        return in_set.groupBy("id").agg(F.max("in_set").alias("in_set"))
