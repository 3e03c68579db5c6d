"""Distributed maximal matching — deterministic greedy Luby rounds.

Maximal matching is MIS on the line graph: per round, an edge joins the
matching iff it is the locally best undecided edge at BOTH endpoints;
matched endpoints retire all their other edges; repeat until no active
edge remains. This is the classic O(log n)-round distributed greedy
matching (Israeli-Itai shape) the reference's Pregel model would run
with per-vertex proposal messages (same round structure as its MIS,
``giraph-block-app-8/.../algo/DistributedIndependentSet.java:53,82``).

Determinism & portability: edge priority is the same portable 31-bit
mix used by :mod:`giraph_spark.algorithms.mis` applied to a packed edge
key, with lexicographic (priority, a, b) tie-break — every round's
decisions replay bit-identically in ANSI SQL, so a DuckDB oracle can
verify the full run (``matching_sql``).

Scale shape per round: ONE groupBy per endpoint-incidence (map-side
combined min(struct)) + anti-joins keyed on vertex id — no neighbor
lists shipped, no quadratic fan-out; late rounds touch a geometrically
shrinking active set (each round matches >= a constant fraction of
active edges in expectation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.algorithms.mis import luby_priority, luby_priority_sql

_EDGE_MIX = 1000003  # packs (a, b) into the 31-bit priority domain


def _canonical(edges: DataFrame) -> DataFrame:
    """Distinct undirected pairs (a < b); self-loops dropped."""
    a = F.least("src", "dst").alias("a")
    b = F.greatest("src", "dst").alias("b")
    return (
        edges.select(a, b)
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 48,
) -> DataFrame:
    """(a, b) — the matched pairs of a maximal matching: no vertex
    appears twice, and every unmatched edge has a matched endpoint.

    Deterministic across runs, parallelism levels, and engines (the
    per-round winner is the lexicographic min of (priority, a, b) at
    both endpoints). Raises if ``max_rounds`` is exhausted with edges
    still active — a silently partial matching would violate
    maximality.
    """
    from giraph_spark.pregel import LineageCuts as _Cuts

    with _Cuts(spark.sparkContext) as cuts:
        active = cuts.cut(_canonical(edges), "active")
        n_active = active.count()
        matched: DataFrame | None = None

        exhausted = True
        for rnd in range(max_rounds):
            if n_active == 0:
                exhausted = False
                break
            ek = F.pmod(F.col("a") * F.lit(_EDGE_MIX) + F.col("b"), F.lit(1 << 31))
            pr = active.select(
                "a", "b", F.struct(luby_priority(ek, rnd).alias("p"), "a", "b").alias("s")
            )
            inc = pr.select(F.col("a").alias("v"), "s").unionByName(
                pr.select(F.col("b").alias("v"), "s")
            )
            best = inc.groupBy("v").agg(F.min("s").alias("best"))
            winners = (
                pr.join(
                    best.select(F.col("v").alias("a"), F.col("best").alias("ba")), "a"
                )
                .join(best.select(F.col("v").alias("b"), F.col("best").alias("bb")), "b")
                .where((F.col("s") == F.col("ba")) & (F.col("s") == F.col("bb")))
                .select("a", "b")
            )
            winners = cuts.cut(winners, "winners")
            p_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
            matched = cuts.cut(
                winners
                if matched is None
                else matched.unionByName(winners).coalesce(p_max),
                "matched",
            )
            mv = winners.select(F.col("a").alias("id")).unionByName(
                winners.select(F.col("b").alias("id"))
            )
            active = cuts.cut(
                active.join(mv.withColumnRenamed("id", "a"), "a", "left_anti").join(
                    mv.withColumnRenamed("id", "b"), "b", "left_anti"
                ),
                "active",
            )
            n_active = active.count()

        if exhausted and n_active > 0:
            raise RuntimeError(
                "maximal_matching: round budget exhausted with "
                f"{n_active} edges still active — result would violate "
                "maximality; raise max_rounds"
            )
        cuts.forget("matched")  # backs the returned DataFrame
        if matched is None:
            return spark.createDataFrame([], "a long, b long")
        return matched.select("a", "b")


def matching_sql(edges_cte: str, rounds: int) -> str:
    """Unrolled ANSI-SQL replay of :func:`maximal_matching` — valid
    when vertex ids fit in 12 bits (the demo graphs), where the packed
    ordering key ``p*2^24 + a*2^12 + b`` is order-isomorphic to the
    engine's lexicographic min(struct(p, a, b))."""
    parts = [
        edges_cte,
        """a0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)""",
    ]
    for r in range(rounds):
        pexpr = luby_priority_sql(f"(a * {_EDGE_MIX} + b) % {1 << 31}", r)
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT a, b, "
            f"({pexpr}) * 16777216 + a * 4096 + b AS k FROM a{r})"
        )
        parts.append(
            f"""best{r} AS (
  SELECT v, min(k) AS bk FROM (
    SELECT a AS v, k FROM p{r} UNION ALL SELECT b AS v, k FROM p{r}
  ) GROUP BY v)"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
  SELECT p.a, p.b FROM p{r} p
  JOIN best{r} ba ON ba.v = p.a AND ba.bk = p.k
  JOIN best{r} bb ON bb.v = p.b AND bb.bk = p.k)"""
        )
        parts.append(
            f"""mv{r} AS (SELECT a AS id FROM w{r} UNION SELECT b FROM w{r})"""
        )
        parts.append(
            f"""a{r + 1} AS MATERIALIZED (
  SELECT a, b FROM a{r}
  WHERE a NOT IN (SELECT id FROM mv{r}) AND b NOT IN (SELECT id FROM mv{r}))"""
        )
    allw = " UNION ALL ".join(f"SELECT a, b FROM w{r}" for r in range(rounds))
    return "WITH " + ",\n".join(parts) + f"\nSELECT a, b FROM ({allw})"
