"""Physical-plan audit for the headline operators.

Captures .explain("formatted") for the hot plans and asserts the
scale-critical properties the docs claim:

- parquet scans carry PushedFilters / pruned ReadSchema where expected
- no CartesianProduct / BroadcastNestedLoopJoin anywhere in the hot set
- the PageRank superstep joins are ShuffledHashJoin (static edge side
  never re-sorted), and the gather aggregate has a partial_ (map-side
  combine) phase — also in the step texts the engine sends for pagerank,
  for HITS's two-gather step, for the SSSP relaxation and for the
  densest peel round
- the triangle wedge join is degeneracy-oriented (no raw sym self-join)
- the PageRank set-up plan has no BroadcastExchange, and on a bucketed
  input no Exchange on the edge side

Writes the full explains + a PASS/FAIL summary to stdout; run as
    python tools/plan_audit.py > BENCH/runs/plan_audit_rN.txt
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from giraph_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def engine_step_plan(call) -> str:
    """explain("formatted") of the first superstep text (a ``WITH``
    query) that ``call`` sends to ``spark.sql``, planned in its engine
    session while the step's views are bound."""
    from pyspark.sql import SparkSession

    plans: list[str] = []
    sql = SparkSession.sql

    def recording(self, query, *args, **kwargs):
        df = sql(self, query, *args, **kwargs)
        if not plans and query.lstrip().startswith("WITH"):
            plans.append(explain_str(df))
        return df

    SparkSession.sql = recording
    try:
        call()
    finally:
        SparkSession.sql = sql
    return plans[0]


def main() -> None:
    spark = get_spark(app_name="plan-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    checks: list[tuple[str, bool, str]] = []

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # 1. filter + projection pushdown reach the parquet scan
    q = docs.where(F.col("n_chars") >= 200).select("doc_id", "lang")
    p = explain_str(q)
    checks.append(("pushdown: PushedFilters has the n_chars predicate",
                   "GreaterThanOrEqual(n_chars,200" in p, p))
    checks.append(("pushdown: ReadSchema pruned to 3 cols (no text/html)",
                   "text" not in p.split("ReadSchema")[1][:200], p))

    # 2. PageRank superstep plan: shuffle-hash joins + partial aggregate
    from giraph_spark.graph import out_degrees
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 500) for i in range(2000)], "src long, dst long")
    deg = out_degrees(edges)
    e = (edges.join(deg, "src")
         .withColumn("weight", F.lit(1.0) / F.col("out_degree"))
         .drop("out_degree").repartition(8, "src").persist())
    e.count()
    ranks = spark.createDataFrame(
        [(i, 1.0) for i in range(2000)], "id long, rank double")
    msgs = e.join(ranks.select(F.col("id").alias("src"), "rank")
                  .hint("shuffle_hash"), "src") \
            .select("dst", (F.col("rank") * F.col("weight")).alias("msg"))
    gathered = msgs.groupBy("dst").agg(F.sum("msg").alias("msg"))
    p = explain_str(gathered)
    # the per-superstep scatter join must be ShuffledHashJoin (the
    # static edge table is streamed, never re-sorted); the one-time
    # weight-prep join in the cached lineage may be anything
    checks.append(("pagerank scatter: ShuffledHashJoin (edges never re-sorted)",
                   "ShuffledHashJoin" in p, p))
    checks.append(("pagerank gather: map-side partial aggregate",
                   "partial_sum" in p or "HashAggregate" in p.split("Exchange")[0], p))
    checks.append(("pagerank: no nested-loop/cartesian",
                   "NestedLoop" not in p and "Cartesian" not in p, p))

    # 2b. the LIVE SQL-text superstep: the step text run_sql_supersteps
    # sends for pagerank — both joins ShuffledHashJoin, map-side partial
    # sum, no nested-loop/cartesian
    from giraph_spark.algorithms.hits import hits
    from giraph_spark.algorithms.pagerank import pagerank

    p = engine_step_plan(lambda: pagerank(spark, edges, max_supersteps=1))
    checks.append(("sql-text superstep: BOTH joins ShuffledHashJoin",
                   p.count("ShuffledHashJoin") >= 2, p))
    checks.append(("sql-text superstep: map-side partial aggregate",
                   "partial_sum" in p, p))
    checks.append(("sql-text superstep: no nested-loop/cartesian",
                   "NestedLoop" not in p and "Cartesian" not in p, p))

    # 2d. HITS's two-gather step (auth over the forward edges, hub over
    # the reversed edges from the new auth, CTEs of one statement)
    p = engine_step_plan(lambda: hits(spark, edges, max_supersteps=1))
    checks.append(("hits two-gather superstep: every join ShuffledHashJoin",
                   p.count("ShuffledHashJoin") >= 4 and "SortMergeJoin" not in p
                   and "BroadcastHashJoin" not in p, p))
    checks.append(("hits two-gather superstep: map-side partial aggregate",
                   "partial_sum" in p, p))
    checks.append(("hits two-gather superstep: no nested-loop/cartesian",
                   "NestedLoop" not in p and "Cartesian" not in p, p))

    # 2e. the send-on-change relaxation (SSSP) and the densest peel
    # round (edges joined to the alive set on both ends, then the update)
    from giraph_spark.algorithms.densest import densest_subgraph
    from giraph_spark.algorithms.paths import sssp

    for name, call, partial in (
        ("sssp relaxation superstep", lambda: sssp(spark, edges, 0, weight_col=None,
                                                   max_supersteps=1), "partial_min"),
        ("densest peel round", lambda: densest_subgraph(spark, edges, max_rounds=1),
         "partial_count"),
    ):
        p = engine_step_plan(call)
        checks.append((f"{name}: every join ShuffledHashJoin",
                       "ShuffledHashJoin" in p and "SortMergeJoin" not in p
                       and "BroadcastHashJoin" not in p, p))
        checks.append((f"{name}: map-side {partial} aggregate", partial in p, p))
        checks.append((f"{name}: no nested-loop/cartesian",
                       "NestedLoop" not in p and "Cartesian" not in p, p))

    # 2c. PageRank set-up: one job with no broadcast (the out-degree is a
    # window, the sink flag one groupBy), and a bucketed input's edge side
    # needs no exchange (the window's partition key is the bucket key)
    import tempfile

    from giraph_spark import storage
    from giraph_spark.algorithms.pagerank import _init_piece
    from giraph_spark.pregel import _engine_session, _rebind

    # planned as pagerank plans it: in an engine call's session, AQE off
    priv = _engine_session(edges.sparkSession)
    priv_edges = _rebind(edges, priv)
    with tempfile.TemporaryDirectory(prefix="plan_audit_") as loc:
        storage.write_bucketed_edges(edges, "audit_bucketed", buckets=8, location=loc)
        e_setup, state = _init_piece(priv_edges, 8)
        p = explain_str(state)
        e_setup.unpersist()
        checks.append(("pagerank setup: no BroadcastExchange (no degree/sink joins)",
                       "BroadcastExchange" not in p, p))
        e_setup, state = _init_piece(storage.read_bucketed_edges(priv, "audit_bucketed"), 8,
                                     pre_partitioned=True)
        p = explain_str(state)
        e_setup.unpersist()
        # the operator tree's lines under the cached edge table
        edge_side = p.split("\n\n", 1)[0].split("InMemoryRelation", 1)[-1]
        checks.append(("pagerank setup, bucketed input: no BroadcastExchange, no edge-side "
                       "Exchange",
                       "BroadcastExchange" not in p and "Bucketed: true" in p
                       and "Scan parquet" in edge_side and "Exchange" not in edge_side, p))

    # 3. triangles: oriented wedge join, no cartesian
    from giraph_spark.algorithms.triangles import _oriented, _triangle_list_from
    o = _oriented(edges, symmetrize_input=True)
    tris = _triangle_list_from(o)
    p = explain_str(tris)
    checks.append(("triangles: no nested-loop/cartesian in wedge join",
                   "NestedLoop" not in p and "Cartesian" not in p, p))

    # 4. LSH shingles: single scan shape, codegen transform (no Python UDF)
    from giraph_spark.text import shingles
    sh = shingles(docs, 3)
    p = explain_str(sh)
    checks.append(("shingles: no Python UDF (pure codegen)",
                   "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p))

    # 5. broadcast where expected: small dim join
    small = spark.createDataFrame([(i,) for i in range(10)], "src long")
    j = edges.join(F.broadcast(small), "src")
    p = explain_str(j)
    checks.append(("broadcast hint honored for small dim",
                   "BroadcastHashJoin" in p, p))

    print(f"# Plan audit @ {SF_DIR}\n")
    fails = 0
    for name, ok, _ in checks:
        print(("PASS  " if ok else "FAIL  ") + name)
        fails += 0 if ok else 1
    print(f"\n{len(checks) - fails}/{len(checks)} checks pass\n")
    print("=" * 72)
    for name, ok, p in checks:
        print(f"\n### {name} [{'PASS' if ok else 'FAIL'}]\n{p}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
