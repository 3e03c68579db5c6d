"""Per-round benchmark harness.

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...}

Headline = the north-rule metric: PageRank to 1e-6 mean-per-vertex L1
convergence on the Common-Crawl-style synthetic edge table at SF=0.1
(SF maps to pages as ``pages = SF * 1e6``), reported as supersteps/hour
and edges-processed/sec alongside the wall time. The remaining queries
cover each operator family (WCC, LPA, triangles, text dedup, vector
search) at the same SF. Scaling evidence across two parallelism levels
lives in ``tools/bench_scaling.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from giraph_spark.algorithms.lpa import label_propagation  # noqa: E402
from giraph_spark.algorithms.pagerank import pagerank  # noqa: E402
from giraph_spark.algorithms.triangles import triangles_per_vertex  # noqa: E402
from giraph_spark.algorithms.wcc import connected_components  # noqa: E402
from giraph_spark.corpus import build_edges, synth_corpus  # noqa: E402
from giraph_spark.dedup import minhash_lsh_pairs  # noqa: E402
from giraph_spark.embeddings import ivf_topk  # noqa: E402
from giraph_spark.session import get_spark, suggest_num_partitions  # noqa: E402
from giraph_spark.text import quality_scores  # noqa: E402

PAGERANK_TOL = 1e-6  # mean |delta| per vertex (L1 / N)
PAGERANK_MAX = 120


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_pages = max(1000, int(sf * 1_000_000))

    spark = get_spark(app_name="giraph-spark-bench", cores=cpus,
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # --- warm-up (disclosed, timed as one overlapped phase) ----------------
    # Two one-time costs a production pipeline amortizes over hours:
    # (a) forking the 32 Python workers + their first Arrow batch (the
    #     worker daemon pre-imports pandas/numpy/pyarrow — see
    #     giraph_spark/daemon_warm.py — so this is fork + first-batch
    #     plumbing, not 32x contended imports), and
    # (b) C2-compiling the superstep join/agg pipeline (~4-5 s; same rule
    #     as the scaling protocol's excluded warm-up supersteps).
    # (a) is Python-process work and (b) is pure JVM codegen on a
    # JVM-generated edge table (no Python workers involved), so the two
    # warm-ups run CONCURRENTLY on separate driver threads and the phase
    # costs max(a, b) instead of a + b (measured 11.2 s -> ~6 s). The
    # pagerank thread turns AQE off in its own cloned session only
    # (pregel.engine_call), so the corpus count plans with the
    # session's conf whatever the interleaving.
    import threading

    warm_errs: list[BaseException] = []

    def _py_warm() -> None:
        try:
            build_edges(synth_corpus(spark, n_pages=2_000, seed=7)).count()
        except BaseException as exc:  # noqa: BLE001
            warm_errs.append(exc)

    def _jit_warm() -> None:
        try:
            toy = spark.range(0, 20_000).select(
                (F.col("id") % 3_000).alias("src"),
                ((F.col("id") * 2654435761) % 3_000).alias("dst"),
            )
            pagerank(spark, toy, damping=0.85, max_supersteps=6,
                     tolerance=None, num_partitions=8)
        except BaseException as exc:  # noqa: BLE001
            warm_errs.append(exc)

    t0 = time.time()
    threads = [threading.Thread(target=_py_warm),
               threading.Thread(target=_jit_warm)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if warm_errs:
        raise warm_errs[0]
    timings["warmup"] = time.time() - t0

    # --- corpus -> edge table (Arrow-vectorized extraction path) ----------
    t0 = time.time()
    pages = synth_corpus(spark, n_pages=n_pages, seed=42)
    edges = build_edges(pages).persist()
    n_edges = edges.count()
    timings["corpus_build_edges"] = time.time() - t0
    extra["n_pages"] = n_pages
    extra["n_edges"] = n_edges

    # size the superstep shuffles to the data (measured: 8 partitions beat
    # 32 by 1.6x on this sf0.1 input; 126M edges want 64)
    nparts = suggest_num_partitions(n_edges, cpus)
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    extra["num_partitions"] = nparts

    # --- headline: PageRank to 1e-6 convergence ---------------------------
    t0 = time.time()
    pr = pagerank(
        spark,
        edges,
        damping=0.85,
        max_supersteps=PAGERANK_MAX,
        tolerance=PAGERANK_TOL,
        convergence="l1_mean",
        num_partitions=nparts,
    )
    pr_secs = time.time() - t0
    timings["pagerank_to_1e-6"] = pr_secs
    n_vertices = pr.vertices.count()
    extra["n_vertices"] = n_vertices
    extra["pagerank_supersteps"] = pr.supersteps
    extra["pagerank_converged"] = bool(pr.converged)
    extra["pagerank_supersteps_per_hour"] = round(pr.supersteps / pr_secs * 3600, 1)
    extra["pagerank_edges_per_sec"] = round(pr.supersteps * n_edges / pr_secs, 1)

    # --- remaining operator families --------------------------------------
    t0 = time.time()
    wcc = connected_components(spark, edges, num_partitions=nparts)
    wcc.vertices.count()
    timings["wcc"] = time.time() - t0
    extra["wcc_supersteps"] = wcc.supersteps

    t0 = time.time()
    lpa = label_propagation(spark, edges, max_supersteps=5,
                            num_partitions=nparts)
    lpa.vertices.count()
    timings["lpa_5"] = time.time() - t0

    t0 = time.time()
    tri_total = triangles_per_vertex(edges).agg(F.sum("triangles")).collect()[0][0]
    timings["triangles"] = time.time() - t0
    extra["triangles_sum"] = int(tri_total or 0)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    minhash_lsh_pairs(docs, threshold=0.05, bands=8, n=3).count()
    timings["minhash_lsh"] = time.time() - t0

    t0 = time.time()
    quality_scores(docs).count()
    timings["text_quality"] = time.time() - t0

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = emb.where(F.col("vec_id") < 16)
    t0 = time.time()
    ivf_topk(emb, q, cent, k=10, n_probe=4).count()
    timings["ann_ivf_topk"] = time.time() - t0

    edges.unpersist()
    total = round(sum(timings.values()), 2)
    out = {
        "metric": "giraph_spark_headline_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
