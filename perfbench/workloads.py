"""The benchmark workloads.

Each workload builds its inputs from the seed in ``setup`` (this counts in
``setup_s``), runs engine calls in ``run_for`` (the timed region), and
afterwards checks every output against ``reference`` in ``check``. Every
call into the engine is a tagged span of the tracer, so its wall time
and, in traced mode, its Spark counters are known.

- ``crawl``: the paper's pipeline on a synthetic crawl. Short supersteps,
  so the driver's share of each superstep shows; the only workload that
  crosses the Python-UDF (Arrow) boundary.
- ``small-graphs``: two clients in a closed loop on one session, each
  running a PageRank that writes snapshots, a resume of it, and a WCC or
  an LPA run, five supersteps each, on small skewed graphs stored as
  bucketed tables. Per-run fixed cost dominates, and concurrent runs
  share the engine's release and AQE paths.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
from pyspark.sql import functions as F

import reference as ref
from giraph_spark import corpus, datasets, storage
from giraph_spark.algorithms.lpa import label_propagation
from giraph_spark.algorithms.pagerank import pagerank
from giraph_spark.algorithms.triangles import triangles_per_vertex
from giraph_spark.algorithms.wcc import connected_components
from giraph_spark.session import suggest_num_partitions

PAGERANK_TOL = 1e-6  # mean |delta| per vertex, the paper's convergence target
TINY_PAGERANK_TOL = 1e-4  # the self-test's tiny crawl, to keep it short
PAGERANK_MAX = 200
# small-graphs runs every algorithm for this many supersteps, so each call
# is a few seconds of mostly fixed cost (Tier-1 tests run toy graphs so)
SMALL_SUPERSTEPS = 5
RANK_ATOL = 1e-6


def _series(df, value: str):
    pdf = df.select(F.col("id").cast("long").alias("id"), value).toPandas()
    return pdf.set_index("id")[value]


class Workload:
    """Inputs, timed rounds and output checks of one workload."""

    name = ""

    def __init__(self, spark, tracer, seed: int, tiny: bool, tmp: str, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.tiny = tiny
        self.tmp = tmp
        self.cores = cores
        self.failures: list[str] = []
        self.checks: list[str] = []
        self.checkpoint_dirs: list[str] = []  # one per PageRank-and-resume pair

    def partitions(self, n_edges: int) -> int:
        return suggest_num_partitions(n_edges, self.cores)

    def run_for(self, seconds: float) -> None:
        """Run whole rounds; start another only if it should end within
        ``seconds`` of the first, judged by the last round's length."""
        start = time.time()
        while True:
            t = time.time()
            self.round()
            if time.time() - start + (time.time() - t) > seconds:
                return

    def timed_call(self, name: str, fn, **attrs):
        """Run one engine call as a tagged span. ``fn`` returns the result
        already materialized, plus its ``PregelRun`` if it has one."""
        with self.tracer.span(name, tag=True, **attrs) as rec:
            out, run = fn()
            rec["ok"] = True
        if run is not None:
            secs = [h["seconds"] for h in run.history]
            rec["supersteps"] = run.supersteps
            rec["superstep_count"] = len(secs)
            rec["superstep_seconds"] = secs
        return out, run

    def edges_per_call(self, rec: dict) -> int:
        raise NotImplementedError

    def release_inputs(self) -> None:
        """Drop what ``setup`` cached, before counting leftover RDDs."""


class Crawl(Workload):
    name = "crawl"

    def setup(self, rep: int) -> None:
        self.n_pages = 2_000 if self.tiny else 5_000
        self.pages_path = os.path.join(self.tmp, f"pages-{rep}.parquet")
        with self.tracer.span("corpus.generate"):
            corpus.synth_corpus(self.spark, n_pages=self.n_pages, seed=self.seed).write.mode(
                "overwrite"
            ).parquet(self.pages_path)
        self.results: list[dict] = []

    def round(self) -> None:
        spark = self.spark

        def extract():
            edges = corpus.build_edges(spark.read.parquet(self.pages_path)).persist()
            self.n_edges = edges.count()
            return edges, None

        edges, _ = self.timed_call("extract", extract)
        p = self.partitions(self.n_edges)
        pr, _ = self.timed_call(
            "pagerank",
            lambda: _counted(
                pagerank(
                    spark, edges, convergence="l1_mean", max_supersteps=PAGERANK_MAX,
                    tolerance=TINY_PAGERANK_TOL if self.tiny else PAGERANK_TOL,
                    num_partitions=p,
                )
            ),
        )
        tri, _ = self.timed_call("triangles", lambda: _triangles(edges))
        self.results.append({"edges": edges, "pagerank": pr, "triangles": tri})

    def edges_per_call(self, rec: dict) -> int:
        return self.n_edges

    def check(self) -> None:
        src_pages, dst_pages = ref.crawl_links(self.n_pages, self.seed)
        want_profile = ref.degree_profile(src_pages, dst_pages)
        for res in self.results:
            pdf = res["edges"].toPandas()
            src, dst = pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
            if ref.degree_profile(src, dst) != want_profile:
                raise AssertionError("extract: edge table differs from the generated links")
            self.checks.append("extract")
            g = ref.Graph(src, dst)
            pr = res["pagerank"]
            ref.same_values("pagerank", _series(pr.vertices, "rank"),
                            ref.pagerank(g, pr.supersteps), atol=RANK_ATOL)
            if not pr.converged:
                raise AssertionError("pagerank: did not reach the tolerance")
            self.checks.append("pagerank")
            ref.same_values("triangles", _series(res["triangles"], "triangles"),
                            ref.triangles(src, dst))
            self.checks.append("triangles")

    def release_inputs(self) -> None:
        for res in self.results:
            res["edges"].unpersist()
            res["triangles"].unpersist()
        self.results = []


class SmallGraphs(Workload):
    name = "small-graphs"
    # each client runs a PageRank that writes snapshots, a resume of it
    # from the newest one, and one WCC (client 0) or LPA (client 1) run
    cycles = (("pagerank", "resume", "wcc"), ("lpa", "pagerank", "resume"))
    interval = 3  # snapshots at supersteps 3 and 5, and 7 after the resume
    resume_supersteps = 2

    def setup(self, rep: int) -> None:
        self.location = os.path.join(self.tmp, "warehouse")
        self.graphs = []  # (cached edges, edge count, bucketed table)
        # sizes are fixed and the seed only changes the edges, so every
        # seed runs the same calls on graphs of the same size (about 3.2k
        # and 7.2k edges)
        for k, n_vertices in enumerate((40, 80) if self.tiny else (200, 450)):
            with self.tracer.span("datasets.generate"):
                g = datasets.synthetic_edges(
                    self.spark, n_vertices=n_vertices, seed=self.seed * 100 + k, partitions=4
                ).persist()
                n_edges = g.count()
            table = f"perfbench_graph_{k}"
            with self.tracer.span("storage.write"):
                storage.write_bucketed_edges(
                    g, table, buckets=self.partitions(n_edges), location=self.location
                )
            self.graphs.append((g, n_edges, table))
        self.outputs: list[tuple] = []  # (call, graph, supersteps, pandas Series)

    def run_call(self, call: str, gi: int, client: int, ckpt: str) -> None:
        spark = self.spark
        edges, n_edges, table = self.graphs[gi]
        p = self.partitions(n_edges)
        snap = dict(
            tolerance=None, checkpoint_dir=ckpt, checkpoint_interval=self.interval,
            num_partitions=p, pre_partitioned=True,
        )
        fns = {
            "pagerank": lambda: pagerank(
                spark, storage.read_bucketed_edges(spark, table),
                max_supersteps=SMALL_SUPERSTEPS, **snap,
            ),
            "resume": lambda: pagerank(
                spark, storage.read_bucketed_edges(spark, table), resume=True,
                max_supersteps=SMALL_SUPERSTEPS + self.resume_supersteps, **snap,
            ),
            "wcc": lambda: connected_components(
                spark, edges, max_supersteps=SMALL_SUPERSTEPS, num_partitions=p
            ),
            "lpa": lambda: label_propagation(
                spark, edges, max_supersteps=SMALL_SUPERSTEPS, num_partitions=p
            ),
        }
        value = {"pagerank": "rank", "resume": "rank", "wcc": "component", "lpa": "label"}[call]
        try:
            run, _ = self.timed_call(call, lambda: _counted(fns[call]()), graph=gi, client=client)
            self.outputs.append((call, gi, run.supersteps, _series(run.vertices, value)))
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            self.failures.append(f"{call}[graph {gi}]: {type(exc).__name__}: {exc}"[:500])

    def round(self) -> None:
        """Both clients at once, each issuing its next call when the last
        returns (a closed loop). Client c runs PageRank and its resume on
        graph c, and its other call on the other graph."""
        errors: list[BaseException] = []
        r = len(self.checkpoint_dirs) // len(self.cycles)

        def client(c: int) -> None:
            try:
                ckpt = os.path.join(self.tmp, f"checkpoints-{r}-{c}")
                self.checkpoint_dirs.append(ckpt)
                for call in self.cycles[c]:
                    gi = c if call in ("pagerank", "resume") else 1 - c
                    self.run_call(call, gi, c, ckpt)
            except BaseException as exc:  # noqa: BLE001 - re-raised in the main thread
                errors.append(exc)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(len(self.cycles))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def edges_per_call(self, rec: dict) -> int:
        return self.graphs[rec["graph"]][1]

    def check(self) -> None:
        graphs = []
        for _, n_edges, table in self.graphs:
            src, dst = ref.parquet_edges(os.path.join(self.location, table, "*.parquet"))
            if len(src) != n_edges:
                raise AssertionError(f"storage: table {table} lost or gained edges")
            graphs.append(ref.Graph(src, dst))
        self.checks.append("storage")
        want = {
            "pagerank": ref.pagerank, "resume": ref.pagerank,
            "wcc": ref.components, "lpa": ref.label_propagation,
        }
        cache: dict[tuple, object] = {}
        for call, gi, supersteps, got in self.outputs:
            key = (want[call], gi, supersteps)
            if key not in cache:
                cache[key] = want[call](graphs[gi], supersteps)
            ref.same_values(f"{call}[graph {gi}]", got, cache[key],
                            atol=RANK_ATOL if call in ("pagerank", "resume") else None)
            if call == "resume" and supersteps != SMALL_SUPERSTEPS + self.resume_supersteps:
                raise AssertionError(f"resume: ran to superstep {supersteps}")
            self.checks.append(call)

    def release_inputs(self) -> None:
        for g, _, _ in self.graphs:
            g.unpersist()


def _counted(run):
    """Materialize a ``PregelRun``'s vertices inside the timed call."""
    run.vertices.count()
    return run, run


def _triangles(edges):
    out = triangles_per_vertex(edges)  # returns persisted and populated
    out.count()
    return out, None


WORKLOADS = {w.name: w for w in (Crawl, SmallGraphs)}
