"""Independent references for every output the benchmark checks.

numpy and DuckDB only: none of this imports the engine's algorithms or
Spark. Inputs are plain ``src``/``dst`` int64 arrays. Vertex ids are
mapped to positions in ``np.unique`` order, so "smallest label" and
"smallest id" agree.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


class Graph:
    """A directed edge list with dense vertex positions."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        self.s, self.t = inv[: len(src)], inv[len(src):]
        self.n = len(self.ids)

    def symmetric(self) -> tuple[np.ndarray, np.ndarray]:
        """Both directions of every edge, deduplicated."""
        a = np.concatenate([self.s, self.t])
        b = np.concatenate([self.t, self.s])
        key = np.unique(a * self.n + b)
        return key // self.n, key % self.n


def pagerank(g: Graph, supersteps: int, damping: float = 0.85) -> pd.Series:
    """Blocks PageRank: every rank starts at 1.0, sink mass is spread
    evenly, total mass stays N (the semantics of
    ``tests/oracles.py:pagerank_oracle``, vectorized)."""
    out = np.bincount(g.s, minlength=g.n).astype(np.float64)
    w = 1.0 / out[g.s]
    sink = out == 0
    r = np.ones(g.n)
    for _ in range(supersteps):
        all_sum, sink_sum = r.sum(), r[sink].sum()
        msgs = np.bincount(g.t, weights=r[g.s] * w, minlength=g.n)
        r = damping * (msgs + sink_sum / g.n) + (1 - damping) * all_sum / g.n
    return pd.Series(r, index=g.ids)


def components(g: Graph, supersteps: int | None = None) -> pd.Series:
    """Weakly connected components, labelled by their smallest id. With
    ``supersteps``, the label after that many rounds of min-propagation:
    the smallest id within that many hops."""
    lab = np.arange(g.n)
    rounds = 0
    while supersteps is None or rounds < supersteps:
        new = lab.copy()
        np.minimum.at(new, g.t, lab[g.s])
        np.minimum.at(new, g.s, lab[g.t])
        if supersteps is None:
            new = new[new]  # pointer jumping: new[v] is in v's component
        if np.array_equal(new, lab):
            break
        lab, rounds = new, rounds + 1
    return pd.Series(g.ids[lab], index=g.ids)


def label_propagation(g: Graph, supersteps: int) -> pd.Series:
    """Synchronous LPA on the symmetric closure: each vertex takes its
    neighbours' most frequent label, ties to the smallest."""
    s, t = g.symmetric()
    lab = np.arange(g.n)
    for _ in range(supersteps):
        key, cnt = np.unique(t * g.n + lab[s], return_counts=True)
        dst, label = key // g.n, key % g.n
        order = np.lexsort((label, -cnt, dst))
        d = dst[order]
        first = order[np.concatenate(([True], d[1:] != d[:-1]))]
        new = lab.copy()
        new[dst[first]] = label[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return pd.Series(g.ids[lab], index=g.ids)


_TRIANGLES_SQL = """
WITH e AS (
  SELECT DISTINCT a AS src, b AS dst FROM (
    SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges)
  WHERE a <> b),
deg AS (SELECT src AS v, count(*) AS d FROM e GROUP BY src),
o AS (
  SELECT e.src, e.dst FROM e
  JOIN deg x ON e.src = x.v JOIN deg y ON e.dst = y.v
  WHERE x.d < y.d OR (x.d = y.d AND e.src < e.dst)),
tri AS (
  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
  JOIN e ON e.src = o1.dst AND e.dst = o2.dst),
corner AS (
  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
SELECT deg.v AS id, count(corner.v) AS triangles
FROM deg LEFT JOIN corner ON deg.v = corner.v
GROUP BY deg.v
"""


def triangles(src: np.ndarray, dst: np.ndarray) -> pd.Series:
    """Triangles through each vertex of the undirected simple graph, by a
    degree-ordered wedge join in DuckDB."""
    con = duckdb.connect()
    try:
        con.register("edges", pd.DataFrame({"src": src, "dst": dst}))
        df = con.execute(_TRIANGLES_SQL).df()
    finally:
        con.close()
    return pd.Series(df["triangles"].to_numpy(np.int64), index=df["id"].to_numpy())


def parquet_edges(glob: str) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) of a parquet edge table, read by DuckDB, not Spark."""
    con = duckdb.connect()
    try:
        df = con.execute(f"SELECT src, dst FROM read_parquet('{glob}')").df()
    finally:
        con.close()
    return df["src"].to_numpy(np.int64), df["dst"].to_numpy(np.int64)


def crawl_links(n_pages: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The page-to-page links the corpus generator writes into the html,
    as (source page, target page) with duplicates and self links dropped:
    what link extraction must recover, computed without parsing html."""
    from giraph_spark.corpus import _link_targets, _out_degree

    i = np.arange(n_pages, dtype=np.int64)
    deg = _out_degree(seed, i)
    src = np.repeat(i, deg)
    starts = np.repeat(np.cumsum(deg) - deg, deg)
    k = (np.arange(len(src), dtype=np.int64) - starts).astype(np.uint64)
    dst = _link_targets(seed, src, k, n_pages)
    key = np.unique(src[src != dst] * n_pages + dst[src != dst])
    return key // n_pages, key % n_pages


def degree_profile(src: np.ndarray, dst: np.ndarray) -> tuple:
    """Edge count and the sorted out- and in-degree sequences: equal for
    two edge lists that differ only by a renaming of the vertices."""
    _, out = np.unique(src, return_counts=True)
    _, inn = np.unique(dst, return_counts=True)
    return len(src), tuple(np.sort(out)), tuple(np.sort(inn))


def same_values(name: str, got: pd.Series, want: pd.Series, atol: float | None = None) -> None:
    """Raise unless ``got`` and ``want`` cover the same ids with equal
    values (within ``atol`` when given, else exactly)."""
    got = got.sort_index()
    want = want.sort_index()
    if not np.array_equal(got.index.to_numpy(), want.index.to_numpy()):
        raise AssertionError(
            f"{name}: vertex sets differ ({len(got)} vs {len(want)} ids)"
        )
    g, w = got.to_numpy(), want.to_numpy()
    ok = np.allclose(g, w, rtol=0.0, atol=atol) if atol is not None else np.array_equal(g, w)
    if not ok:
        bad = int(np.sum(~np.isclose(g, w, rtol=0.0, atol=atol or 0.0)))
        raise AssertionError(f"{name}: {bad} of {len(g)} values differ from the reference")
