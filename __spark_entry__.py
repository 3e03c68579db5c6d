"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (PageRank over the sf0.001 demo graph).
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — matching ANSI SQL per query, runnable by DuckDB on the
same parquet tables; generated programmatically (iterative algorithms
are unrolled into CTE chains).

Column names and rounding are kept identical on both sides — the
driver's compare sorts columns by name and hashes values.
"""

from __future__ import annotations

import functools as _functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giraph_spark.algorithms.lpa import label_propagation, max_label_propagation
from giraph_spark.algorithms.pagerank import pagerank
from giraph_spark.algorithms.paths import bfs, sssp
from giraph_spark.algorithms.triangles import triangle_count, triangles_per_vertex
from giraph_spark.algorithms.wcc import connected_components
from giraph_spark.algorithms.mis import luby_priority_sql
from giraph_spark.corpus import (
    build_edges,
    corpus_parquet,
    synth_corpus,
    url_mapping,
    with_extracted_text,
)
from giraph_spark.datasets import (
    DEMO_EDGES_SQL,
    SCC_EDGES_SQL,
    demo_edges,
    rmat_sql,
    with_weight,
)
from giraph_spark.dedup import (
    SIMHASH_BITS,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_signatures,
)
from giraph_spark.embeddings import cosine_topk, ivf_assign
from giraph_spark.graph import (
    in_degrees,
    normalize_edge_weights,
    out_degrees,
    remove_asym_edges,
    symmetrize,
)
from giraph_spark.text import (
    STOPWORDS,
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)

NP = 8  # shuffle partitions for the small correctness-scale pregel runs

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

# AS MATERIALIZED everywhere a CTE is referenced more than once — DuckDB
# inlines plain CTEs, which makes chained iterative plans exponential
_GRAPH = f"""
edges AS MATERIALIZED ({DEMO_EDGES_SQL}),
verts AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)
""".strip()

_SYM = """
sym AS MATERIALIZED (SELECT DISTINCT * FROM (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
))
""".strip()

_TOKENS = """
t AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
)
""".strip()

_POS_TOKENS = """
tok AS (
  SELECT doc_id, unnest(r) AS token, generate_subscripts(r, 1) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS r
        FROM documents)
)
""".strip()

_SHINGLES3 = """
sh AS (
  SELECT DISTINCT s.doc_id,
         s.token || ' ' || t2.token || ' ' || t3.token AS shingle
  FROM tok s
  JOIN tok t2 ON t2.doc_id = s.doc_id AND t2.pos = s.pos + 1
  JOIN tok t3 ON t3.doc_id = s.doc_id AND t3.pos = s.pos + 2
)
""".strip()

_EMB_UNNEST = """
u AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id)
""".strip()


def _pagerank_sql(iters: int, damping: float = 0.85) -> str:
    d = damping
    parts = [
        _GRAPH,
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src)",
        "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT sum(r.rank) AS all_sum,
         coalesce(sum(CASE WHEN d.src IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM r{k} r LEFT JOIN deg d ON d.src = r.id
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.rank / d.outdeg) AS msg
  FROM edges e JOIN r{k} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * (coalesce(m.msg, 0.0) + (SELECT sink_sum FROM s{k}) / (SELECT n FROM nv))
       + {1.0 - d} * (SELECT all_sum FROM s{k}) / (SELECT n FROM nv) AS rank
  FROM r{k} v LEFT JOIN m{k} m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 7) AS rank FROM r{iters}"
    )


def _pagerank_weighted_sql(iters: int, damping: float = 0.85) -> str:
    d = damping
    parts = [
        _GRAPH,
        "w AS MATERIALIZED (SELECT src, dst, CAST((src * 7 + dst * 13) % 3 + 1 AS DOUBLE) AS weight FROM edges)",
        """wn AS MATERIALIZED (
  SELECT src, dst, weight / sum(weight) OVER (PARTITION BY src) AS weight FROM w
)""",
        "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM verts)",
        "hasout AS MATERIALIZED (SELECT DISTINCT src FROM edges)",
        "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT sum(r.rank) AS all_sum,
         coalesce(sum(CASE WHEN h.src IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM r{k} r LEFT JOIN hasout h ON h.src = r.id
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.rank * e.weight) AS msg
  FROM wn e JOIN r{k} r ON r.id = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * (coalesce(m.msg, 0.0) + (SELECT sink_sum FROM s{k}) / (SELECT n FROM nv))
       + {1.0 - d} * (SELECT all_sum FROM s{k}) / (SELECT n FROM nv) AS rank
  FROM r{k} v LEFT JOIN m{k} m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 7) AS rank FROM r{iters}"
    )


def _lpa_parts(iters: int) -> list[str]:
    parts = [_GRAPH, _SYM, "l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)"]
    for k in range(iters):
        parts.append(
            f"""c{k} AS MATERIALIZED (
  SELECT e.dst, l.label, count(*) AS cnt
  FROM sym e JOIN l{k} l ON l.id = e.src
  GROUP BY e.dst, l.label
)"""
        )
        parts.append(
            f"""w{k} AS MATERIALIZED (
  SELECT dst, label,
         row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
  FROM c{k}
)"""
        )
        parts.append(
            f"""l{k + 1} AS MATERIALIZED (
  SELECT v.id, coalesce(m.label, v.label) AS label
  FROM l{k} v LEFT JOIN (SELECT dst, label FROM w{k} WHERE rn = 1) m ON m.dst = v.id
)"""
        )
    return parts


def _lpa_weighted_sql(iters: int) -> str:
    """LPA with integer edge-weight votes over the weighted symmetric
    closure (max weight per pair, matching symmetrize_weighted)."""
    parts = [
        _GRAPH,
        """wsym AS MATERIALIZED (
  SELECT src, dst, max(w)::BIGINT AS w FROM (
    SELECT src, dst, ((src * 7 + dst * 13) % 3 + 1) AS w FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst, ((src * 7 + dst * 13) % 3 + 1) AS w FROM edges
  ) GROUP BY src, dst)""",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""c{k} AS MATERIALIZED (
  SELECT e.dst, l.label, sum(e.w) AS cnt
  FROM wsym e JOIN l{k} l ON l.id = e.src
  GROUP BY e.dst, l.label
)"""
        )
        parts.append(
            f"""w{k} AS MATERIALIZED (
  SELECT dst, label,
         row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
  FROM c{k}
)"""
        )
        parts.append(
            f"""l{k + 1} AS MATERIALIZED (
  SELECT v.id, coalesce(m.label, v.label) AS label
  FROM l{k} v LEFT JOIN (SELECT dst, label FROM w{k} WHERE rn = 1) m ON m.dst = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT id, label FROM l{iters}"
    )


def _lpa_sql(iters: int) -> str:
    return (
        "WITH " + ",\n".join(_lpa_parts(iters)) + f"\nSELECT id, label FROM l{iters}"
    )


def _modularity_sql(iters: int) -> str:
    """Newman modularity of the LPA(iters) partition over the symmetric
    graph — intra-edge fraction minus the degree-mass null model."""
    lab = f"l{iters}"
    parts = _lpa_parts(iters) + [
        f"""mm AS MATERIALIZED (
  SELECT count(*)::DOUBLE AS two_m,
         sum(CASE WHEN a.label = b.label THEN 1.0 ELSE 0.0 END) AS intra
  FROM sym e JOIN {lab} a ON a.id = e.src JOIN {lab} b ON b.id = e.dst)""",
        f"""dcm AS MATERIALIZED (
  SELECT l.label, count(*)::DOUBLE AS m
  FROM sym e JOIN {lab} l ON l.id = e.src GROUP BY l.label)""",
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT round((SELECT intra FROM mm) / (SELECT two_m FROM mm)
       - sum(m * m) / ((SELECT two_m FROM mm) * (SELECT two_m FROM mm)),
       6) AS modularity
FROM dcm"""
    )


def _sssp_sql(iters: int) -> str:
    parts = [
        _GRAPH,
        "wedges AS MATERIALIZED (SELECT src, dst, CAST((src * 7 + dst * 13) % 3 + 1 AS DOUBLE) AS w FROM edges)",
        "d0 AS MATERIALIZED (SELECT (SELECT min(id) FROM verts) AS id, 0.0::DOUBLE AS dist)",
    ]
    for k in range(iters):
        parts.append(
            f"""d{k + 1} AS MATERIALIZED (
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM d{k}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.w AS dist
    FROM d{k} d JOIN wedges e ON e.src = d.id
  ) GROUP BY id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(dist, 6) AS distance FROM d{iters}"
    )


def _bfs_sql(iters: int) -> str:
    parts = [
        _GRAPH,
        "b0 AS MATERIALIZED (SELECT (SELECT min(id) FROM verts) AS id, 0::BIGINT AS hops)",
    ]
    for k in range(iters):
        parts.append(
            f"""b{k + 1} AS MATERIALIZED (
  SELECT id, min(hops) AS hops FROM (
    SELECT id, hops FROM b{k}
    UNION ALL
    SELECT e.dst AS id, d.hops + 1 AS hops
    FROM b{k} d JOIN edges e ON e.src = d.id
  ) GROUP BY id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.id, coalesce(b.hops, -1)::BIGINT AS hops
FROM verts v LEFT JOIN b{iters} b ON b.id = v.id"""
    )


def _k_core_sql(k: int, rounds: int) -> str:
    """Unrolled peel-to-fixpoint: ``rounds`` must exceed the peeling
    depth (measured 5 at sf0.01 for k=20; over-provisioned)."""
    parts = [_GRAPH, _SYM, "e0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for r in range(rounds):
        parts.append(
            f"""k{r} AS MATERIALIZED (
  SELECT src FROM e{r} GROUP BY src HAVING count(*) >= {k})"""
        )
        parts.append(
            f"""e{r + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r} e
  JOIN k{r} a ON a.src = e.src
  JOIN k{r} b ON b.src = e.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.id, (CASE WHEN c.src IS NULL THEN 0 ELSE 1 END)::BIGINT AS in_core
FROM verts v
LEFT JOIN (SELECT DISTINCT src FROM e{rounds}) c ON c.src = v.id"""
    )


def _k_truss_sql(k: int, rounds: int) -> str:
    """Unrolled triangle-support peel: h{r} holds the surviving u<v
    half-edges; ``rounds`` must exceed the peeling depth (extra rounds
    are idempotent at the fixpoint, so over-provisioning is safe)."""

    def _support(r: int) -> str:
        return f"""s{r} AS MATERIALIZED (
  SELECT u, v, count(*)::BIGINT AS sup FROM (
    SELECT e1.u AS u, e1.v AS v FROM h{r} e1
    JOIN h{r} e2 ON e2.u = e1.v JOIN h{r} e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.u, e2.v FROM h{r} e1
    JOIN h{r} e2 ON e2.u = e1.v JOIN h{r} e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.v, e2.v FROM h{r} e1
    JOIN h{r} e2 ON e2.u = e1.v JOIN h{r} e3 ON e3.u = e1.u AND e3.v = e2.v
  ) GROUP BY u, v)"""

    parts = [
        _GRAPH,
        _SYM,
        "h0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM sym WHERE src < dst)",
    ]
    for r in range(rounds):
        parts.append(_support(r))
        parts.append(
            f"""h{r + 1} AS MATERIALIZED (
  SELECT h.u, h.v FROM h{r} h JOIN s{r} s ON s.u = h.u AND s.v = h.v
  WHERE s.sup >= {k - 2})"""
        )
    parts.append(_support(rounds))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT h.u, h.v, coalesce(s.sup, 0)::BIGINT AS support
FROM h{rounds} h LEFT JOIN s{rounds} s ON s.u = h.u AND s.v = h.v
WHERE coalesce(s.sup, 0) >= {k - 2}"""
    )


def _hits_sql(iters: int) -> str:
    """Unrolled HITS power iteration: auth from hub over in-edges, hub
    from the new (unnormalized) auth over out-edges, then L2-normalize
    each vector — scalar normalization commutes with the hub gather, so
    this matches giraph_spark.algorithms.hits.hits exactly."""
    parts = [
        _GRAPH,
        """s0 AS MATERIALIZED (
  SELECT id,
         1.0 / sqrt((SELECT count(*) FROM verts)) AS auth,
         1.0 / sqrt((SELECT count(*) FROM verts)) AS hub
  FROM verts
)""",
    ]
    for k in range(iters):
        parts.append(
            f"""ar{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS a_raw
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(s.hub) AS s
    FROM edges e JOIN s{k} s ON s.id = e.src GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
        parts.append(
            f"""hr{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS h_raw
  FROM verts v LEFT JOIN (
    SELECT e.src AS id, sum(a.a_raw) AS s
    FROM edges e JOIN ar{k} a ON a.id = e.dst GROUP BY e.src
  ) m ON m.id = v.id
)"""
        )
        parts.append(
            f"""s{k + 1} AS MATERIALIZED (
  SELECT a.id,
         a.a_raw / (SELECT sqrt(sum(a_raw * a_raw)) FROM ar{k}) AS auth,
         h.h_raw / (SELECT sqrt(sum(h_raw * h_raw)) FROM hr{k}) AS hub
  FROM ar{k} a JOIN hr{k} h ON h.id = a.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(auth, 7) AS auth, round(hub, 7) AS hub FROM s{iters}"
    )


def _adamic_adar_sql(max_degree: int) -> str:
    return f"""WITH {_GRAPH},
{_SYM},
deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
adj AS MATERIALIZED (
  SELECT s.src AS z, s.dst AS nbr, d.deg
  FROM sym s JOIN deg d ON d.src = s.src WHERE d.deg <= {max_degree}),
p AS (
  SELECT a.nbr AS u, b.nbr AS v, 1.0 / ln(a.deg) AS w
  FROM adj a JOIN adj b ON b.z = a.z AND a.nbr < b.nbr),
sc AS MATERIALIZED (
  SELECT u, v, count(*)::BIGINT AS common_neighbors, sum(w) AS aa
  FROM p GROUP BY u, v)
SELECT u, v, common_neighbors, round(aa, 6) AS aa
FROM sc WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = sc.u AND e.dst = sc.v)"""


def _cocitation_sql(pivot: str, item: str, max_pivot_degree: int, min_count: int) -> str:
    return f"""WITH edges AS MATERIALIZED ({DEMO_EDGES_SQL}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
pd AS (SELECT {pivot} AS p, count(*)::BIGINT AS pdg FROM e GROUP BY {pivot}),
ec AS MATERIALIZED (
  SELECT e.{pivot} AS p, e.{item} AS it
  FROM e JOIN pd ON pd.p = e.{pivot} WHERE pd.pdg <= {max_pivot_degree})
SELECT a.it AS a, b.it AS b, count(*)::BIGINT AS n_common
FROM ec a JOIN ec b ON b.p = a.p AND a.it < b.it
GROUP BY a.it, b.it HAVING count(*) >= {min_count}"""


def _window_dedup_sql(n: int, threshold: float) -> str:
    frac = "coalesce(p.n_shared_windows / p.n_windows::DOUBLE, 0.0)"
    return f"""WITH wt AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS r FROM documents),
win AS MATERIALIZED (
  SELECT DISTINCT doc_id, array_to_string(r[gs:gs+{n - 1}], ' ') AS w
  FROM wt, unnest(generate_series(1, len(r) - {n - 1})) AS t(gs)),
freq AS (SELECT w, count(*)::BIGINT AS df FROM win GROUP BY w),
perdoc AS (
  SELECT win.doc_id, count(*)::BIGINT AS n_windows,
         sum(CASE WHEN freq.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared_windows
  FROM win JOIN freq USING (w) GROUP BY win.doc_id)
SELECT d.doc_id,
       coalesce(p.n_windows, 0)::BIGINT AS n_windows,
       coalesce(p.n_shared_windows, 0)::BIGINT AS n_shared_windows,
       round({frac}, 6) AS shared_frac,
       (round({frac}, 6) >= {threshold}) AS dup_candidate
FROM documents d LEFT JOIN perdoc p USING (doc_id)"""


_ASSORTATIVITY_SQL = f"""WITH {_GRAPH},
{_SYM},
deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
pairs AS (
  SELECT ds.deg AS sdeg, dd.deg AS ddeg
  FROM sym e JOIN deg ds ON ds.src = e.src JOIN deg dd ON dd.src = e.dst)
SELECT round(corr(sdeg::DOUBLE, ddeg::DOUBLE), 6) AS assortativity FROM pairs"""


def _random_walks_sql(length: int, seed: int) -> str:
    from giraph_spark.algorithms.walks import walks_sql

    return walks_sql(f"edges AS MATERIALIZED ({DEMO_EDGES_SQL})", length, seed)


def _minlabel_sql(iters: int, edge_table: str, agg: str, out_col: str) -> str:
    """Unrolled label propagation to fixpoint: ``agg`` in {least, greatest}.

    ``iters`` must exceed the graph's (directed) diameter — cheap per
    iteration, so we over-provision rather than recurse (the recursive
    transitive closure is quadratic in component size).
    """
    fn = "min" if agg == "least" else "max"
    parts = [_GRAPH]
    if edge_table == "sym":
        parts.append(_SYM)
    parts.append("p0 AS MATERIALIZED (SELECT id, id AS lab FROM verts)")
    for k in range(iters):
        parts.append(
            f"""p{k + 1} AS MATERIALIZED (
  SELECT v.id, {agg}(v.lab, coalesce(m.m, v.lab)) AS lab
  FROM p{k} v LEFT JOIN (
    SELECT e.dst AS id, {fn}(l.lab) AS m
    FROM {edge_table} e JOIN p{k} l ON l.id = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, lab AS {out_col} FROM p{iters}"
    )


def _rw_pagerank_sql(iters: int, teleport: float = 0.15) -> str:
    """Random-walk normalized PageRank: p' = ((1-t)*(msgs + D/N) + t/N)/C
    with one-superstep-lag cumulative aggregators (RandomWalkComputation
    .java:115-155)."""
    t = teleport
    parts = [
        _GRAPH,
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src)",
        "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nv) AS p FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT sum(r.p) AS c,
         coalesce(sum(CASE WHEN d.src IS NULL THEN r.p END), 0.0) AS dang
  FROM r{k} r LEFT JOIN deg d ON d.src = r.id
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.p / d.outdeg) AS msg
  FROM edges e JOIN r{k} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.id,
         ({1.0 - t} * (coalesce(m.msg, 0.0)
              + (SELECT dang FROM s{k}) / (SELECT n FROM nv))
          + {t} / (SELECT n FROM nv)) / (SELECT c FROM s{k}) AS p
  FROM r{k} v LEFT JOIN m{k} m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(p, 9) AS rank FROM r{iters}"
    )


def _kmeans_assign_sql(k: int, iters: int, seed: int, final: str | None = None) -> str:
    """Replay kmeans_fit + final ivf_assign: deterministic init (portable
    priority), per-iteration argmax on 6dp-rounded cosine with centroid-id
    tie-break, element-wise means, empty cells keep their centroid."""

    def assign(t: int) -> str:
        return f"""(
  SELECT vec_id, centroid_id, cosine FROM (
    SELECT d.vec_id, d.centroid_id,
           round(d.dot / (na.nrm * nc.nrm), 6) AS cosine,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY round(d.dot / (na.nrm * nc.nrm), 6) DESC,
                                       d.centroid_id ASC) AS rn
    FROM (SELECT a.vec_id, c.centroid_id, sum(a.v * c.v) AS dot
          FROM u a JOIN c{t} c ON c.pos = a.pos
          GROUP BY a.vec_id, c.centroid_id) d
    JOIN norms na ON na.vec_id = d.vec_id
    JOIN cn{t} nc ON nc.centroid_id = d.centroid_id
  ) WHERE rn = 1)"""

    parts = [
        _EMB_UNNEST,
        f"pr AS MATERIALIZED (SELECT vec_id, {luby_priority_sql('vec_id', seed)} AS p FROM embeddings)",
        f"""init AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY p, vec_id) - 1 AS centroid_id
  FROM pr ORDER BY p, vec_id LIMIT {k})""",
        """c0 AS MATERIALIZED (
  SELECT i.centroid_id, u.pos, u.v FROM init i JOIN u ON u.vec_id = i.vec_id)""",
    ]
    for t in range(iters):
        parts.append(
            f"cn{t} AS MATERIALIZED (SELECT centroid_id, sqrt(sum(v*v)) AS nrm FROM c{t} GROUP BY centroid_id)"
        )
        parts.append(f"a{t} AS MATERIALIZED {assign(t)}")
        parts.append(
            f"""m{t} AS MATERIALIZED (
  SELECT a.centroid_id, u.pos, avg(u.v) AS v
  FROM a{t} a JOIN u ON u.vec_id = a.vec_id
  GROUP BY a.centroid_id, u.pos)"""
        )
        parts.append(
            f"""c{t + 1} AS MATERIALIZED (
  SELECT c.centroid_id, c.pos, coalesce(m.v, c.v) AS v
  FROM c{t} c LEFT JOIN m{t} m
    ON m.centroid_id = c.centroid_id AND m.pos = c.pos)"""
        )
    parts.append(
        f"cn{iters} AS MATERIALIZED (SELECT centroid_id, sqrt(sum(v*v)) AS nrm FROM c{iters} GROUP BY centroid_id)"
    )
    if final is None:
        final = f"""
SELECT vec_id, centroid_id::BIGINT AS centroid_id, cosine FROM {assign(iters)} q"""
    else:
        final = final.replace("__ASSIGN__", assign(iters))
    return "WITH " + ",\n".join(parts) + final


def _lsh_eval_sql() -> str:
    return f"""WITH lshp AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) t1),
{_POS_TOKENS},
{_SHINGLES3},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON sa.doc_id = inter.doc_a
  JOIN sz sb ON sb.doc_id = inter.doc_b
  WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.05),
nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
nl AS (SELECT count(*)::BIGINT AS n_lsh FROM lshp)
SELECT n_truth, n_lsh,
       CASE WHEN n_truth > 0
            THEN round(n_lsh * 1.0 / n_truth, 6) ELSE NULL END AS recall
FROM nt, nl"""


def _semdedup_sql(k: int, iters: int, seed: int, threshold: float) -> str:
    """kmeans assign + within-cell pairwise cosine + min-id keep rule —
    replays embeddings.semdedup exactly."""
    final = f""",
asgn AS MATERIALIZED __ASSIGN__,
dots AS MATERIALIZED (
  SELECT aa.vec_id AS id_a, bb.vec_id AS id_b, sum(ua.v * ub.v) AS dot
  FROM asgn aa
  JOIN asgn bb ON bb.centroid_id = aa.centroid_id AND bb.vec_id > aa.vec_id
  JOIN u ua ON ua.vec_id = aa.vec_id
  JOIN u ub ON ub.vec_id = bb.vec_id AND ub.pos = ua.pos
  GROUP BY aa.vec_id, bb.vec_id),
drp AS (
  SELECT DISTINCT id_b AS vec_id FROM dots
  JOIN norms na ON na.vec_id = dots.id_a
  JOIN norms nb ON nb.vec_id = dots.id_b
  WHERE round(dot / (na.nrm * nb.nrm), 6) >= {threshold})
SELECT a.vec_id, a.centroid_id::BIGINT AS centroid_id,
       (d.vec_id IS NULL) AS keep
FROM asgn a LEFT JOIN drp d ON d.vec_id = a.vec_id"""
    return _kmeans_assign_sql(k, iters, seed, final=final)


def _pq_sql(
    final: str, m: int = 4, k: int = 4, iters: int = 2, seed: int = 7,
    width: int = 16,
) -> str:
    """Shared PQ replay: per-subspace deterministic k-means (same
    machinery as _kmeans_assign_sql, keyed by subspace with per-subspace
    seed = seed + ss) + final per-(vector, subspace) code assignment in
    a{iters}; ``final`` consumes a{iters} / c{iters} / sub."""

    def assign(t: int) -> str:
        return f"""a{t} AS MATERIALIZED (
  SELECT vec_id, ss, centroid_id FROM (
    SELECT d.vec_id, d.ss, d.centroid_id,
           row_number() OVER (PARTITION BY d.vec_id, d.ss
                              ORDER BY round(d.dot / (ns.nrm * nc.nrm), 6) DESC,
                                       d.centroid_id ASC) AS rn
    FROM (SELECT s.vec_id, s.ss, c.centroid_id, sum(s.v * c.v) AS dot
          FROM sub s JOIN c{t} c ON c.ss = s.ss AND c.spos = s.spos
          GROUP BY s.vec_id, s.ss, c.centroid_id) d
    JOIN snorms ns ON ns.vec_id = d.vec_id AND ns.ss = d.ss
    JOIN cn{t} nc ON nc.ss = d.ss AND nc.centroid_id = d.centroid_id
  ) WHERE rn = 1)"""

    parts = [
        _EMB_UNNEST,
        f"""sub AS MATERIALIZED (
  SELECT vec_id, (pos - 1) // {width} AS ss,
         pos - ((pos - 1) // {width}) * {width} AS spos, v
  FROM u)""",
        """snorms AS MATERIALIZED (
  SELECT vec_id, ss, sqrt(sum(v * v)) AS nrm FROM sub GROUP BY vec_id, ss)""",
        f"""pri AS MATERIALIZED (
  SELECT s.ss, e.vec_id,
         {luby_priority_sql('e.vec_id', f's.ss + {seed}')} AS p
  FROM (SELECT DISTINCT ss FROM sub) s
  CROSS JOIN (SELECT DISTINCT vec_id FROM embeddings) e)""",
        f"""init AS MATERIALIZED (
  SELECT ss, vec_id, rn - 1 AS centroid_id FROM (
    SELECT ss, vec_id,
           row_number() OVER (PARTITION BY ss ORDER BY p, vec_id) AS rn
    FROM pri) WHERE rn <= {k})""",
        """c0 AS MATERIALIZED (
  SELECT i.ss, i.centroid_id, s.spos, s.v
  FROM init i JOIN sub s ON s.vec_id = i.vec_id AND s.ss = i.ss)""",
    ]
    for t in range(iters):
        parts.append(
            f"""cn{t} AS MATERIALIZED (
  SELECT ss, centroid_id, sqrt(sum(v * v)) AS nrm
  FROM c{t} GROUP BY ss, centroid_id)"""
        )
        parts.append(assign(t))
        parts.append(
            f"""mm{t} AS MATERIALIZED (
  SELECT a.ss, a.centroid_id, s.spos, avg(s.v) AS v
  FROM a{t} a JOIN sub s ON s.vec_id = a.vec_id AND s.ss = a.ss
  GROUP BY a.ss, a.centroid_id, s.spos)"""
        )
        parts.append(
            f"""c{t + 1} AS MATERIALIZED (
  SELECT c.ss, c.centroid_id, c.spos, coalesce(m.v, c.v) AS v
  FROM c{t} c LEFT JOIN mm{t} m
    ON m.ss = c.ss AND m.centroid_id = c.centroid_id AND m.spos = c.spos)"""
        )
    parts.append(
        f"""cn{iters} AS MATERIALIZED (
  SELECT ss, centroid_id, sqrt(sum(v * v)) AS nrm
  FROM c{iters} GROUP BY ss, centroid_id)"""
    )
    parts.append(assign(iters))
    return "WITH " + ",\n".join(parts) + "\n" + final


def _pq_encode_sql(iters: int = 2) -> str:
    return _pq_sql(
        f"""SELECT vec_id, ss::BIGINT AS subspace, centroid_id::BIGINT AS code
FROM a{iters}"""
    )


def _pq_topk_sql(iters: int = 2, topk: int = 5, n_queries: int = 2) -> str:
    final = f""",
q AS (SELECT vec_id AS query_id, ss, spos, v FROM sub WHERE vec_id < {n_queries}),
dt AS MATERIALIZED (
  SELECT q.query_id, c.ss, c.centroid_id, sum(q.v * c.v) AS d
  FROM q JOIN c{iters} c ON c.ss = q.ss AND c.spos = q.spos
  GROUP BY q.query_id, c.ss, c.centroid_id),
scores AS (
  SELECT d.query_id, e.vec_id AS neighbor_id, round(sum(d.d), 6) AS score
  FROM a{iters} e JOIN dt d ON d.ss = e.ss AND d.centroid_id = e.centroid_id
  GROUP BY d.query_id, e.vec_id)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, score FROM (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scores) WHERE rank <= {topk}"""
    # the trailing-final form: _pq_sql joins parts with ',' then appends
    # final — here final starts with ',' to extend the WITH list
    base = _pq_sql("__FINAL__")
    return base.replace("\n__FINAL__", final)


def _mis_sql(rounds: int) -> str:
    """Unrolled Luby rounds — replays mis.py's portable (id, round)
    priorities exactly; extra rounds past the fixpoint are no-ops."""
    parts = [_GRAPH, _SYM, "u0 AS MATERIALIZED (SELECT id FROM verts)"]
    for r in range(rounds):
        pexpr = luby_priority_sql("id", r)
        parts.append(f"p{r} AS MATERIALIZED (SELECT id, {pexpr} AS p FROM u{r})")
        parts.append(
            f"""b{r} AS (SELECT DISTINCT e.src AS id FROM sym e
  JOIN p{r} ps ON ps.id = e.src JOIN p{r} pd ON pd.id = e.dst
  WHERE pd.p < ps.p OR (pd.p = ps.p AND e.dst < e.src))"""
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT id FROM u{r} EXCEPT SELECT id FROM b{r})"
        )
        parts.append(
            f"n{r} AS (SELECT DISTINCT e.dst AS id FROM sym e JOIN w{r} w ON w.id = e.src)"
        )
        parts.append(
            f"u{r + 1} AS MATERIALIZED (SELECT id FROM u{r} "
            f"EXCEPT SELECT id FROM w{r} EXCEPT SELECT id FROM n{r})"
        )
    winners = " UNION ALL ".join(f"SELECT id FROM w{r}" for r in range(rounds))
    parts.append(f"allw AS MATERIALIZED ({winners})")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT v.id, (a.id IS NOT NULL)::BIGINT AS in_set
FROM verts v LEFT JOIN allw a ON a.id = v.id"""
    )


# --- corpus oracles: DuckDB reads the SAME parquet the Spark queries read
# and replays extraction + URL-keyed graph algorithms in pure SQL -----------

_ENTITY_UNESCAPE = (
    "replace(replace(replace(replace(replace({x}, "
    "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')"
)


def _corpus_prologue(path: str, same_site_only: bool = False) -> list[str]:
    norm = "regexp_replace(regexp_replace(lower({x}), '#.*$', ''), '/$', '')"
    site_filter = (
        "WHERE regexp_extract(url, '^(https?://[^/]+)', 1)"
        " = regexp_extract(href, '^(https?://[^/]+)', 1)"
        if same_site_only
        else ""
    )
    return [
        f"""pages AS MATERIALIZED (
  SELECT url, decode(html) AS h, text FROM read_parquet('{path}/*.parquet'))""",
        """links AS (
  SELECT url, unnest(regexp_extract_all(h, '<a\\s+href="([^"]*)"', 1)) AS href
  FROM pages)""",
        f"""res AS (
  SELECT url, href FROM (
    SELECT url, CASE WHEN href LIKE '/%'
        THEN regexp_extract(url, '^(https?://[^/]+)', 1) || href
        ELSE href END AS href
    FROM links) {site_filter})""",
        f"""edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT DISTINCT {norm.format(x='url')} AS src,
                    {norm.format(x='href')} AS dst
    FROM res) WHERE src <> dst)""",
        "verts AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
    ]


def _corpus_extract_sql(path: str) -> str:
    got = _ENTITY_UNESCAPE.format(
        x="array_to_string(regexp_extract_all(h, '<p>(.*?)</p>', 1), chr(10))"
    )
    return f"""WITH pages AS (
  SELECT decode(html) AS h, text FROM read_parquet('{path}/*.parquet')),
ex AS (SELECT text, {got} AS got FROM pages)
SELECT count(*)::BIGINT AS n_pages,
       coalesce(sum(CASE WHEN got <> text THEN 1 ELSE 0 END), 0)::BIGINT AS n_mismatch
FROM ex"""


def _corpus_pagerank_sql(path: str, iters: int, damping: float = 0.85) -> str:
    d = damping
    parts = _corpus_prologue(path) + [
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src)",
        "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT sum(r.rank) AS all_sum,
         coalesce(sum(CASE WHEN d.src IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM r{k} r LEFT JOIN deg d ON d.src = r.id
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.rank / d.outdeg) AS msg
  FROM edges e JOIN r{k} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * (coalesce(m.msg, 0.0) + (SELECT sink_sum FROM s{k}) / (SELECT n FROM nv))
       + {1.0 - d} * (SELECT all_sum FROM s{k}) / (SELECT n FROM nv) AS rank
  FROM r{k} v LEFT JOIN m{k} m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id AS url, round(rank, 6) AS rank FROM r{iters}
ORDER BY round(rank, 6) DESC, url ASC LIMIT 20"""
    )


def _corpus_wcc_sql(path: str, iters: int = 25) -> str:
    parts = _corpus_prologue(path, same_site_only=True) + [
        """sym AS MATERIALIZED (SELECT DISTINCT * FROM (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges))""",
        "p0 AS MATERIALIZED (SELECT id, id AS lab FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""p{k + 1} AS MATERIALIZED (
  SELECT v.id, least(v.lab, coalesce(m.m, v.lab)) AS lab
  FROM p{k} v LEFT JOIN (
    SELECT e.dst AS id, min(l.lab) AS m
    FROM sym e JOIN p{k} l ON l.id = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT lab AS component_url, count(*)::BIGINT AS size
FROM p{iters} GROUP BY lab
ORDER BY size DESC, component_url ASC LIMIT 10"""
    )


# SCC oracle: block-local digraph (64 disjoint 64-vertex blocks over all
# 4096 vertices) keeps the recursive closure at sum-of-64^2 pairs while
# the engine runs the full graph in one call
_SCC_SQL = f"""WITH RECURSIVE
edges AS MATERIALIZED ({SCC_EDGES_SQL}),
verts AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
reach(a, b) AS (
  SELECT id, id FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
)
SELECT r1.a AS id, max(r1.b) AS scc
FROM reach r1
WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
GROUP BY r1.a"""


def _pagerank_convergence_sql(iters: int = 5) -> str:
    """Per-iteration L1 residual sum(|r_k - r_{k-1}|) over the same
    unrolled PageRank recurrence as _pagerank_sql."""
    base = _pagerank_sql(iters)
    head = base[: base.rindex("\nSELECT id,")]
    unions = "\nUNION ALL\n".join(
        f"""SELECT {k + 1}::BIGINT AS superstep,
       round(sum(abs(a.rank - b.rank)), 6) AS l1
FROM r{k + 1} a JOIN r{k} b ON b.id = a.id"""
        for k in range(iters)
    )
    return head + "\n" + unions


def _pagerank_incremental_sql(k1: int = 3, k2: int = 3,
                              damping: float = 0.85) -> str:
    """Warm-start replay: k1 unrolled iterations on the previous-crawl
    edge subset ((src*31+dst)%10 < 8), carry the vector onto the full
    vertex set (new vertices at 1.0), mass-rescale to N, then k2
    unrolled full-graph iterations — the exact engine path of
    ``pagerank(init_ranks=...)``."""
    d = damping

    def _iters(n: int, pre: str, edges: str, deg: str, nv: str,
               r0: str) -> list[str]:
        parts = []
        for k in range(n):
            rk = f"{pre}{k}" if k else r0
            parts.append(f"""{pre}s{k} AS MATERIALIZED (
  SELECT sum(r.rank) AS all_sum,
         coalesce(sum(CASE WHEN d.src IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM {rk} r LEFT JOIN {deg} d ON d.src = r.id
)""")
            parts.append(f"""{pre}m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.rank / d.outdeg) AS msg
  FROM {edges} e JOIN {rk} r ON r.id = e.src JOIN {deg} d ON d.src = e.src
  GROUP BY e.dst
)""")
            parts.append(f"""{pre}{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * (coalesce(m.msg, 0.0) + (SELECT sink_sum FROM {pre}s{k}) / (SELECT n FROM {nv}))
       + {1.0 - d} * (SELECT all_sum FROM {pre}s{k}) / (SELECT n FROM {nv}) AS rank
  FROM {rk} v LEFT JOIN {pre}m{k} m ON m.id = v.id
)""")
        return parts

    parts = [
        _GRAPH,
        "oe AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src * 31 + dst) % 10 < 8)",
        "ov AS MATERIALIZED (SELECT src AS id FROM oe UNION SELECT dst FROM oe)",
        "odeg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM oe GROUP BY src)",
        "onv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM ov)",
        "o0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM ov)",
    ]
    parts += _iters(k1, "o", "oe", "odeg", "onv", "o0")
    parts += [
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src)",
        "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM verts)",
        f"init AS MATERIALIZED (SELECT v.id, coalesce(o.rank, 1.0)::DOUBLE AS rank\n  FROM verts v LEFT JOIN o{k1} o ON o.id = v.id)",
        "tot AS MATERIALIZED (SELECT sum(rank) AS s FROM init)",
        "w0 AS MATERIALIZED (SELECT id, rank * ((SELECT n FROM nv) / (SELECT s FROM tot)) AS rank FROM init)",
    ]
    parts += _iters(k2, "w", "edges", "deg", "nv", "w0")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 7) AS rank FROM w{k2}"
    )


def _top_pages_per_host_sql(iters: int = 5) -> str:
    base = _pagerank_sql(iters)
    return f"""SELECT id, host, rank, rk::BIGINT AS rk FROM (
  SELECT id, id % 64 AS host, rank,
         row_number() OVER (PARTITION BY id % 64
                            ORDER BY rank DESC, id ASC) AS rk
  FROM ({base}) t) WHERE rk <= 3"""


def _landmark_sql(n_seeds: int = 8, iters: int = 15) -> str:
    """Forward + backward unrolled multi-seed BFS from the n_seeds
    lowest ids, then min landmark-sum estimate for the fixed pair grid
    (u = verts ranked 100..103, v = ranked 200..203)."""
    parts = [
        _GRAPH,
        f"lm AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT {n_seeds})",
        "f0 AS MATERIALIZED (SELECT id AS seed, id, 0::BIGINT AS d FROM lm)",
        "r0 AS MATERIALIZED (SELECT id AS seed, id, 0::BIGINT AS d FROM lm)",
    ]
    for k in range(iters):
        parts.append(
            f"""f{k + 1} AS MATERIALIZED (
  SELECT seed, id, min(d) AS d FROM (
    SELECT seed, id, d FROM f{k}
    UNION ALL
    SELECT b.seed, e.dst AS id, b.d + 1 AS d
    FROM f{k} b JOIN edges e ON e.src = b.id
  ) GROUP BY seed, id
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT seed, id, min(d) AS d FROM (
    SELECT seed, id, d FROM r{k}
    UNION ALL
    SELECT b.seed, e.src AS id, b.d + 1 AS d
    FROM r{k} b JOIN edges e ON e.dst = b.id
  ) GROUP BY seed, id
)"""
        )
    parts.append(
        """uv AS MATERIALIZED (
  SELECT u.id AS u, v.id AS v
  FROM (SELECT id FROM verts ORDER BY id LIMIT 4 OFFSET 100) u
  CROSS JOIN (SELECT id FROM verts ORDER BY id LIMIT 4 OFFSET 200) v)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT p.u, p.v, min(r.d + f.d)::BIGINT AS est
FROM uv p
LEFT JOIN r{iters} r ON r.id = p.u
LEFT JOIN f{iters} f ON f.id = p.v AND f.seed = r.seed
GROUP BY p.u, p.v"""
    )


_TWO_HOP_SQL = f"""WITH {_GRAPH},
{_SYM},
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY src),
n1 AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS n1 FROM sym GROUP BY src),
piv AS MATERIALIZED (
  SELECT s.src AS z, s.dst AS nbr FROM sym s
  JOIN deg d ON d.src = s.src WHERE d.deg <= 25),
cand AS MATERIALIZED (
  SELECT DISTINCT a.nbr AS id, b.nbr AS w
  FROM piv a JOIN piv b ON b.z = a.z AND a.nbr <> b.nbr),
c2 AS MATERIALIZED (
  SELECT c.id, count(*)::BIGINT AS n2 FROM cand c
  LEFT JOIN sym s ON s.src = c.id AND s.dst = c.w
  WHERE s.src IS NULL GROUP BY c.id)
SELECT n1.id, n1.n1, coalesce(c2.n2, 0)::BIGINT AS n2
FROM n1 LEFT JOIN c2 ON c2.id = n1.id"""


def _ppr_sql(iters: int, teleport: float = 0.15) -> str:
    t = teleport
    parts = [
        _GRAPH,
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src)",
        "s0v AS MATERIALIZED (SELECT min(id) AS sid FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT sid FROM s0v) "
        "THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""k{k} AS MATERIALIZED (
  SELECT coalesce(sum(CASE WHEN d.src IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM r{k} r LEFT JOIN deg d ON d.src = r.id
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.rank / d.outdeg) AS msg
  FROM edges e JOIN r{k} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {1.0 - t} * coalesce(m.msg, 0.0)
       + CASE WHEN v.id = (SELECT sid FROM s0v)
              THEN {t} + {1.0 - t} * (SELECT sink_sum FROM k{k}) ELSE 0.0 END AS rank
  FROM r{k} v LEFT JOIN m{k} m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 9) AS rank FROM r{iters}"
    )


def _ppr_batch_sql(iters: int, n_seeds: int = 4, teleport: float = 0.15) -> str:
    """Multi-seed unroll of _ppr_sql: state keyed by (seed, id), the
    seed set = the n_seeds smallest vertex ids (matches q_ppr_batch)."""
    t = teleport
    parts = [
        _GRAPH,
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src)",
        f"seeds AS MATERIALIZED (SELECT id AS seed FROM verts ORDER BY id LIMIT {n_seeds})",
        "r0 AS MATERIALIZED (SELECT s.seed, v.id, "
        "CASE WHEN v.id = s.seed THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank "
        "FROM verts v CROSS JOIN seeds s)",
    ]
    for k in range(iters):
        parts.append(
            f"""k{k} AS MATERIALIZED (
  SELECT r.seed,
         coalesce(sum(CASE WHEN d.src IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM r{k} r LEFT JOIN deg d ON d.src = r.id GROUP BY r.seed
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT r.seed, e.dst AS id, sum(r.rank / d.outdeg) AS msg
  FROM edges e JOIN r{k} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY r.seed, e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.seed, v.id,
         {1.0 - t} * coalesce(m.msg, 0.0)
       + CASE WHEN v.id = v.seed
              THEN {t} + {1.0 - t} * s.sink_sum ELSE 0.0 END AS rank
  FROM r{k} v
  LEFT JOIN m{k} m ON m.seed = v.seed AND m.id = v.id
  JOIN k{k} s ON s.seed = v.seed
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT seed, id, round(rank, 9) AS rank FROM r{iters}"
    )


def _local_community_sql(iters: int = 15, max_size: int = 256,
                         teleport: float = 0.15) -> str:
    """PPR-over-sym unroll (no sinks on a symmetric graph) + sweep-cut
    conductance replay of algorithms/ppr.py:local_community."""
    t = teleport
    parts = [
        _GRAPH,
        _SYM,
        "deg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS deg FROM sym GROUP BY src)",
        "sv AS MATERIALIZED (SELECT min(id) AS sid FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT sid FROM sv) "
        "THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(r.rank / d.deg) AS msg
  FROM sym e JOIN r{k} r ON r.id = e.src JOIN deg d ON d.id = e.src
  GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT v.id, {1.0 - t} * coalesce(m.msg, 0.0)
       + CASE WHEN v.id = (SELECT sid FROM sv) THEN {t} ELSE 0.0 END AS rank
  FROM r{k} v LEFT JOIN m{k} m ON m.id = v.id)"""
        )
    parts.append(
        f"""scored AS MATERIALIZED (
  SELECT r.id, d.deg, round(r.rank, 9) / d.deg AS score
  FROM r{iters} r JOIN deg d ON d.id = r.id
  WHERE round(r.rank, 9) / d.deg > 0
  ORDER BY score DESC, r.id ASC LIMIT {max_size})"""
    )
    parts.append(
        """posd AS MATERIALIZED (
  SELECT id, deg, row_number() OVER (ORDER BY score DESC, id ASC) AS pos
  FROM scored)"""
    )
    parts.append(
        """ia AS MATERIALIZED (
  SELECT greatest(a.pos, b.pos) AS k, count(*)::BIGINT AS n
  FROM sym e JOIN posd a ON a.id = e.src JOIN posd b ON b.id = e.dst
  GROUP BY 1)"""
    )
    parts.append("tv AS MATERIALIZED (SELECT sum(deg) AS v FROM deg)")
    parts.append(
        """sweep AS MATERIALIZED (
  SELECT p.pos, p.id,
         sum(p.deg) OVER (ORDER BY p.pos) AS vol,
         sum(coalesce(ia.n, 0)) OVER (ORDER BY p.pos) AS int2
  FROM posd p LEFT JOIN ia ON ia.k = p.pos)"""
    )
    parts.append(
        """ph AS MATERIALIZED (
  SELECT pos, id,
         round((vol - int2) / least(vol, (SELECT v FROM tv) - vol), 6) AS phi
  FROM sweep WHERE vol < (SELECT v FROM tv))"""
    )
    parts.append(
        "best AS MATERIALIZED (SELECT pos, phi FROM ph ORDER BY phi ASC, pos ASC LIMIT 1)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT id, pos::BIGINT AS pos, (SELECT phi FROM best) AS conductance
FROM ph WHERE pos <= (SELECT pos FROM best)"""
    )


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"CAST(sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""WITH {_TOKENS},
dt AS (SELECT DISTINCT doc_id, token FROM t),
h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM dt),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {sig} AS simhash FROM votes"""


_QUALITY_SQL = f"""WITH {_TOKENS},
agg AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_tokens,
         count(DISTINCT token)::BIGINT AS n_distinct,
         sum(length(token))::BIGINT AS tok_chars,
         CAST(sum(CASE WHEN token IN {STOPWORDS!r} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM t GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ((n_stop * 2000000 + n_tokens) // (2 * n_tokens)) / 1000000.0 AS stop_ratio,
       ((n_distinct * 2000000 + n_tokens) // (2 * n_tokens)) / 1000000.0 AS distinct_ratio,
       ((tok_chars * 2000000 + n_tokens) // (2 * n_tokens)) / 1000000.0 AS mean_token_len,
       (((4 * n_tokens * least(n_tokens, 100) + 560 * n_distinct
          + 50 * least(tok_chars, 8 * n_tokens)
          + 240 * (n_tokens - n_stop)) * 2000000 + 1600 * n_tokens)
        // (2 * 1600 * n_tokens)) / 1000000.0 AS quality
FROM agg"""

_LANG_MARKER_SQL = {
    "de": ("der", "und", "das"),
    "en": ("the", "and", "of"),
    "es": ("el", "y", "los"),
    "fr": ("le", "et", "les"),
    "zh": ("de5", "shi4", "le5"),
}


def _lang_id_sql() -> str:
    scores = ",\n         ".join(
        f"CAST(sum(CASE WHEN token IN {m!r} THEN 1 ELSE 0 END) AS BIGINT) AS s_{lang}"
        for lang, m in _LANG_MARKER_SQL.items()
    )
    langs = sorted(_LANG_MARKER_SQL)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    whens = "\n         ".join(
        f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""WITH {_TOKENS},
agg AS (
  SELECT doc_id,
         {scores}
  FROM t GROUP BY doc_id
)
SELECT a.doc_id,
       CASE {whens}
         ELSE 'und' END AS pred_lang,
       d.lang
FROM agg a JOIN documents d ON d.doc_id = a.doc_id"""


_MINHASH_CTES = f"""{_POS_TOKENS},
{_SHINGLES3},
bands AS (SELECT unnest(generate_series(0, 7)) AS band),
sig AS (
  SELECT doc_id, band, min(md5(band::VARCHAR || ':' || shingle)) AS signature
  FROM sh CROSS JOIN bands GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON b.band = a.band AND b.signature = a.signature
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)"""

_MINHASH_PAIRS_BODY = """SELECT c.doc_a, c.doc_b,
       round(coalesce(i.inter, 0) / (za.sz + zb.sz - coalesce(i.inter, 0))::DOUBLE, 6) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes za ON za.doc_id = c.doc_a
JOIN sizes zb ON zb.doc_id = c.doc_b
WHERE round(coalesce(i.inter, 0) / (za.sz + zb.sz - coalesce(i.inter, 0))::DOUBLE, 6) >= 0.05"""

_MINHASH_SQL = f"""WITH {_MINHASH_CTES}
{_MINHASH_PAIRS_BODY}"""


def _dedup_clusters_sql(iters: int) -> str:
    """MinHash-LSH pairs -> undirected min-label closure -> canonical doc.

    ``iters`` must exceed the dup-cluster diameter (measured max cluster
    size 3 at sf0.01 -> diameter 2; over-provisioned)."""
    parts = [
        _MINHASH_CTES,
        f"pairs AS MATERIALIZED ({_MINHASH_PAIRS_BODY})",
        """und AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
)""",
        "c0 AS MATERIALIZED (SELECT doc_id, doc_id AS lab FROM documents)",
    ]
    for k in range(iters):
        parts.append(
            f"""c{k + 1} AS MATERIALIZED (
  SELECT v.doc_id, least(v.lab, coalesce(m.m, v.lab)) AS lab
  FROM c{k} v LEFT JOIN (
    SELECT u.t AS doc_id, min(l.lab) AS m
    FROM und u JOIN c{k} l ON l.doc_id = u.s
    GROUP BY u.t
  ) m ON m.doc_id = v.doc_id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, lab AS canonical_id,
       (doc_id = lab)::BIGINT AS is_canonical
FROM c{iters}"""
    )

_JACCARD_SQL = f"""WITH {_TOKENS},
dt0 AS (SELECT DISTINCT doc_id, token FROM t),
-- model jaccard_pairs' scale guard max_df=1000: tokens present in more
-- documents carry no similarity signal and are dropped BEFORE sizing
df AS (SELECT token, count(*) AS df FROM dt0 GROUP BY token),
dt AS (SELECT dt0.doc_id, dt0.token FROM dt0
       JOIN df ON df.token = dt0.token WHERE df.df <= 1000),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM dt GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
  FROM dt a JOIN dt b ON b.token = a.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(inter / (za.sz + zb.sz - inter)::DOUBLE, 6) AS jaccard
FROM shared s
JOIN sizes za ON za.doc_id = s.doc_a
JOIN sizes zb ON zb.doc_id = s.doc_b
WHERE round(inter / (za.sz + zb.sz - inter)::DOUBLE, 6) >= 0.6"""

_ANN_SQL = f"""WITH {_EMB_UNNEST},
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.v * b.v) AS dot
  FROM u a JOIN u b ON b.pos = a.pos AND b.vec_id <> a.vec_id
  WHERE a.vec_id < 3
  GROUP BY a.vec_id, b.vec_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots d
  JOIN norms na ON na.vec_id = d.query_id
  JOIN norms nb ON nb.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= 5"""

_COSINE_PAIRS_SQL = f"""WITH {_EMB_UNNEST},
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
  FROM u a JOIN u b ON b.pos = a.pos AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT d.id_a, d.id_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= 0.4"""

_IVF_SQL = f"""WITH {_EMB_UNNEST},
c AS (SELECT vec_id AS centroid_id, pos, v FROM u WHERE vec_id < 8),
dots AS (
  SELECT a.vec_id, c.centroid_id, sum(a.v * c.v) AS dot
  FROM u a JOIN c ON c.pos = a.pos
  GROUP BY a.vec_id, c.centroid_id
),
scored AS (
  SELECT d.vec_id, d.centroid_id,
         round(d.dot / (na.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms na ON na.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.centroid_id
),
ranked AS (
  SELECT vec_id, centroid_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, centroid_id ASC) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, cosine FROM ranked WHERE rn = 1"""

_SESSION_SQL = """WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events
)
SELECT user_id, count(*)::BIGINT AS n_events,
       CAST(1 + sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM g GROUP BY user_id"""

_ROLLUP_SQL = """SELECT event_type,
       (epoch_us(ts) // 3600000000)::BIGINT AS hour_bucket,
       count(*)::BIGINT AS n_events,
       round(sum("value"), 4) AS total_value
FROM events GROUP BY event_type, (epoch_us(ts) // 3600000000)"""


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = pagerank(
        spark, demo_edges(spark, sf_dir), max_supersteps=5, num_partitions=NP
    )
    return run.vertices.select("id", F.round("rank", 7).alias("rank"))


def q_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl incremental PageRank: iterate on the previous
    crawl's edge subset ((src*31+dst)%10 < 8), then warm-start the
    full-graph run from those ranks via ``init_ranks`` — vertices new to
    this crawl seed at 1.0 and the carried vector is mass-rescaled to N
    (pagerank.py init_ranks branch). Fixed supersteps both phases so the
    oracle replays the exact path; the convergence-speed claim lives in
    test_pagerank_init_ranks_warm_start."""
    e = demo_edges(spark, sf_dir)
    old = e.where((F.col("src") * 31 + F.col("dst")) % 10 < 8)
    first = pagerank(spark, old, max_supersteps=3, num_partitions=NP)
    run = pagerank(
        spark, e, max_supersteps=3, init_ranks=first.vertices,
        num_partitions=NP,
    )
    return run.vertices.select("id", F.round("rank", 7).alias("rank"))


def q_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-superstep convergence metrics (the north-rule's monitored
    L1 residual): one row (superstep, l1) per PageRank round, read from
    the engine's superstep history and replayed by the oracle as
    per-iteration |delta| sums."""
    run = pagerank(
        spark, demo_edges(spark, sf_dir), max_supersteps=5, num_partitions=NP
    )
    rows = [
        (i + 1, float(h["l1"])) for i, h in enumerate(run.history) if "l1" in h
    ]
    # round engine-side (HALF_UP, matching DuckDB) — not Python banker's
    return spark.createDataFrame(rows, "superstep long, l1 double").select(
        "superstep", F.round("l1", 6).alias("l1")
    )


def q_top_pages_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed ranking pipeline: PageRank -> host bucket (id % 64) ->
    skew-safe two-level top-3 per host (grouped_topk) — the per-site
    'best pages' serving table a search/crawl stack materializes."""
    from giraph_spark.graph import grouped_topk

    run = pagerank(
        spark, demo_edges(spark, sf_dir), max_supersteps=5, num_partitions=NP
    )
    ranked = run.vertices.select(
        "id", (F.col("id") % 64).alias("host"), F.round("rank", 7).alias("rank")
    )
    return grouped_topk(
        ranked, ["host"], [F.desc("rank"), F.asc("id")], 3,
        salt=8, salt_on="id",
    ).select("id", "host", "rank", F.col("rk").cast("long").alias("rk"))


def q_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same PageRank, but reading the persisted bucketed-by-src edge
    table — the superstep scatter join has no edge-side Exchange."""
    from giraph_spark.storage import read_bucketed_edges, write_bucketed_edges

    write_bucketed_edges(demo_edges(spark, sf_dir), "demo_edges_bucketed", buckets=NP)
    e = read_bucketed_edges(spark, "demo_edges_bucketed")
    run = pagerank(
        spark, e, max_supersteps=5, num_partitions=NP, pre_partitioned=True
    )
    return run.vertices.select("id", F.round("rank", 7).alias("rank"))


def q_wcc_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WCC reading a SYMMETRIZED bucketed-by-src table with
    pre_partitioned=True — the exchange-free superstep path for the
    component algorithm (caller guarantees symmetry, as documented)."""
    from giraph_spark.graph import symmetrize
    from giraph_spark.storage import read_bucketed_edges, write_bucketed_edges

    write_bucketed_edges(
        symmetrize(demo_edges(spark, sf_dir)), "demo_sym_bucketed", buckets=NP
    )
    e = read_bucketed_edges(spark, "demo_sym_bucketed")
    run = connected_components(
        spark, e, num_partitions=NP, pre_partitioned=True
    )
    return run.vertices


def q_pagerank_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same PageRank through the two-level salted gather (salt=8) — the
    hub-skew path the north rule names; must be value-identical."""
    run = pagerank(
        spark, demo_edges(spark, sf_dir), max_supersteps=5, salt=8,
        num_partitions=NP,
    )
    return run.vertices.select("id", F.round("rank", 7).alias("rank"))


def q_pagerank_randomwalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.pagerank import pagerank_random_walk

    run = pagerank_random_walk(
        spark, demo_edges(spark, sf_dir), teleport=0.15, max_supersteps=8,
        num_partitions=NP,
    )
    return run.vertices.select("id", F.round("rank", 9).alias("rank"))


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = pagerank(
        spark, with_weight(demo_edges(spark, sf_dir)), max_supersteps=4,
        weighted=True, num_partitions=NP,
    )
    return run.vertices.select("id", F.round("rank", 7).alias("rank"))


def q_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = connected_components(spark, demo_edges(spark, sf_dir), num_partitions=NP)
    return run.vertices


def q_wcc_resumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule resumability, driver-gated: run WCC for 3 supersteps
    with a reliable checkpoint, 'crash', resume from the checkpoint and
    converge — the final labels must equal the cold-run oracle
    (TestCheckpointing.java:99-147 semantics)."""
    import shutil
    import tempfile

    ck = tempfile.mkdtemp(prefix="gs_ck_")
    try:
        e = demo_edges(spark, sf_dir)
        connected_components(
            spark, e, max_supersteps=3, checkpoint_dir=ck,
            checkpoint_interval=2, num_partitions=NP,
        )
        run = connected_components(
            spark, e, max_supersteps=50, checkpoint_dir=ck,
            checkpoint_interval=2, resume=True, num_partitions=NP,
        )
        out = run.vertices
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return out


def q_wcc_mutated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-run mutation, driver-gated: min-label WCC starts on 80% of
    the symmetric edges; at superstep 2 the remaining 20% are ADDED via
    the VertexResolver mutation path (run_mutable_supersteps) and the
    loop continues to convergence. Final labels must equal cold WCC of
    the FULL graph — the standard wcc oracle."""
    from giraph_spark.graph import symmetrize, vertices_from_edges
    from giraph_spark.mutation import GraphChanges, run_mutable_supersteps
    from giraph_spark.pregel import gather_messages

    e_full = demo_edges(spark, sf_dir)
    sym = symmetrize(e_full)
    pred = (F.col("src") * 31 + F.col("dst")) % 10 < 8
    e0 = sym.where(pred)
    delta = sym.where(~pred)
    verts = vertices_from_edges(sym).select(
        "id", F.col("id").alias("component")
    )

    def step(v, e, superstep):
        msgs = e.join(
            v.select(F.col("id").alias("src"), "component").hint("shuffle_hash"),
            "src",
        ).select("dst", F.col("component").alias("msg"))
        gathered = gather_messages(msgs, [("msg", "min")], key="dst")
        new_v = (
            v.join(gathered.withColumnRenamed("dst", "id"), "id", "left")
            .select(
                "id",
                F.least("component", F.coalesce("msg", "component")).alias(
                    "component"
                ),
                (F.coalesce("msg", "component") < F.col("component")).alias(
                    "_changed"
                ),
            )
        )
        # ONE action fills the cache and counts the changed labels
        row = new_v.persist().agg(F.sum(F.when(F.col("_changed"), 1).otherwise(0))).collect()[0]
        stats = {"changed": int(row[0] or 0)}
        changes = GraphChanges(add_edges=delta) if superstep == 2 else None
        return new_v.drop("_changed"), stats, changes, None

    run = run_mutable_supersteps(
        spark, verts, e0, step, max_supersteps=40,
        halt=lambda stats, i: i >= 3 and stats["changed"] == 0,
        create_on_message=False,
    )
    return run.vertices.select("id", "component")


def q_wcc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl incremental WCC: converge labels on the first
    crawl window (src % 10 < 7 edge subset), then warm-start on the full
    graph from those labels (init_components). Final labels are exactly
    the cold full-graph WCC — the oracle — reached in fewer supersteps
    because only the delta's diameter must propagate."""
    e = demo_edges(spark, sf_dir)
    old = e.where((F.col("src") % 10 < 7) & (F.col("dst") % 10 < 7))
    first = connected_components(spark, old, num_partitions=NP)
    run = connected_components(
        spark, e, init_components=first.vertices, num_partitions=NP
    )
    return run.vertices


def q_wcc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WCC via alternating large-star/small-star contraction — O(log n)
    rounds vs the frontier variant's diameter bound; identical output."""
    from giraph_spark.algorithms.wcc import connected_components_star

    run = connected_components_star(spark, demo_edges(spark, sf_dir), num_partitions=NP)
    return run.vertices


def q_lpa_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA with integer edge-weight votes (host-graph n_links case)."""
    run = label_propagation(
        spark, with_weight(demo_edges(spark, sf_dir)), max_supersteps=3,
        weight_col="weight", num_partitions=NP,
    )
    return run.vertices


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = label_propagation(
        spark, demo_edges(spark, sf_dir), max_supersteps=3, num_partitions=NP
    )
    return run.vertices


def q_maxlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = max_label_propagation(
        spark, demo_edges(spark, sf_dir), num_partitions=NP
    )
    return run.vertices


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangles_per_vertex(demo_edges(spark, sf_dir))


def q_triangle_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    # triangle_count frees its oriented-edge cache before it returns
    return spark.createDataFrame(
        [(triangle_count(demo_edges(spark, sf_dir)),)], "n_triangles long"
    )


def q_triangle_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance: triangles created by the 20%
    held-out edge delta, computed from the delta only (oracle does the
    full recount difference)."""
    from giraph_spark.algorithms.triangles import triangle_delta

    e = demo_edges(spark, sf_dir)
    pred = (F.col("src") * 31 + F.col("dst")) % 10 < 8
    return triangle_delta(e.where(pred), e.where(~pred))


_TRIANGLE_DELTA_SQL = f"""WITH {_GRAPH},
oldd AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src * 31 + dst) % 10 < 8),
co AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM oldd),
cn AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
tn AS (
  SELECT count(*)::BIGINT AS t FROM cn e1
  JOIN cn e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN cn e3 ON e3.a = e1.b AND e3.b = e2.b),
toq AS (
  SELECT count(*)::BIGINT AS t FROM co e1
  JOIN co e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN co e3 ON e3.a = e1.b AND e3.b = e2.b),
nd AS (
  SELECT count(*)::BIGINT AS n FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM co WHERE co.a = cn.a AND co.b = cn.b))
SELECT (SELECT t FROM tn) - (SELECT t FROM toq) AS added_triangles,
       (SELECT n FROM nd) AS n_new_edges"""


def q_rectangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle count via the diagonal-codegree formula (exact,
    integer arithmetic; see triangles.rectangle_count)."""
    from giraph_spark.algorithms.triangles import rectangle_count

    return rectangle_count(demo_edges(spark, sf_dir))


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient — 2T(v)/(deg(v)(deg(v)-1))
    over the symmetric graph; composes the oriented triangle count with
    the degree aggregate (both already exchange-minimal)."""
    e = demo_edges(spark, sf_dir)
    tri = triangles_per_vertex(e)
    deg = symmetrize(e).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return tri.join(deg, "id").select(
        "id",
        F.round(
            F.when(
                F.col("deg") >= 2,
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1.0)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("lcc"),
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-core of the demo graph (5 peeling rounds at sf0.01) — iterative
    degree-peel to fixpoint, one action per round."""
    from giraph_spark.algorithms.kcore import k_core

    return k_core(spark, demo_edges(spark, sf_dir), k=20, num_partitions=NP)


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie decomposition (CORE/IN/OUT/OTHER) of the demo
    graph relative to the canonical max-degree seed's SCC — two
    set-reachability closures, the web-graph structural census."""
    from giraph_spark.algorithms.bowtie import bowtie_decomposition

    return bowtie_decomposition(spark, demo_edges(spark, sf_dir), num_partitions=NP)


def _bowtie_sql(iters: int) -> str:
    parts = [
        _GRAPH,
        "bod AS MATERIALIZED (SELECT src AS id, count(*) AS c FROM edges GROUP BY src)",
        "bid AS MATERIALIZED (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst)",
        """bseed AS MATERIALIZED (
  SELECT v.id FROM verts v
  LEFT JOIN bod ON bod.id = v.id LEFT JOIN bid ON bid.id = v.id
  ORDER BY coalesce(bod.c, 0) + coalesce(bid.c, 0) DESC, v.id ASC LIMIT 1)""",
        "ff0 AS MATERIALIZED (SELECT id FROM bseed)",
        "bb0 AS MATERIALIZED (SELECT id FROM bseed)",
    ]
    for k in range(iters):
        parts.append(
            f"""ff{k + 1} AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM ff{k}
    UNION ALL
    SELECT e.dst AS id FROM ff{k} f JOIN edges e ON e.src = f.id))"""
        )
        parts.append(
            f"""bb{k + 1} AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM bb{k}
    UNION ALL
    SELECT e.src AS id FROM bb{k} b JOIN edges e ON e.dst = b.id))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.id,
  CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'CORE'
       WHEN b.id IS NOT NULL THEN 'IN'
       WHEN f.id IS NOT NULL THEN 'OUT'
       ELSE 'OTHER' END AS region
FROM verts v
LEFT JOIN ff{iters} f ON f.id = v.id
LEFT JOIN bb{iters} b ON b.id = v.id"""
    )


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs & authorities, 5 degree-normalized power iterations
    (L1-normalized distributions)."""
    from giraph_spark.algorithms.hits import salsa

    run = salsa(spark, demo_edges(spark, sf_dir), max_supersteps=5, num_partitions=NP)
    return run.vertices.select(
        "id", F.round("auth", 7).alias("auth"), F.round("hub", 7).alias("hub")
    )


def _salsa_sql(iters: int) -> str:
    parts = [
        _GRAPH,
        "od AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY src)",
        "idg AS MATERIALIZED (SELECT dst, count(*)::DOUBLE AS idg FROM edges GROUP BY dst)",
        """sl0 AS MATERIALIZED (
  SELECT id, 1.0 / (SELECT count(*) FROM verts) AS auth,
         1.0 / (SELECT count(*) FROM verts) AS hub FROM verts)""",
    ]
    for k in range(iters):
        parts.append(
            f"""sar{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS a_raw
  FROM sl{k} v LEFT JOIN (
    SELECT e.dst AS id, sum(x.hub / o.od) AS s
    FROM edges e JOIN sl{k} x ON x.id = e.src JOIN od o ON o.src = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id)"""
        )
        parts.append(
            f"""shr{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS h_raw
  FROM sl{k} v LEFT JOIN (
    SELECT e.src AS id, sum(a.a_raw / i.idg) AS s
    FROM edges e JOIN sar{k} a ON a.id = e.dst JOIN idg i ON i.dst = e.dst
    GROUP BY e.src
  ) m ON m.id = v.id)"""
        )
        parts.append(
            f"""sl{k + 1} AS MATERIALIZED (
  SELECT a.id,
         a.a_raw / (SELECT sum(a_raw) FROM sar{k}) AS auth,
         h.h_raw / (SELECT sum(h_raw) FROM shr{k}) AS hub
  FROM sar{k} a JOIN shr{k} h ON h.id = a.id)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(auth, 7) AS auth, round(hub, 7) AS hub FROM sl{iters}"
    )


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-source Brandes betweenness from the 8 lowest-id seeds (the
    sampled estimator; raw directed dependencies, unnormalized)."""
    from giraph_spark.algorithms.betweenness import betweenness_centrality

    e = demo_edges(spark, sf_dir)
    seeds = [
        r.id
        for r in e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(8)
        .collect()
    ]
    return betweenness_centrality(spark, e, seeds).select(
        "id", F.round("betweenness", 6).alias("betweenness")
    )


def _betweenness_sql(n_seeds: int, depth: int) -> str:
    """Unrolled Brandes: forward BFS levels f0..f{depth} with sigma
    sums, then backward dependency CTEs d{depth}..d0; ``depth`` must be
    >= the max seed eccentricity (empty levels are harmless)."""
    parts = [
        _GRAPH,
        f"seeds AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT {n_seeds})",
        "f0 AS MATERIALIZED (SELECT id AS seed, id, 1.0::DOUBLE AS sigma FROM seeds)",
        "s0 AS MATERIALIZED (SELECT seed, id FROM f0)",
    ]
    for k in range(depth):
        parts.append(
            f"""f{k + 1} AS MATERIALIZED (
  SELECT f.seed, e.dst AS id, sum(f.sigma) AS sigma
  FROM f{k} f JOIN edges e ON e.src = f.id
  WHERE NOT EXISTS (
    SELECT 1 FROM s{k} s WHERE s.seed = f.seed AND s.id = e.dst)
  GROUP BY f.seed, e.dst)"""
        )
        parts.append(
            f"""s{k + 1} AS MATERIALIZED (
  SELECT seed, id FROM s{k} UNION ALL SELECT seed, id FROM f{k + 1})"""
        )
    parts.append(
        f"d{depth} AS MATERIALIZED (SELECT seed, id, sigma, 0.0::DOUBLE AS delta FROM f{depth})"
    )
    for lvl in range(depth - 1, -1, -1):
        parts.append(
            f"""d{lvl} AS MATERIALIZED (
  SELECT f.seed, f.id, f.sigma, f.sigma * coalesce(g.s, 0.0) AS delta
  FROM f{lvl} f LEFT JOIN (
    SELECT w.seed, e.src AS id, sum((1.0 + w.delta) / w.sigma) AS s
    FROM d{lvl + 1} w JOIN edges e ON e.dst = w.id
    GROUP BY w.seed, e.src
  ) g ON g.seed = f.seed AND g.id = f.id)"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT id, delta FROM d{lvl}" for lvl in range(1, depth + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.id, round(coalesce(b.b, 0.0), 6) AS betweenness
FROM verts v LEFT JOIN (
  SELECT id, sum(delta) AS b FROM (
    {union}
  ) GROUP BY id
) b ON b.id = v.id"""
    )


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, 8 fixed iterations (alpha=0.05, beta=1),
    L2-normalized before rounding. Normalization makes the 7-dp compare
    scale-free: at a supercritical alpha the raw magnitudes grow with
    graph density, and a fixed decimal rounding eventually exceeds
    double precision (the sf0.1 delta of round 2); the normalized score
    is O(1/sqrt(n)) at every SF. The norm is one scalar aggregate."""
    from giraph_spark.algorithms.hits import katz_centrality

    run = katz_centrality(
        spark, demo_edges(spark, sf_dir), alpha=0.05, beta=1.0,
        max_supersteps=8, num_partitions=NP,
    )
    nrm = float(
        run.vertices.agg(F.sqrt(F.sum(F.pow("katz", 2)))).collect()[0][0]
    )
    return run.vertices.select(
        "id", F.round(F.col("katz") / F.lit(nrm), 7).alias("katz")
    )


def _katz_sql(iters: int, alpha: float = 0.05, beta: float = 1.0) -> str:
    """Unrolled Katz iteration x' = beta + alpha * in-gather(x)."""
    parts = [
        _GRAPH,
        f"k0 AS MATERIALIZED (SELECT id, {beta!r}::DOUBLE AS x FROM verts)",
    ]
    for k in range(iters):
        parts.append(
            f"""k{k + 1} AS MATERIALIZED (
  SELECT v.id, {beta!r} + {alpha!r} * coalesce(m.s, 0.0) AS x
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(x.x) AS s
    FROM edges e JOIN k{k} x ON x.id = e.src GROUP BY e.dst
  ) m ON m.id = v.id)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(x / (SELECT sqrt(sum(x * x)) FROM k{iters}), 7)"
        f" AS katz FROM k{iters}"
    )


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality, 5 power iterations (L2-normalized)."""
    from giraph_spark.algorithms.hits import eigenvector_centrality

    run = eigenvector_centrality(
        spark, demo_edges(spark, sf_dir), max_supersteps=5, num_partitions=NP
    )
    return run.vertices.select("id", F.round("score", 7).alias("score"))


def _eigenvector_sql(iters: int) -> str:
    parts = [
        _GRAPH,
        """x0 AS MATERIALIZED (
  SELECT id, 1.0 / sqrt((SELECT count(*) FROM verts)) AS x FROM verts)""",
    ]
    for k in range(iters):
        parts.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS r
  FROM x{k} v LEFT JOIN (
    SELECT e.dst AS id, sum(x.x) AS s
    FROM edges e JOIN x{k} x ON x.id = e.src GROUP BY e.dst
  ) m ON m.id = v.id)"""
        )
        parts.append(
            f"""x{k + 1} AS MATERIALIZED (
  SELECT id, r / (SELECT sqrt(sum(r * r)) FROM r{k}) AS x FROM r{k})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, round(x, 7) AS score FROM x{iters}"
    )


def q_watts_strogatz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz small-world generator, 512 vertices x 4 lattice
    neighbors, beta=0.1 — every generated edge replayed exactly by the
    portable-hash oracle (reference WattsStrogatzVertexInputFormat)."""
    from giraph_spark.datasets import watts_strogatz_edges

    return watts_strogatz_edges(spark, 512, 4, 0.1, seed=7)


def _watts_strogatz_sql(n: int, e: int, beta: float, seed: int) -> str:
    from giraph_spark.algorithms.mis import luby_priority_sql

    key = f"(src * {2 * e + 2} + 2 * j)"
    r = luby_priority_sql(key, seed)
    t = luby_priority_sql(f"({key} + 1)", seed)
    return f"""WITH ws AS (
  SELECT v.range AS src, j.range AS j FROM range(0, {n}) v, range(1, {e + 1}) j
),
drawn AS (
  SELECT src,
         CASE WHEN ({r}) % 10000 < {int(round(beta * 10_000))}
              THEN ({t}) % {n}
              ELSE (src + j) % {n} END AS dst
  FROM ws
)
SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst
FROM drawn WHERE src <> dst"""


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed demo graph (mutual-link fraction)."""
    from giraph_spark.graph import reciprocity

    return reciprocity(demo_edges(spark, sf_dir)).select(
        F.round("reciprocity", 6).alias("reciprocity")
    )


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3T/W of the demo graph."""
    from giraph_spark.graph import transitivity

    return transitivity(demo_edges(spark, sf_dir)).select(
        F.round("transitivity", 6).alias("transitivity")
    )


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the demo graph — every surviving edge closes >= 2
    triangles inside the truss; (u, v, support) with u < v."""
    from giraph_spark.algorithms.kcore import k_truss

    return k_truss(spark, demo_edges(spark, sf_dir), k=4, num_partitions=NP)


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition of the demo graph (coreness 8..20 at
    sf0.01) — ascending-k sequential peel, each k from the previous
    core's edge set."""
    from giraph_spark.algorithms.kcore import coreness

    return coreness(spark, demo_edges(spark, sf_dir), num_partitions=NP)


_DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _oracle_sf_dir() -> str:
    """SF dir the decomposition-oracle unroll bounds are measured on.

    The driver's gate runs at sf0.01 (the default); the committed sf0.1
    sweep sets SPARK_GRAFT_ORACLE_SF_DIR so the same oracle strings are
    emitted with that SF's measured k-range instead of the gate's."""
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", _DEFAULT_ORACLE_SF_DIR)


@_functools.lru_cache(maxsize=8)
def _peel_bounds(sf_dir: str) -> tuple[tuple[int, int], ...]:
    """Measure, with DuckDB alone (no Spark anywhere), how many peel
    cascade rounds each k of the ascending-k core decomposition needs on
    the demo graph built from ``sf_dir`` — the unroll bound is then
    emitted from the data, not from a hardcoded gate-SF regime. Still a
    fully independent oracle: the iteration below is the same DuckDB
    relational peel the unrolled CTE chain replays, just driven to
    fixpoint from Python instead of a fixed-depth string."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    con.execute(
        f"CREATE TEMP TABLE ce AS WITH edges AS ({DEMO_EDGES_SQL}) "
        "SELECT DISTINCT * FROM (SELECT src, dst FROM edges "
        "UNION ALL SELECT dst AS src, src AS dst FROM edges)"
    )
    n = con.execute("SELECT count(*) FROM ce").fetchone()[0]
    out: list[tuple[int, int]] = []
    k = 0
    while n > 0:
        k += 1
        r = 0
        while True:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE ce2 AS "
                "SELECT e.src, e.dst FROM ce e JOIN (SELECT src FROM ce "
                f"GROUP BY src HAVING count(*) >= {k}) a ON a.src = e.src "
                "JOIN (SELECT src FROM ce GROUP BY src HAVING "
                f"count(*) >= {k}) b ON b.src = e.dst"
            )
            r += 1
            n2 = con.execute("SELECT count(*) FROM ce2").fetchone()[0]
            con.execute("CREATE OR REPLACE TEMP TABLE ce AS SELECT * FROM ce2")
            if n2 == n:
                break
            n = n2
        out.append((k, r))
    con.close()
    return tuple(out)


@_functools.lru_cache(maxsize=8)
def _truss_bounds(sf_dir: str) -> tuple[tuple[int, int], ...]:
    """Same data-driven measurement as :func:`_peel_bounds` for the
    truss decomposition: per-k support-peel cascade depths on the demo
    graph of ``sf_dir``, measured with DuckDB alone."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    con.execute(
        f"CREATE TEMP TABLE th AS WITH edges AS ({DEMO_EDGES_SQL}), "
        "sym AS (SELECT DISTINCT * FROM (SELECT src, dst FROM edges "
        "UNION ALL SELECT dst AS src, src AS dst FROM edges)) "
        "SELECT src AS u, dst AS v FROM sym WHERE src < dst"
    )
    n = con.execute("SELECT count(*) FROM th").fetchone()[0]
    out: list[tuple[int, int]] = []
    k = 2
    while n > 0:
        k += 1
        r = 0
        while True:
            con.execute(
                """CREATE OR REPLACE TEMP TABLE th2 AS
SELECT h.u, h.v FROM th h JOIN (
  SELECT u, v, count(*) AS sup FROM (
    SELECT e1.u AS u, e1.v AS v FROM th e1
    JOIN th e2 ON e2.u = e1.v JOIN th e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.u, e2.v FROM th e1
    JOIN th e2 ON e2.u = e1.v JOIN th e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.v, e2.v FROM th e1
    JOIN th e2 ON e2.u = e1.v JOIN th e3 ON e3.u = e1.u AND e3.v = e2.v
  ) GROUP BY u, v
) s ON s.u = h.u AND s.v = h.v WHERE s.sup >= """
                + str(k - 2)
            )
            r += 1
            n2 = con.execute("SELECT count(*) FROM th2").fetchone()[0]
            con.execute("CREATE OR REPLACE TEMP TABLE th AS SELECT * FROM th2")
            if n2 == n:
                break
            n = n2
        out.append((k, r))
    con.close()
    return tuple(out)


def _coreness_bounds() -> dict[int, int]:
    try:
        return dict(_peel_bounds(_oracle_sf_dir()))
    except Exception:  # probe table unreadable: gate-SF (sf0.01) regime
        return {**{k: 1 for k in range(1, 9)}, **{k: 8 for k in range(9, 21)}, 21: 34}


def _trussness_bounds() -> dict[int, int]:
    try:
        return dict(_truss_bounds(_oracle_sf_dir()))
    except Exception:  # probe table unreadable: gate-SF (sf0.01) regime
        return {3: 4, 4: 6, 5: 4}


def _coreness_sql(rounds_per_k: dict[int, int]) -> str:
    """Unrolled ascending-k peel with per-k cascade depths MEASURED from
    the data (``_peel_bounds``): the round-2 version hardcoded the gate
    SF's k-range (coreness 8..20 at sf0.01) and clipped at sf0.1 where
    the same demo graph is ~10x denser. Now the k-loop is emitted from
    the target table itself — DuckDB measures how many cascade rounds
    each k needs (1 for every k at or below the minimum degree, where
    the peel is a verified no-op), so the unroll is exact at any SF."""
    max_k = max(rounds_per_k)
    parts = [_GRAPH, _SYM, "ce0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    idx = 0
    core_edges = {}
    for k in range(1, max_k + 1):
        r_k = rounds_per_k.get(k, 1)
        for _ in range(r_k):
            parts.append(
                f"""ck{idx} AS MATERIALIZED (
  SELECT src FROM ce{idx} GROUP BY src HAVING count(*) >= {k})"""
            )
            parts.append(
                f"""ce{idx + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM ce{idx} e
  JOIN ck{idx} a ON a.src = e.src
  JOIN ck{idx} b ON b.src = e.dst)"""
            )
            idx += 1
        core_edges[k] = f"ce{idx}"
    member_union = "\n    UNION ALL ".join(
        f"SELECT DISTINCT src AS id, {k} AS k FROM {core_edges[k]}"
        for k in range(1, max_k + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.id, coalesce(m.c, 0)::BIGINT AS coreness
FROM verts v LEFT JOIN (
  SELECT id, max(k) AS c FROM (
    {member_union}
  ) GROUP BY id
) m ON m.id = v.id"""
    )


def q_trussness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full truss decomposition of the demo graph (trussness 2..4 at
    sf0.01) — the edge analog of coreness."""
    from giraph_spark.algorithms.kcore import trussness

    return trussness(spark, demo_edges(spark, sf_dir), num_partitions=NP)


def _trussness_sql(rounds_per_k: dict[int, int]) -> str:
    """Chained per-k truss peels; cascade depths come MEASURED from the
    target SF's data (``_truss_bounds``), so the unroll is exact at any
    SF; trussness = max k whose final truss contains the edge, else 2."""
    parts = [
        _GRAPH,
        _SYM,
        "th0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM sym WHERE src < dst)",
    ]
    idx = 0
    finals = {}
    prev = "th0"
    for k in sorted(rounds_per_k):
        for _ in range(rounds_per_k[k]):
            parts.append(
                f"""ts{idx} AS MATERIALIZED (
  SELECT u, v, count(*)::BIGINT AS sup FROM (
    SELECT e1.u AS u, e1.v AS v FROM {prev} e1
    JOIN {prev} e2 ON e2.u = e1.v JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.u, e2.v FROM {prev} e1
    JOIN {prev} e2 ON e2.u = e1.v JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.v, e2.v FROM {prev} e1
    JOIN {prev} e2 ON e2.u = e1.v JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
  ) GROUP BY u, v)"""
            )
            parts.append(
                f"""th{idx + 1} AS MATERIALIZED (
  SELECT h.u, h.v FROM {prev} h JOIN ts{idx} s ON s.u = h.u AND s.v = h.v
  WHERE s.sup >= {k - 2})"""
            )
            prev = f"th{idx + 1}"
            idx += 1
        finals[k] = prev
    member_union = "\n    UNION ALL ".join(
        f"SELECT u, v, {k} AS k FROM {finals[k]}" for k in sorted(finals)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT h.u, h.v, coalesce(m.t, 2)::BIGINT AS trussness
FROM th0 h LEFT JOIN (
  SELECT u, v, max(k) AS t FROM (
    {member_union}
  ) GROUP BY u, v
) m ON m.u = h.u AND m.v = h.v"""
    )


def _trussness_delta_sql(rounds_per_k: dict[int, int]) -> str:
    """Memory-bounded trussness oracle for dense SFs: support computed
    ONCE, then each unrolled peel round removes sup < k-2 edges and
    decrements the other edges of the triangles through the removed
    frontier (wedge probe against the live edge set). Exact same final
    table as :func:`_trussness_sql`; per-round intermediates are
    edge-sized instead of triangle-recount-sized — the recount chain's
    materialized CTEs pinned >44 GiB in DuckDB at sf0.1 and OOMed even
    with a spill directory. The recount form stays the gate-SF oracle
    (fully independent of the engine's delta formulation); this form is
    emitted only when the measured unroll is too deep for the recount
    chain (``oracle_sql`` picks by total rounds)."""
    parts = [
        _GRAPH,
        _SYM,
        "h0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM sym WHERE src < dst)",
        """s0 AS MATERIALIZED (
  SELECT h.u, h.v, coalesce(t.sup, 0) AS sup FROM h0 h LEFT JOIN (
    SELECT u, v, count(*)::BIGINT AS sup FROM (
      SELECT e1.u AS u, e1.v AS v FROM h0 e1
      JOIN h0 e2 ON e2.u = e1.v JOIN h0 e3 ON e3.u = e1.u AND e3.v = e2.v
      UNION ALL
      SELECT e1.u, e2.v FROM h0 e1
      JOIN h0 e2 ON e2.u = e1.v JOIN h0 e3 ON e3.u = e1.u AND e3.v = e2.v
      UNION ALL
      SELECT e1.v, e2.v FROM h0 e1
      JOIN h0 e2 ON e2.u = e1.v JOIN h0 e3 ON e3.u = e1.u AND e3.v = e2.v
    ) GROUP BY u, v) t ON t.u = h.u AND t.v = h.v)""",
    ]
    idx = 0
    labels = []
    for k in sorted(rounds_per_k):
        for _ in range(rounds_per_k[k]):
            parts.append(
                f"""rem{idx} AS MATERIALIZED (
  SELECT u, v, sup FROM s{idx} WHERE sup < {k - 2})"""
            )
            parts.append(
                f"""kill{idx} AS MATERIALIZED (
  SELECT DISTINCT least(r.u, r.v, adj.q) AS a,
         r.u + r.v + adj.q - least(r.u, r.v, adj.q)
                           - greatest(r.u, r.v, adj.q) AS b,
         greatest(r.u, r.v, adj.q) AS c
  FROM (SELECT u, v FROM rem{idx} WHERE sup > 0) r
  JOIN (SELECT u AS p, v AS q FROM s{idx}
        UNION ALL SELECT v, u FROM s{idx}) adj ON adj.p = r.u
  JOIN s{idx} e2 ON e2.u = least(r.v, adj.q) AND e2.v = greatest(r.v, adj.q)
  WHERE adj.q <> r.v)"""
            )
            parts.append(
                f"""s{idx + 1} AS MATERIALIZED (
  SELECT s.u, s.v, s.sup - coalesce(d.c, 0) AS sup
  FROM s{idx} s
  LEFT JOIN (SELECT u, v, count(*)::BIGINT AS c FROM (
      SELECT a AS u, b AS v FROM kill{idx}
      UNION ALL SELECT a, c FROM kill{idx}
      UNION ALL SELECT b, c FROM kill{idx}) GROUP BY u, v) d
    ON d.u = s.u AND d.v = s.v
  WHERE NOT EXISTS (SELECT 1 FROM rem{idx} r
                    WHERE r.u = s.u AND r.v = s.v))"""
            )
            labels.append(f"SELECT u, v, {k - 1} AS t FROM rem{idx}")
            idx += 1
    member_union = "\n    UNION ALL ".join(labels)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT h.u, h.v, coalesce(m.t, 2)::BIGINT AS trussness
FROM h0 h LEFT JOIN (
  SELECT u, v, max(t) AS t FROM (
    {member_union}
  ) GROUP BY u, v
) m ON m.u = h.u AND m.v = h.v"""
    )


def _trussness_oracle_sql() -> str:
    """Pick the trussness oracle formulation by measured unroll depth:
    the fully-independent recount chain at gate SF (shallow unrolls),
    the memory-bounded delta form for dense SFs whose recount chain
    exceeds DuckDB's pinnable memory."""
    bounds = _trussness_bounds()
    total_rounds = sum(bounds.values())
    if total_rounds <= 20:
        return _trussness_sql(bounds)
    return _trussness_delta_sql(bounds)


_DENSEST_EPS = 0.5  # factor 2*(1+eps) = 3.0, exactly representable in IEEE


def q_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest subgraph via the Bahmani-Kumar-Vassilvitskii (1+eps)
    peel (densest.py) — per-vertex removal round + membership in the
    best-density survivor set. Deterministic given eps, so the oracle
    replays the identical peel as an unrolled CTE chain whose depth is
    MEASURED from the data by a DuckDB-only probe (same protocol as the
    coreness/trussness oracles)."""
    from giraph_spark.algorithms.densest import densest_subgraph

    res = densest_subgraph(
        spark, demo_edges(spark, sf_dir), eps=_DENSEST_EPS, num_partitions=NP
    )
    return res.vertices.select("id", "removal_round", "in_densest")


@_functools.lru_cache(maxsize=8)
def _densest_rounds(sf_dir: str) -> int:
    """Measure, with DuckDB alone, how many peel rounds the (1+eps)
    densest-subgraph cascade needs on the demo graph of ``sf_dir`` —
    the unroll depth for :func:`_densest_sql`."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    con.execute(
        f"CREATE TEMP TABLE se AS WITH edges AS ({DEMO_EDGES_SQL}) "
        "SELECT DISTINCT * FROM (SELECT src, dst FROM edges "
        "UNION ALL SELECT dst AS src, src AS dst FROM edges)"
    )
    con.execute(
        "CREATE TEMP TABLE alive AS SELECT src AS id FROM se "
        "UNION SELECT dst FROM se"
    )
    factor = 2.0 * (1.0 + _DENSEST_EPS)
    r = 0
    while True:
        n = con.execute("SELECT count(*) FROM alive").fetchone()[0]
        if n == 0:
            break
        r += 1
        con.execute(
            "CREATE OR REPLACE TEMP TABLE dg AS "
            "SELECT a.id, coalesce(c.cnt, 0) AS deg FROM alive a LEFT JOIN ("
            "SELECT s.src AS id, count(*) AS cnt FROM se s "
            "JOIN alive x ON x.id = s.src JOIN alive y ON y.id = s.dst "
            "GROUP BY s.src) c ON c.id = a.id"
        )
        m2 = con.execute("SELECT coalesce(sum(deg), 0) FROM dg").fetchone()[0]
        rho = (m2 / 2) / n
        con.execute(
            "CREATE OR REPLACE TEMP TABLE alive AS "
            f"SELECT id FROM dg WHERE deg > {factor!r} * {rho!r}"
        )
    con.close()
    return r


def _densest_sql(rounds: int) -> str:
    factor = repr(2.0 * (1.0 + _DENSEST_EPS))
    parts = [
        _GRAPH,
        _SYM,
        "a0 AS MATERIALIZED (SELECT id FROM verts)",
    ]
    for i in range(1, rounds + 1):
        p = f"a{i - 1}"
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT a.id, coalesce(c.cnt, 0) AS deg FROM {p} a LEFT JOIN (
    SELECT s.src AS id, count(*) AS cnt FROM sym s
    JOIN {p} x ON x.id = s.src JOIN {p} y ON y.id = s.dst
    GROUP BY s.src) c ON c.id = a.id)"""
        )
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT count(*) AS n, "
            f"coalesce(sum(deg), 0) AS m2 FROM d{i})"
        )
        parts.append(
            f"""rem{i} AS MATERIALIZED (
  SELECT id FROM d{i}
  WHERE deg <= {factor} * ((SELECT m2 FROM g{i})::DOUBLE / 2
                           / (SELECT n FROM g{i})))"""
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT a.id FROM a{i - 1} a "
            f"ANTI JOIN rem{i} r ON r.id = a.id)"
        )
    removal = "\nUNION ALL ".join(
        f"SELECT id, {i} AS removal_round FROM rem{i}" for i in range(1, rounds + 1)
    )
    dens = "\nUNION ALL ".join(
        f"SELECT {i} AS r, (SELECT m2 FROM g{i})::DOUBLE / 2 "
        f"/ (SELECT n FROM g{i}) AS rho"
        for i in range(1, rounds + 1)
    )
    parts.append(f"removal AS MATERIALIZED ({removal})")
    parts.append(f"dens AS ({dens})")
    parts.append("best AS (SELECT r FROM dens ORDER BY rho DESC, r ASC LIMIT 1)")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT v.id, rm.removal_round::INTEGER AS removal_round,
       (rm.removal_round >= (SELECT r FROM best)) AS in_densest
FROM verts v JOIN removal rm ON rm.id = v.id"""
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, 5 power iterations (L2-normalized)."""
    from giraph_spark.algorithms.hits import hits

    run = hits(spark, demo_edges(spark, sf_dir), max_supersteps=5, num_partitions=NP)
    return run.vertices.select(
        "id", F.round("auth", 7).alias("auth"), F.round("hub", 7).alias("hub")
    )


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality from the 8 lowest-id seeds (one multi-seed
    BFS; the Common-Crawl host-ranking metric, sampled-seed estimator)."""
    from giraph_spark.algorithms.paths import harmonic_centrality

    e = demo_edges(spark, sf_dir)
    seeds = [
        r.id
        for r in e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(8)
        .collect()
    ]
    run = harmonic_centrality(spark, e, seeds, num_partitions=NP)
    return run.vertices.select(
        "id", F.round("harmonic", 6).alias("harmonic"), "n_reached"
    )


def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed eccentricity from the 8 lowest-id seeds — the sampled-BFS
    diameter lower bound, sharing the single multi-seed BFS with
    ``q_harmonic``."""
    from giraph_spark.algorithms.paths import eccentricity

    e = demo_edges(spark, sf_dir)
    seeds = [
        r.id
        for r in e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(8)
        .collect()
    ]
    run = eccentricity(spark, e, seeds, num_partitions=NP)
    return run.vertices.select("seed", "eccentricity", "n_reached")


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reachable-set closeness from the 8 lowest-id seeds — third
    aggregate over the same single multi-seed BFS as harmonic and
    eccentricity."""
    from giraph_spark.algorithms.paths import closeness_centrality

    e = demo_edges(spark, sf_dir)
    seeds = [
        r.id
        for r in e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(8)
        .collect()
    ]
    run = closeness_centrality(spark, e, seeds, num_partitions=NP)
    return run.vertices.select(
        "seed", F.round("closeness", 6).alias("closeness"), "n_reached"
    )


def _closeness_sql(n_seeds: int, iters: int) -> str:
    return (
        "WITH "
        + ",\n".join(_multi_bfs_parts(n_seeds, iters))
        + f"""
SELECT s.id AS seed, round(r.c / r.sd, 6) AS closeness,
       coalesce(r.c, 0)::BIGINT AS n_reached
FROM seeds s LEFT JOIN (
  SELECT seed, count(*)::DOUBLE AS c, sum(d)::DOUBLE AS sd
  FROM b{iters} WHERE d > 0 GROUP BY seed
) r ON r.seed = s.id"""
    )


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA(3) community partition — the quality
    scalar a community-detection pipeline reports next to its labels."""
    from giraph_spark.graph import modularity

    e = demo_edges(spark, sf_dir)
    labels = label_propagation(spark, e, max_supersteps=3, num_partitions=NP).vertices
    return modularity(e, labels).select(
        F.round("modularity", 6).alias("modularity")
    )


def _multi_bfs_parts(n_seeds: int, iters: int) -> list[str]:
    """Unrolled multi-seed BFS from the ``n_seeds`` lowest-id vertices:
    b{iters} holds every reached (seed, id, d) pair."""
    parts = [
        _GRAPH,
        f"seeds AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT {n_seeds})",
        "b0 AS MATERIALIZED (SELECT id AS seed, id, 0::BIGINT AS d FROM seeds)",
    ]
    for k in range(iters):
        parts.append(
            f"""b{k + 1} AS MATERIALIZED (
  SELECT seed, id, min(d) AS d FROM (
    SELECT seed, id, d FROM b{k}
    UNION ALL
    SELECT b.seed, e.dst AS id, b.d + 1 AS d
    FROM b{k} b JOIN edges e ON e.src = b.id
  ) GROUP BY seed, id
)"""
        )
    return parts


def _eccentricity_sql(n_seeds: int, iters: int) -> str:
    return (
        "WITH "
        + ",\n".join(_multi_bfs_parts(n_seeds, iters))
        + f"""
SELECT seed, max(d)::BIGINT AS eccentricity,
       sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_reached
FROM b{iters} GROUP BY seed"""
    )


def _harmonic_sql(n_seeds: int, iters: int) -> str:
    return (
        "WITH "
        + ",\n".join(_multi_bfs_parts(n_seeds, iters))
        + f"""
SELECT v.id, round(coalesce(h.h, 0.0), 6) AS harmonic,
       coalesce(h.c, 0)::BIGINT AS n_reached
FROM verts v LEFT JOIN (
  SELECT id, sum(CASE WHEN d > 0 THEN 1.0 / d ELSE 0.0 END) AS h,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS c
  FROM b{iters} GROUP BY id
) h ON h.id = v.id"""
    )


def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row global graph profile: |V|, |E|, density, max out-degree,
    sink/source counts — the dashboard row a crawl-ops page shows."""
    e = demo_edges(spark, sf_dir)
    from giraph_spark.graph import vertices_from_edges

    v = vertices_from_edges(e)
    srcs = e.select("src").distinct()
    dsts = e.select("dst").distinct()
    nv = v.count()
    ne = e.count()
    max_out = e.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    n_sinks = v.join(srcs.withColumnRenamed("src", "id"), "id", "left_anti").count()
    n_sources = v.join(dsts.withColumnRenamed("dst", "id"), "id", "left_anti").count()
    # density rounded engine-side (F.round = HALF_UP, matching DuckDB's
    # half-away-from-zero) — Python round() is banker's and diverges on
    # .5e-6 boundaries (same class as the quality_scores fix).
    return spark.createDataFrame(
        [(nv, ne, max_out, n_sinks, n_sources)],
        "n_vertices long, n_edges long, "
        "max_out_degree long, n_sinks long, n_sources long",
    ).select(
        "n_vertices",
        "n_edges",
        F.when(
            F.col("n_vertices") > 1,
            F.round(
                F.col("n_edges")
                / (F.col("n_vertices") * (F.col("n_vertices") - F.lit(1))),
                6,
            ),
        ).alias("density"),
        "max_out_degree",
        "n_sinks",
        "n_sources",
    )


_GRAPH_SUMMARY_SQL = f"""WITH {_GRAPH},
od AS (SELECT src, count(*) AS c FROM edges GROUP BY src)
SELECT (SELECT count(*) FROM verts)::BIGINT AS n_vertices,
       (SELECT count(*) FROM edges)::BIGINT AS n_edges,
       round((SELECT count(*) FROM edges) * 1.0 /
             ((SELECT count(*) FROM verts) * ((SELECT count(*) FROM verts) - 1)),
             6) AS density,
       (SELECT max(c) FROM od)::BIGINT AS max_out_degree,
       (SELECT count(*) FROM verts v WHERE v.id NOT IN (SELECT src FROM edges))::BIGINT AS n_sinks,
       (SELECT count(*) FROM verts v WHERE v.id NOT IN (SELECT dst FROM edges))::BIGINT AS n_sources"""


def q_mean_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled mean shortest-path length from the 8 lowest-id seeds
    (shares the multi-seed BFS with harmonic/eccentricity)."""
    from giraph_spark.algorithms.paths import mean_distance

    e = demo_edges(spark, sf_dir)
    seeds = [
        r.id
        for r in e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(8)
        .collect()
    ]
    return mean_distance(spark, e, seeds, num_partitions=NP)


def _mean_distance_sql(n_seeds: int = 8, iters: int = 25) -> str:
    return (
        "WITH "
        + ",\n".join(_multi_bfs_parts(n_seeds, iters))
        + f"""
SELECT count(*)::BIGINT AS n_pairs, round(avg(d), 6) AS mean_dist
FROM b{iters} WHERE d > 0"""
    )


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: unlinked pairs sharing a common
    neighbor of degree ≤ 25 (the disclosed super-node cap)."""
    from giraph_spark.algorithms.linkpred import adamic_adar

    return adamic_adar(demo_edges(spark, sf_dir), max_degree=25).select(
        "u", "v", "common_neighbors", F.round("aa", 6).alias("aa")
    )


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation pairs: targets linked by >=2 common sources (pivot
    out-degree capped at 64 — the disclosed hub bound)."""
    from giraph_spark.algorithms.linkpred import cocitation

    return cocitation(demo_edges(spark, sf_dir), min_count=2, max_out_degree=64)


def q_bib_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic coupling: sources sharing >=2 common link targets
    (pivot in-degree capped at 64)."""
    from giraph_spark.algorithms.linkpred import bibliographic_coupling

    return bibliographic_coupling(
        demo_edges(spark, sf_dir), min_count=2, max_in_degree=64
    )


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup stats: fraction of each
    doc's 8-token windows appearing verbatim in another doc."""
    from giraph_spark.dedup import window_dup_stats

    return window_dup_stats(_docs(spark, sf_dir), n=8, threshold=0.5)


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding table."""
    from giraph_spark.embeddings import quantize_int8

    # q is serialized to a comma-joined string so the driver's
    # column-sorted value hash sees a scalar cell, not an array object
    return quantize_int8(_emb(spark, sf_dir)).select(
        "vec_id", "scale", F.array_join("q", ",").alias("q")
    )


def q_degree_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution quantiles (linear interpolation — the
    same convention as DuckDB quantile_cont) + max."""
    e = demo_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.agg(
        F.round(F.expr("percentile(deg, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(deg, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(deg, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(deg, 0.99)"), 6).alias("p99"),
        F.max("deg").cast("long").alias("max_deg"),
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.graph import degree_assortativity

    return degree_assortativity(demo_edges(spark, sf_dir)).select(
        F.round("assortativity", 6).alias("assortativity")
    )


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic walk corpus: one 6-step hash-seeded walk per vertex
    (the DeepWalk/node2vec sampling stage)."""
    from giraph_spark.algorithms.walks import random_walks

    return random_walks(spark, demo_edges(spark, sf_dir), length=6, seed=7,
                        num_partitions=NP)


def q_gnn_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two GNN mean-aggregation layers over a deterministic synthetic
    feature — the per-epoch message-passing materialization."""
    from giraph_spark.algorithms.linkpred import neighborhood_mean
    from giraph_spark.graph import vertices_from_edges

    e = demo_edges(spark, sf_dir)
    feats = vertices_from_edges(e).select(
        "id", ((F.col("id") * 31 % 97) / 97.0).alias("f")
    )
    out = neighborhood_mean(e, feats, hops=2)
    return out.select(
        "id", F.round("h1", 6).alias("h1"), F.round("h2", 6).alias("h2")
    )


_GNN_AGG_SQL = f"""WITH {_GRAPH},
f0 AS MATERIALIZED (SELECT id, ((id * 31) % 97) / 97.0 AS h0 FROM verts),
a1 AS MATERIALIZED (
  SELECT e.dst AS id, avg(f.h0) AS h1
  FROM edges e JOIN f0 f ON f.id = e.src GROUP BY e.dst),
f1 AS MATERIALIZED (
  SELECT v.id, a.h1 FROM f0 v LEFT JOIN a1 a ON a.id = v.id),
a2 AS (
  SELECT e.dst AS id, avg(f.h1) AS h2
  FROM edges e JOIN f1 f ON f.id = e.src GROUP BY e.dst)
SELECT v.id, round(v.h1, 6) AS h1, round(a.h2, 6) AS h2
FROM f1 v LEFT JOIN a2 a ON a.id = v.id"""


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec-style walks (p=2, q=0.5 — DFS-leaning),
    deterministic bias rule, 5 steps."""
    from giraph_spark.algorithms.walks import node2vec_walks

    return node2vec_walks(
        spark, demo_edges(spark, sf_dir), length=5, p=2.0, q=0.5, seed=11,
        num_partitions=NP,
    )


def _node2vec_sql(length: int, p: float, q: float, seed: int) -> str:
    from giraph_spark.algorithms.walks import node2vec_sql

    return node2vec_sql(
        f"edges AS MATERIALIZED ({DEMO_EDGES_SQL})", length, p, q, seed
    )


def q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling, fanout 3 through
    the salted bounded top-k gather."""
    from giraph_spark.algorithms.walks import sample_neighbors

    return sample_neighbors(demo_edges(spark, sf_dir), fanout=3, seed=5, salt=4)


def _neighbor_sample_sql(fanout: int, seed: int) -> str:
    from giraph_spark.algorithms.walks import sample_neighbors_sql

    return sample_neighbors_sql(
        f"edges AS MATERIALIZED ({DEMO_EDGES_SQL})", fanout, seed
    )


def q_partition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition edge counts and edge-cut under the portable modulo
    assignment (P=8) — the balance signal a partition rebalancer reads."""
    from giraph_spark.storage import partition_quality

    return partition_quality(demo_edges(spark, sf_dir), 8)


_PARTITION_QUALITY_SQL = f"""WITH {_GRAPH},
x AS (SELECT src % 8 AS ps, dst % 8 AS pd FROM edges)
SELECT ps AS partition, count(*)::BIGINT AS edges,
       sum(CASE WHEN ps <> pd THEN 1 ELSE 0 END)::BIGINT AS cut_edges
FROM x GROUP BY ps"""


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_weight(demo_edges(spark, sf_dir))
    source = e.select(F.least(F.min("src"), F.min("dst")).alias("m")).collect()[0]["m"]
    run = sssp(spark, e, int(source), num_partitions=NP)
    return run.vertices.where(F.col("distance") != float("inf")).select(
        "id", F.round("distance", 6).alias("distance")
    )


def q_sssp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SSSP after an edge-add delta: distances on the
    previous crawl's subset ((src*31+dst)%10 < 8) warm-start the
    full-graph run (init_dists upper bounds + the delta's src vertices
    as the initial relax frontier). Fixpoint equals the cold full-graph
    run — the same oracle as `sssp`."""
    e = with_weight(demo_edges(spark, sf_dir))
    source = e.select(F.least(F.min("src"), F.min("dst")).alias("m")).collect()[0]["m"]
    pred = (F.col("src") * 31 + F.col("dst")) % 10 < 8
    first = sssp(spark, e.where(pred), int(source), num_partitions=NP)
    run = sssp(
        spark, e, int(source),
        init_dists=first.vertices,
        init_frontier=e.where(~pred).select("src"),
        num_partitions=NP,
    )
    return run.vertices.where(F.col("distance") != float("inf")).select(
        "id", F.round("distance", 6).alias("distance")
    )


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = demo_edges(spark, sf_dir)
    source = e.select(F.least(F.min("src"), F.min("dst")).alias("m")).collect()[0]["m"]
    run = bfs(spark, e, int(source), num_partitions=NP)
    return run.vertices


def q_edge_list_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text edge-list IO, driver-gated: demo edges written as
    'src<TAB>dst' lines, read back via read_edge_list, out-degrees over
    the round-tripped table — must match the parquet-path oracle
    (IntNullTextEdgeInputFormat.java:36-46 analog)."""
    import shutil
    import tempfile

    from giraph_spark.io_formats import read_edge_list

    d = tempfile.mkdtemp(prefix="gs_el_")
    try:
        e = demo_edges(spark, sf_dir)
        e.select(
            F.concat_ws("\t", F.col("src"), F.col("dst")).alias("value")
        ).write.mode("overwrite").text(d + "/edges")
        rt = read_edge_list(spark, d + "/edges")
        out = out_degrees(rt).select(
            F.col("src").alias("id"),
            F.col("out_degree").cast("long").alias("out_degree"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_adjacency_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency-list IO, driver-gated: demo edges grouped to
    'id dst1 dst2 ...' lines, re-parsed via read_adjacency, out-degrees
    over the round-trip — same oracle as the parquet path
    (AdjacencyListTextVertexInputFormat analog)."""
    import shutil
    import tempfile

    from giraph_spark.io_formats import read_adjacency

    d = tempfile.mkdtemp(prefix="gs_adj_")
    try:
        e = demo_edges(spark, sf_dir)
        adj = e.groupBy("src").agg(
            F.concat_ws(
                " ",
                F.col("src"),
                F.concat_ws(" ", F.array_sort(F.collect_list("dst"))),
            ).alias("value")
        )
        adj.select("value").write.mode("overwrite").text(d + "/adj")
        _, rt = read_adjacency(spark, d + "/adj")
        out = out_degrees(rt).select(
            F.col("src").alias("id"),
            F.col("out_degree").cast("long").alias("out_degree"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_adjacency_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the adjacency format
    (AdjacencyListTextVertexOutputFormat.java:28-62 analog): the weighted
    demo graph + per-vertex values written with
    io_formats.write_adjacency (value + alternating dst/weight tokens),
    re-parsed with read_adjacency(has_value, weighted), and reduced to
    per-vertex (value, out_degree, weight_sum) — exact against the
    parquet-path oracle, proving the text artifact loses nothing."""
    import shutil
    import tempfile

    from giraph_spark.io_formats import read_adjacency, write_adjacency

    d = tempfile.mkdtemp(prefix="gs_adjw_")
    try:
        e = with_weight(demo_edges(spark, sf_dir))
        verts = (
            e.select(F.col("src").alias("id"))
            .union(e.select("dst"))
            .distinct()
            .withColumn("value", (F.col("id") % 97).cast("double") / F.lit(2.0))
        )
        write_adjacency(
            verts, e, d + "/adj", value_col="value", weight_col="weight"
        )
        rverts, redges = read_adjacency(
            spark, d + "/adj", has_value=True, weighted=True
        )
        deg = redges.groupBy("src").agg(
            F.count(F.lit(1)).alias("out_degree"),
            F.round(F.sum("weight"), 6).alias("weight_sum"),
        )
        out = (
            rverts.join(deg, rverts["id"] == deg["src"], "left")
            .select(
                "id",
                "value",
                F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
                F.coalesce("weight_sum", F.lit(0.0)).alias("weight_sum"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON vertex-format IO, driver-gated: demo edges serialized as
    '[id, value, [[dst, w], ...]]' lines (the reference's
    JsonLongDoubleFloatDoubleVertexInputFormat shape), re-parsed via
    read_json_vertices, out-degrees over the round-trip."""
    import shutil
    import tempfile

    from giraph_spark.io_formats import read_json_vertices

    d = tempfile.mkdtemp(prefix="gs_json_")
    try:
        e = demo_edges(spark, sf_dir)
        line = F.concat(
            F.lit("["),
            F.col("src"),
            F.lit(", 0.0, ["),
            F.concat_ws(
                ", ",
                F.transform(
                    F.array_sort(F.collect_list("dst")),
                    lambda x: F.concat(F.lit("["), x, F.lit(", 1.0]")),
                ),
            ),
            F.lit("]]"),
        )
        e.groupBy("src").agg(line.alias("value")).select("value").write.mode(
            "overwrite"
        ).text(d + "/v")
        _, rt = read_json_vertices(spark, d + "/v")
        out = out_degrees(rt).select(
            F.col("src").alias("id"),
            F.col("out_degree").cast("long").alias("out_degree"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_seqfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop SequenceFile vertex IO, driver-gated: the demo graph's
    out-degrees written as (LongWritable id, value) records via
    write_sequence_vertices, read back via read_sequence_vertices — the
    round-trip must reproduce the parquet-path degree oracle
    (SequenceFileVertexInputFormat.java analog, legacy-ingest tier)."""
    import shutil
    import tempfile

    from giraph_spark.io_formats import (
        read_sequence_vertices,
        write_sequence_vertices,
    )

    d = tempfile.mkdtemp(prefix="gs_seq_")
    try:
        deg = out_degrees(demo_edges(spark, sf_dir)).select(
            F.col("src").alias("id"),
            F.col("out_degree").cast("long").alias("value"),
        )
        shutil.rmtree(d + "/seq", ignore_errors=True)
        write_sequence_vertices(deg, d + "/seq")
        rt = read_sequence_vertices(spark, d + "/seq", value_type="long")
        out = rt.select("id", F.col("value").alias("out_degree"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_json_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64-JSON vertex IO, driver-gated: demo graph serialized via
    write_json_base64_vertices (base64 of '[id, value, [[dst, w], ...]]'
    per line — JsonBase64VertexInputFormat.java's framing), re-parsed via
    read_json_base64_vertices, out-degrees over the round-trip."""
    import shutil
    import tempfile

    from giraph_spark.graph import vertices_from_edges
    from giraph_spark.io_formats import (
        read_json_base64_vertices,
        write_json_base64_vertices,
    )

    d = tempfile.mkdtemp(prefix="gs_b64_")
    try:
        e = demo_edges(spark, sf_dir)
        verts = vertices_from_edges(e).withColumn("value", F.lit(0.0))
        write_json_base64_vertices(verts, e.withColumn("weight", F.lit(1.0)), d + "/v")
        _, rt = read_json_base64_vertices(spark, d + "/v")
        out = out_degrees(rt).select(
            F.col("src").alias("id"),
            F.col("out_degree").cast("long").alias("out_degree"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table semantics (Iceberg-style, on parquet manifests),
    driver-gated: crawl 1 = even doc_ids committed as snapshot 1, crawl 2
    appended as snapshot 2, a cleanup overwrite (n_chars >= 200) as
    snapshot 3 — then per-lang doc counts read AT EACH SNAPSHOT via time
    travel. Exercises commit/append/overwrite/read-at-id end-to-end; the
    oracle recomputes all three states from the base table.

    Reference analog: the catalog-table input surface
    (giraph-hcatalog/.../HCatalogVertexInputFormat.java); north-rule
    'Iceberg corpus' contract (Iceberg runtime unavailable offline —
    see storage.py snapshot-table notes)."""
    import shutil
    import tempfile

    from giraph_spark import storage

    loc = tempfile.mkdtemp(prefix="gs_snap_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        storage.snapshot_write(docs.where("doc_id % 2 = 0"), loc, "docs")
        storage.snapshot_write(
            docs.where("doc_id % 2 = 1"), loc, "docs", mode="append"
        )
        storage.snapshot_write(
            docs.where("n_chars >= 200"), loc, "docs", mode="overwrite"
        )

        def counts(sid: int, name: str) -> DataFrame:
            return (
                storage.snapshot_read(spark, loc, "docs", sid)
                .groupBy("lang")
                .agg(F.count(F.lit(1)).cast("long").alias(name))
            )

        out = (
            counts(1, "n_snap1")
            .join(counts(2, "n_snap2"), "lang", "full")
            .join(counts(3, "n_snap3"), "lang", "full")
            .select(
                "lang",
                F.coalesce("n_snap1", F.lit(0)).alias("n_snap1"),
                F.coalesce("n_snap2", F.lit(0)).alias("n_snap2"),
                F.coalesce("n_snap3", F.lit(0)).alias("n_snap3"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(loc, ignore_errors=True)


def q_snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level FILE PRUNING on the snapshot table (the Iceberg
    manifest-stats scan-planning path): four crawls committed as
    appends, each covering a disjoint doc_id quartile, then a range scan
    over quartiles 2-3 via snapshot_read_pruned — the planner must open
    exactly 2 of the 4 data dirs (stats pinned as columns: the oracle
    hardcodes dirs_scanned=2/dirs_total=4, so a pruning regression is a
    gate failure, not a silent slowdown) and the residual row filter
    must return exactly the oracle's rows."""
    import shutil
    import tempfile

    from giraph_spark import storage

    loc = tempfile.mkdtemp(prefix="gs_snapprune_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.count()
        q = max(n // 4, 1)
        for i in range(4):
            lo, hi = i * q, (i + 1) * q - 1 if i < 3 else n - 1
            storage.snapshot_write(
                docs.where(F.col("doc_id").between(lo, hi)),
                loc,
                "docs",
                mode="append",
            )
        lo, hi = q, 3 * q - 1  # spans crawls 2 and 3 exactly
        df, stats = storage.snapshot_read_pruned(
            spark, loc, "docs", "doc_id", lo, hi
        )
        out = df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        ).select(
            "lang",
            "n_docs",
            "sum_chars",
            F.lit(stats["dirs_scanned"]).cast("long").alias("dirs_scanned"),
            F.lit(stats["dirs_total"]).cast("long").alias("dirs_total"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(loc, ignore_errors=True)


def q_snapshot_pruned_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest pruning on a DATE column (the crawl-over-crawl cut a web
    corpus actually makes: each crawl's data dir carries a disjoint
    crawl_date, a time-range query opens only the matching crawls).
    Four weekly crawls committed as appends with crawl_date derived
    deterministically from doc_id; the range scan spans crawls 2-3, so
    the planner must open exactly 2 of 4 dirs — the manifest stores
    date bounds as ISO strings (storage._json_bound; a regression here
    previously raised TypeError mid-commit, orphaning the data dir).
    Reference analog: time-travel/incremental scan planning over
    HCatalog-style partitions (giraph-hcatalog/.../HCatalogVertexInputFormat.java)."""
    import datetime
    import shutil
    import tempfile

    from giraph_spark import storage

    loc = tempfile.mkdtemp(prefix="gs_snapdates_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
            "crawl_date",
            F.date_add(
                F.lit("2026-01-01").cast("date"),
                (F.col("doc_id") % 4).cast("int") * 7,
            ),
        )
        for i in range(4):
            storage.snapshot_write(
                docs.where(F.col("doc_id") % 4 == i), loc, "docs", mode="append"
            )
        df, stats = storage.snapshot_read_pruned(
            spark,
            loc,
            "docs",
            "crawl_date",
            datetime.date(2026, 1, 8),
            datetime.date(2026, 1, 15),
        )
        out = df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.date_format(F.min("crawl_date"), "yyyy-MM-dd").alias("min_date"),
            F.date_format(F.max("crawl_date"), "yyyy-MM-dd").alias("max_date"),
        ).select(
            "lang",
            "n_docs",
            "sum_chars",
            "min_date",
            "max_date",
            F.lit(stats["dirs_scanned"]).cast("long").alias("dirs_scanned"),
            F.lit(stats["dirs_total"]).cast("long").alias("dirs_total"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(loc, ignore_errors=True)


_SNAPSHOT_PRUNED_DATES_SQL = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       min(DATE '2026-01-01' + ((doc_id % 4) * 7)::INT)::VARCHAR AS min_date,
       max(DATE '2026-01-01' + ((doc_id % 4) * 7)::INT)::VARCHAR AS max_date,
       2::BIGINT AS dirs_scanned, 4::BIGINT AS dirs_total
FROM documents
WHERE DATE '2026-01-01' + ((doc_id % 4) * 7)::INT
      BETWEEN DATE '2026-01-08' AND DATE '2026-01-15'
GROUP BY lang
""".strip()


def _snapshot_pruned_read_sql() -> str:
    return """
WITH n AS (SELECT count(*) AS n FROM documents),
q AS (SELECT greatest(n // 4, 1) AS q FROM n)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       2::BIGINT AS dirs_scanned, 4::BIGINT AS dirs_total
FROM documents, q
WHERE doc_id BETWEEN q AND 3 * q - 1
GROUP BY lang, q
""".strip()


_SNAPSHOT_TIME_TRAVEL_SQL = """
SELECT lang,
       coalesce(sum(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0)::BIGINT AS n_snap1,
       count(*)::BIGINT AS n_snap2,
       coalesce(sum(CASE WHEN n_chars >= 200 THEN 1 END), 0)::BIGINT AS n_snap3
FROM documents GROUP BY lang
""".strip()


def q_partition_mapping_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapping-store partitioner vs hash on the host-clustered corpus
    page graph: one row per strategy with total edges and cut edges
    (messages that cross partitions at cluster scale). The mapping places
    every page of a site on the site's partition
    (LongByteMappingStore.java:48 + LongMappingStorePartitionerFactory —
    the reference's precomputed-placement locality story), so same-site
    links are never cut; uniform hash cuts ~ (P-1)/P of them. Page ids
    are parsed from the URLs (portable), P=8."""
    from giraph_spark.corpus import extract_links
    from giraph_spark.storage import partition_quality

    pages, _ = _corpus_pages(spark)
    n_sites = max(10, _CORPUS_N // 50)
    links = extract_links(pages)
    page_no = lambda c: F.regexp_extract(c, r"/p/(\d+)$", 1).cast("long")  # noqa: E731
    edges = links.select(
        page_no(F.col("url")).alias("src"), page_no(F.col("href")).alias("dst")
    )

    def total(assign, name):
        q = partition_quality(edges, 8, assign=assign)
        return q.agg(
            F.lit(name).alias("strategy"),
            F.sum("edges").cast("long").alias("edges"),
            F.sum("cut_edges").cast("long").alias("cut_edges"),
        )

    by_hash = total(None, "hash")  # pmod(page, 8)
    by_map = total(
        lambda c: F.pmod(F.pmod(c, F.lit(n_sites)), F.lit(8)), "mapping"
    )  # site = page % n_sites; site -> partition
    return by_hash.unionByName(by_map)


def _partition_mapping_quality_sql(path: str, n_sites: int) -> str:
    return f"""WITH pages AS MATERIALIZED (
  SELECT url, decode(html) AS h FROM read_parquet('{path}/*.parquet')),
links AS (
  SELECT url, unnest(regexp_extract_all(h, '<a\\s+href="([^"]*)"', 1)) AS href
  FROM pages),
e AS (
  SELECT regexp_extract(url, '/p/(\\d+)$', 1)::BIGINT AS src,
         regexp_extract(href, '/p/(\\d+)$', 1)::BIGINT AS dst
  FROM links),
m AS (
  SELECT src % 8 AS hs, dst % 8 AS hd,
         (src % {n_sites}) % 8 AS ms, (dst % {n_sites}) % 8 AS md
  FROM e)
SELECT 'hash' AS strategy, count(*)::BIGINT AS edges,
       coalesce(sum(CASE WHEN hs <> hd THEN 1 END), 0)::BIGINT AS cut_edges
FROM m
UNION ALL
SELECT 'mapping', count(*)::BIGINT,
       coalesce(sum(CASE WHEN ms <> md THEN 1 END), 0)::BIGINT
FROM m"""


def q_out_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return out_degrees(demo_edges(spark, sf_dir)).select(
        F.col("src").alias("id"), F.col("out_degree").cast("long").alias("out_degree")
    )


def q_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return in_degrees(demo_edges(spark, sf_dir)).select(
        F.col("dst").alias("id"), F.col("in_degree").cast("long").alias("in_degree")
    )


def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = demo_edges(spark, sf_dir)
    verts = e.select(F.col("src").alias("id")).union(e.select("dst")).distinct()
    deg = out_degrees(e)
    joined = verts.join(deg.withColumnRenamed("src", "id"), "id", "left").select(
        F.coalesce("out_degree", F.lit(0)).alias("d")
    )
    # n_edges == total out-degree mass: folded into the single aggregate
    # instead of a separate count() action
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum("d").cast("long").alias("n_edges"),
        F.min("d").cast("long").alias("min_out"),
        F.max("d").cast("long").alias("max_out"),
        F.round(F.avg("d"), 6).alias("avg_out"),
    )


def q_symmetrize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return symmetrize(demo_edges(spark, sf_dir))


def q_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_asym_edges(demo_edges(spark, sf_dir))


def q_normalize_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = normalize_edge_weights(with_weight(demo_edges(spark, sf_dir)))
    return out.select("src", "dst", F.round("weight", 6).alias("weight"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs(spark, sf_dir))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_docs(spark, sf_dir))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stop_ratio",
        "distinct_ratio",
        "mean_token_len",
        "quality",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(_docs(spark, sf_dir))


def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_docs(spark, sf_dir), threshold=0.6, n=1)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.05, bands=8, n=3)


def q_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl incremental near-dup: the 10% 'new' docs
    (doc_id % 10 == 0) vs the 90% persisted index only."""
    from giraph_spark.dedup import minhash_lsh_incremental

    docs = _docs(spark, sf_dir)
    return minhash_lsh_incremental(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        threshold=0.05, bands=8, n=3,
    )


_CANDX = """candx AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_idx
  FROM sig a JOIN sig b ON b.band = a.band AND b.signature = a.signature
  WHERE a.doc_id %% 10 = 0 AND b.doc_id %% 10 <> 0
),
cand AS ("""

_LSH_INCR_SQL = f"""WITH {_MINHASH_CTES.replace("cand AS (", _CANDX.replace("%%", "%"))}
SELECT c.doc_new, c.doc_idx,
       round(coalesce(i.inter, 0) / (za.sz + zb.sz - coalesce(i.inter, 0))::DOUBLE, 6) AS jaccard
FROM candx c
LEFT JOIN (
  SELECT c.doc_new, c.doc_idx, count(*)::BIGINT AS inter
  FROM candx c
  JOIN sh sa ON sa.doc_id = c.doc_new
  JOIN sh sb ON sb.doc_id = c.doc_idx AND sb.shingle = sa.shingle
  GROUP BY c.doc_new, c.doc_idx
) i ON i.doc_new = c.doc_new AND i.doc_idx = c.doc_idx
JOIN sizes za ON za.doc_id = c.doc_new
JOIN sizes zb ON zb.doc_id = c.doc_idx
WHERE round(coalesce(i.inter, 0) / (za.sz + zb.sz - coalesce(i.inter, 0))::DOUBLE, 6) >= 0.05"""


def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH quality: exact 3-gram-Jaccard truth set (>=0.05) vs
    the banded MinHash candidate pipeline — one row (n_truth, n_lsh,
    recall). LSH verifies candidates exactly, so n_lsh <= n_truth and
    recall = n_lsh / n_truth (banding is the only loss)."""
    from giraph_spark.dedup import jaccard_pairs

    docs = _docs(spark, sf_dir)
    truth = jaccard_pairs(docs, threshold=0.05, n=3, max_df=None).select(
        "doc_a", "doc_b"
    )
    lsh = minhash_lsh_pairs(docs, threshold=0.05, bands=8, n=3).select(
        "doc_a", "doc_b"
    )
    n_truth = truth.count()
    n_lsh = lsh.count()
    # recall rounded engine-side (F.round = HALF_UP like DuckDB), not
    # Python banker's round — .5e-6 boundary class.
    return spark.createDataFrame(
        [(n_truth, n_lsh)], "n_truth long, n_lsh long"
    ).select(
        "n_truth",
        "n_lsh",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_lsh") / F.col("n_truth"), 6),
        ).alias("recall"),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (3 chunks = 20-bit bands, hamming
    <= 20 on the 60-bit signature — the synthetic docs are mostly
    distinct, so the threshold is loosened from the production 8 to
    yield candidates). 20-bit bands are the scale default: 15-bit bands
    collide near-quadratically on boilerplate-heavy corpora (measured
    2.27M vs 0.78M candidates on the sf0.1 docs)."""
    from giraph_spark.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=20, chunks=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding with the hot-bucket cap (``max_bucket=50``): the
    (chunk, value) buckets larger than the cap are dropped before the
    self-join — the bound that keeps one templated bucket from costing
    B^2/2 candidate pairs at corpus scale. Oracled exactly (the oracle
    replays the same cap), so the recall trade is measured, not
    asserted."""
    from giraph_spark.dedup import simhash_pairs

    return simhash_pairs(
        _docs(spark, sf_dir), max_hamming=20, chunks=3, max_bucket=50
    ).select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_pairs_sql(
    max_hamming: int = 20, chunks: int = 3, max_bucket: int | None = None
) -> str:
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    cap = (
        f""",
capped AS (
  SELECT ch.* FROM ch
  JOIN (SELECT chunk, val FROM ch GROUP BY chunk, val
        HAVING count(*) <= {max_bucket}) ok
  ON ok.chunk = ch.chunk AND ok.val = ch.val)"""
        if max_bucket is not None
        else ""
    )
    src = "capped" if max_bucket is not None else "ch"
    return f"""WITH s AS MATERIALIZED ({_simhash_sql()}),
ch AS (
  SELECT doc_id, simhash, c.c AS chunk,
         (simhash >> (c.c * {width})) & {mask} AS val
  FROM s, (SELECT unnest(range({chunks})) AS c) c){cap},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM {src} a JOIN {src} b ON b.chunk = a.chunk AND b.val = a.val
                     AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: MinHash-LSH near-dup pairs -> connected
    components over the dup graph -> every document mapped to the min
    doc_id of its dup cluster (itself when unique). is_canonical = the
    one row per cluster a training pipeline would keep. Composes the
    LLM-pipeline dedup ops with the Pregel WCC engine."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.05, bands=8, n=3)
    dup_edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(spark, dup_edges, max_supersteps=10).vertices
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("canonical_id")).cast("long"),
        )
    )


def q_neighbor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex top-3 in-neighbor ids via the salted two-level bounded
    top-k gather (TopNReduce over sharded reducers) — the non-algebraic
    gather path, exercised with salt=4 so the skew machinery itself is
    under the oracle."""
    from giraph_spark.pregel import gather_topk_messages

    e = demo_edges(spark, sf_dir)
    msgs = e.select("dst", F.col("src").alias("msg"))
    topk = gather_topk_messages(msgs, k=3, key="dst", msg_col="msg", salt=4)
    return topk.select(
        F.col("dst").alias("id"),
        F.posexplode("topk").alias("rank", "neighbor_id"),
    ).select((F.col("rank") + 1).cast("long").alias("rank"), "id", "neighbor_id")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(_docs(spark, sf_dir))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 3)
    out = cosine_topk(emb, queries_df, k=5)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cosine"
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_assign(emb, centroids)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search through the cell-restricted candidate path at full
    probe (n_probe = all cells) — must equal brute force exactly, so the
    brute-force SQL is its oracle; partial-probe recall is covered by
    pytest (test_kmeans_trained_ivf_recall)."""
    from giraph_spark.embeddings import ivf_topk

    emb = _emb(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = ivf_topk(emb, emb.where(F.col("vec_id") < 3), cents, k=5, n_probe=8)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cosine"
    )


def q_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph coarsening: collapse the demo graph into 64 clusters
    (cluster = id % 64); coarsened edge weight = original edge count."""
    from giraph_spark.graph import coarsen_graph, vertices_from_edges

    e = demo_edges(spark, sf_dir)
    verts = vertices_from_edges(e)
    mapping = verts.select("id", (F.col("id") % 64).alias("cluster"))
    _, ce = coarsen_graph(verts, e, mapping, value_col=None)
    return ce


def q_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF assignment: k-means centroids (portable init, 4 rounds)
    then cell assignment — the real ANN index build."""
    from giraph_spark.embeddings import ivf_assign, kmeans_fit

    emb = _emb(spark, sf_dir)
    cent = kmeans_fit(emb, k=8, iters=4, seed=7)
    out = ivf_assign(emb, cent)
    return out.select(
        "vec_id", F.col("centroid_id").cast("long").alias("centroid_id"), "cosine"
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: k-means cells + within-cell cosine +
    min-id keep rule. Threshold 0.4 because the synthetic embeddings are
    near-orthogonal (real corpora use ~0.95)."""
    from giraph_spark.embeddings import semdedup

    return semdedup(
        _emb(spark, sf_dir), k=8, threshold=0.4, iters=4, seed=7
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: 4 subspaces x 4 centroids trained by
    the deterministic per-subspace k-means, one (subspace, code) row per
    vector — the 64x-compressed ANN representation."""
    from giraph_spark.embeddings import pq_encode, pq_fit

    emb = _emb(spark, sf_dir)
    cb = pq_fit(emb, m=4, k=4, iters=2, dim=64, seed=7)
    return pq_encode(emb, cb, m=4, dim=64).select(
        "vec_id",
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 per query over the PQ codes (asymmetric distance:
    exact query x reconstructed database)."""
    from giraph_spark.embeddings import pq_fit, pq_topk

    emb = _emb(spark, sf_dir)
    cb = pq_fit(emb, m=4, k=4, iters=2, dim=64, seed=7)
    queries_df = emb.where(F.col("vec_id") < 2)
    return pq_topk(emb, cb, queries_df, k=5, m=4, dim=64)


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, brute-force exact baseline: all
    (id_a < id_b) pairs with cosine >= 0.4."""
    from giraph_spark.embeddings import cosine_pairs

    return cosine_pairs(_emb(spark, sf_dir), threshold=0.4)


def q_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, random-hyperplane LSH scale path:
    banded candidate buckets + exact cosine verify. The oracle models
    the banding itself (same integer-quantized plane dots, same bucket
    packing, emitted into SQL from the same seed), so the compare is
    exact at every SF — round 2's brute-force oracle relied on
    recall=1, which a single sign-boundary vector at a bigger SF could
    (and did) break."""
    from giraph_spark.embeddings import lsh_cosine_pairs

    return lsh_cosine_pairs(
        _emb(spark, sf_dir), threshold=0.4, dim=64, planes=32, bands=16, seed=42
    )


def _cosine_lsh_sql(
    threshold: float, dim: int, planes: int, bands: int, seed: int
) -> str:
    """Replay of ``lsh_cosine_pairs`` banding in DuckDB: the plane signs
    are emitted from the identical numpy seed, and the plane dots use
    the same floor(x * 2^20) integer quantization, so bucket membership
    is bit-identical across engines (integer sums are order-free)."""
    import numpy as np

    from giraph_spark.embeddings import QUANT_SCALE

    rng = np.random.RandomState(seed)
    h = rng.choice([-1.0, 1.0], size=(planes, dim))
    r = planes // bands
    rows = ", ".join(
        f"({p}, {i + 1}, {int(h[p][i])})"
        for p in range(planes)
        for i in range(dim)
    )
    return f"""WITH {_EMB_UNNEST},
planes(plane, pos, s) AS (VALUES {rows}),
q AS (SELECT vec_id, pos, floor(v * {QUANT_SCALE})::BIGINT AS qv FROM u),
dots AS (
  SELECT q.vec_id, p.plane, sum(q.qv * p.s) AS d
  FROM q JOIN planes p ON p.pos = q.pos GROUP BY q.vec_id, p.plane),
buckets AS (
  SELECT vec_id, plane // {r} AS band,
         sum((CASE WHEN d >= 0 THEN 1 ELSE 0 END)
             * (1::BIGINT << ({r} - 1 - plane % {r}))) AS bucket
  FROM dots GROUP BY vec_id, plane // {r}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON b.band = a.band AND b.bucket = a.bucket AND a.vec_id < b.vec_id),
pd AS (
  SELECT c.id_a, c.id_b, sum(ua.v * ub.v) AS dot
  FROM cand c JOIN u ua ON ua.vec_id = c.id_a
  JOIN u ub ON ub.vec_id = c.id_b AND ub.pos = ua.pos
  GROUP BY c.id_a, c.id_b)
SELECT d.id_a, d.id_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM pd d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= {threshold!r}"""


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% corpus split by content-hash fraction — stable
    across runs/partitionings/engines (train/eval split contract)."""
    from giraph_spark.pipeline import sample_by_hash

    return sample_by_hash(_docs(spark, sf_dir), "doc_id", 0.2).select(
        "doc_id", "lang"
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling rates (en 50%, fr 25%,
    rest 10%) — the multilingual rebalancing step of a corpus pipeline."""
    from giraph_spark.pipeline import stratified_sample_by_hash

    return stratified_sample_by_hash(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        {"en": 0.5, "fr": 0.25},
        default_fraction=0.1,
    ).select("doc_id", "lang")


def q_doc_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token(char)-budget shard packing via the two-level distributed
    prefix sum (no single-partition global window)."""
    from giraph_spark.pipeline import pack_shards

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return pack_shards(docs, "doc_id", "n_chars", budget=50_000).select(
        "doc_id", "shard"
    )


def q_balance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalance: down-sample every language to the smallest
    language's document count (deterministic md5-fraction keep rule);
    reports per-language totals and kept counts."""
    from giraph_spark.pipeline import balance_groups

    docs = _docs(spark, sf_dir)
    kept = balance_groups(docs, "lang", "doc_id")
    t = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    k = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return t.join(k, "lang", "left").select(
        "lang", "n_total", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


_BALANCE_SQL = """WITH sizes AS (
  SELECT lang, count(*)::BIGINT AS gn FROM documents GROUP BY lang),
tgt AS (SELECT min(gn) AS t FROM sizes),
kept AS (
  SELECT d.lang FROM documents d JOIN sizes s ON s.lang = d.lang
  WHERE (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
         / 1152921504606846976.0)
        < least(1.0, (SELECT t FROM tgt) * 1.0 / s.gn))
SELECT s.lang, s.gn AS n_total, coalesce(k.n, 0)::BIGINT AS n_kept
FROM sizes s LEFT JOIN (
  SELECT lang, count(*)::BIGINT AS n FROM kept GROUP BY lang) k
ON k.lang = s.lang"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> view -> click -> purchase over the
    events table (earliest-qualifying-time greedy per step)."""
    from giraph_spark.pipeline import funnel

    return funnel(
        _events(spark, sf_dir), ["signup", "view", "click", "purchase"]
    )


_FUNNEL_SQL = """WITH
s1 AS MATERIALIZED (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s2 AS MATERIALIZED (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'view' GROUP BY e.user_id),
s3 AS MATERIALIZED (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t
  WHERE e.event_type = 'click' GROUP BY e.user_id),
s4 AS MATERIALIZED (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s3 ON s3.user_id = e.user_id AND e.ts > s3.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 1::BIGINT AS step, 'signup' AS event_type, count(*)::BIGINT AS n_users FROM s1
UNION ALL
SELECT 2::BIGINT, 'view', count(*)::BIGINT FROM s2
UNION ALL
SELECT 3::BIGINT, 'click', count(*)::BIGINT FROM s3
UNION ALL
SELECT 4::BIGINT, 'purchase', count(*)::BIGINT FROM s4"""


def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over the events table (first-event
    day cohort, offsets 0..7, exact integer microsecond arithmetic)."""
    from giraph_spark.pipeline import cohort_retention

    return cohort_retention(_events(spark, sf_dir), max_offset=7)


_COHORT_SQL = """WITH ue AS MATERIALIZED (
  SELECT user_id AS u, epoch_us(ts) // 86400000000 AS p FROM events),
cohort AS (SELECT u, min(p) AS c FROM ue GROUP BY u),
active AS (SELECT DISTINCT u, p FROM ue)
SELECT c.c AS cohort, a.p - c.c AS offset, count(*)::BIGINT AS n_users
FROM active a JOIN cohort c ON c.u = a.u
WHERE a.p - c.c <= 7
GROUP BY 1, 2"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is a no-op rebase
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        ev.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (
                F.lit(1)
                + F.sum(F.when(F.col("gap") > 1_800_000_000, 1).otherwise(0))
            )
            .cast("long")
            .alias("n_sessions"),
        )
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # integer floor-div: unix_micros is non-negative, so div == floor
    bucket = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
    return ev.groupBy("event_type", bucket.alias("hour_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.scc import strongly_connected_components
    from giraph_spark.datasets import scc_demo_edges

    return strongly_connected_components(spark, scc_demo_edges(spark, sf_dir))


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.ppr import personalized_pagerank

    e = demo_edges(spark, sf_dir)
    source = e.select(F.least(F.min("src"), F.min("dst")).alias("m")).collect()[0]["m"]
    run = personalized_pagerank(
        spark, e, sources=[int(source)], teleport=0.15,
        max_supersteps=15, tolerance=None, num_partitions=NP,
    )
    return run.vertices.select("id", F.round("rank", 9).alias("rank"))


def q_local_community(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded local community (ACL PPR conductance sweep) around the
    lowest vertex id; returns members + the winning conductance."""
    from giraph_spark.algorithms.ppr import local_community
    from giraph_spark.graph import vertices_from_edges

    e = demo_edges(spark, sf_dir)
    seed = int(
        vertices_from_edges(e).agg(F.min("id").alias("m")).collect()[0]["m"]
    )
    out = local_community(
        spark, e, seed=seed, max_supersteps=15, num_partitions=NP
    )
    return out.select("id", F.col("pos").cast("long").alias("pos"),
                      "conductance")


def q_ppr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched 4-seed PPR (related-pages vectors) — one superstep loop,
    per-seed slice identical to single-seed personalized_pagerank."""
    from giraph_spark.algorithms.ppr import ppr_batch
    from giraph_spark.graph import vertices_from_edges

    e = demo_edges(spark, sf_dir)
    seeds = [
        int(r.id)
        for r in vertices_from_edges(e).orderBy("id").limit(4).collect()
    ]
    run = ppr_batch(
        spark, e, seeds, teleport=0.15, max_supersteps=10,
        tolerance=None, num_partitions=NP,
    )
    return run.vertices.select(
        "seed", "id", F.round("rank", 9).alias("rank")
    )


def q_landmark_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark distance estimates for a fixed 4x4 directed pair grid
    (landmarks = 8 lowest ids; est = min_L d(u->L)+d(L->v))."""
    from giraph_spark.algorithms.paths import landmark_distances
    from giraph_spark.graph import vertices_from_edges

    e = demo_edges(spark, sf_dir)
    ids = [r.id for r in vertices_from_edges(e).orderBy("id").limit(204).collect()]
    pairs = spark.createDataFrame(
        [(u, v) for u in ids[100:104] for v in ids[200:204]],
        "u long, v long",
    )
    return landmark_distances(
        spark, e, ids[:8], pairs, max_supersteps=15, num_partitions=NP
    ).select("u", "v", F.col("est").cast("long").alias("est"))


def q_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex friends-of-friends reach (n1, exact-distance-2 n2),
    pivot degree capped at 25 like the adamic_adar entry."""
    from giraph_spark.algorithms.linkpred import two_hop_counts

    return two_hop_counts(demo_edges(spark, sf_dir), max_degree=25).select(
        "id", F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
    )


def q_pseudo_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep BFS pseudo-diameter of the symmetrized demo graph."""
    from giraph_spark.algorithms.paths import pseudo_diameter

    out = pseudo_diameter(spark, demo_edges(spark, sf_dir),
                          num_partitions=NP)
    return out.select(
        F.col("start_id").cast("long").alias("start_id"),
        F.col("peripheral_id").cast("long").alias("peripheral_id"),
        F.col("diameter_lb").cast("long").alias("diameter_lb"),
    )


def _pseudo_diameter_sql(iters: int = 20) -> str:
    parts = [
        _GRAPH,
        _SYM,
        "b0 AS MATERIALIZED (SELECT (SELECT min(id) FROM verts) AS id, 0::BIGINT AS hops)",
    ]
    for k in range(iters):
        parts.append(
            f"""b{k + 1} AS MATERIALIZED (
  SELECT id, min(hops) AS hops FROM (
    SELECT id, hops FROM b{k}
    UNION ALL
    SELECT e.dst AS id, d.hops + 1 AS hops
    FROM b{k} d JOIN sym e ON e.src = d.id
  ) GROUP BY id
)"""
        )
    parts.append(
        f"far AS MATERIALIZED (SELECT id FROM b{iters} "
        "ORDER BY hops DESC, id ASC LIMIT 1)"
    )
    parts.append(
        "c0 AS MATERIALIZED (SELECT (SELECT id FROM far) AS id, 0::BIGINT AS hops)"
    )
    for k in range(iters):
        parts.append(
            f"""c{k + 1} AS MATERIALIZED (
  SELECT id, min(hops) AS hops FROM (
    SELECT id, hops FROM c{k}
    UNION ALL
    SELECT e.dst AS id, d.hops + 1 AS hops
    FROM c{k} d JOIN sym e ON e.src = d.id
  ) GROUP BY id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT (SELECT min(id) FROM verts)::BIGINT AS start_id,
       (SELECT id FROM far)::BIGINT AS peripheral_id,
       max(hops)::BIGINT AS diameter_lb
FROM c{iters}"""
    )


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.wcc import component_sizes

    run = connected_components(spark, demo_edges(spark, sf_dir), num_partitions=NP)
    return component_sizes(run.vertices).select(
        "component", F.col("size").cast("long").alias("size")
    )


def q_largest_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.wcc import largest_component

    run = connected_components(spark, demo_edges(spark, sf_dir), num_partitions=NP)
    comp, size = largest_component(run.vertices)
    return spark.createDataFrame(
        [(comp, size)], "component long, size long"
    )


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.mis import maximal_independent_set

    out = maximal_independent_set(spark, demo_edges(spark, sf_dir))
    return out.select("id", F.col("in_set").cast("long").alias("in_set"))


def q_rmat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-MAT/Kronecker power-law generator, scale 12 (4096-vertex id
    space) x 16384 edge draws — the full deduped edge list, replayed
    bit-identically by the SQL oracle."""
    from giraph_spark.datasets import rmat_edges

    return rmat_edges(spark, scale=12, n_edges=16384, seed=7)


def q_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling: final target +
    exact hop count for every chain head of the functional demo map."""
    from giraph_spark.algorithms.paths import pointer_jump
    from giraph_spark.datasets import redirect_edges

    return pointer_jump(spark, redirect_edges(spark, sf_dir))


def _redirects_sql() -> str:
    from giraph_spark.datasets import REDIRECT_EDGES_SQL

    return f"""WITH RECURSIVE
redir AS MATERIALIZED ({REDIRECT_EDGES_SQL}),
r(id, cur, hops) AS (
  SELECT src, dst, 1::BIGINT FROM redir
  UNION ALL
  SELECT r.id, e.dst, r.hops + 1 FROM r JOIN redir e ON e.src = r.cur
)
SELECT id, cur AS final, hops FROM r
WHERE NOT EXISTS (SELECT 1 FROM redir e WHERE e.src = r.cur)"""


def q_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.matching import maximal_matching

    return maximal_matching(spark, demo_edges(spark, sf_dir))


def q_deadlock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giraph_spark.algorithms.deadlock import bracha_toueg_free
    from giraph_spark.datasets import DL_ROOT, deadlock_demo_requests

    run = bracha_toueg_free(
        spark, deadlock_demo_requests(spark, sf_dir), DL_ROOT, num_partitions=NP
    )
    return run.vertices.select(
        "id", F.col("is_free").cast("long").alias("is_free")
    )


def _matching_oracle_sql(rounds: int = 24) -> str:
    """Maximal-matching oracle on the demo graph: full round-by-round
    replay of matching.py's deterministic greedy Luby rounds (extra
    rounds past the engine's fixpoint are no-ops). Valid because
    V_DEMO = 4096 keeps ids within the 12-bit packing domain."""
    from giraph_spark.algorithms.matching import matching_sql

    return matching_sql(_GRAPH, rounds)


def _deadlock_sql(unroll: int) -> str:
    """Bracha-Toueg oracle: recursive CTE for the NOTIFY reachability, then
    the grant fixpoint unrolled ``unroll`` rounds (chain depth is bounded
    by the 8-vertex blocks of DEADLOCK_EDGES_SQL plus the root hop)."""
    from giraph_spark.datasets import DEADLOCK_EDGES_SQL, DL_ROOT

    # NB: inside WITH RECURSIVE, DuckDB 1.0 treats a top-level UNION in a
    # NON-recursive CTE as UNION ALL — hence the explicit DISTINCT wrappers
    parts = [
        f"dedges AS MATERIALIZED ({DEADLOCK_EDGES_SQL})",
        "dverts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM dedges UNION ALL SELECT dst FROM dedges))",
        f"""reach(id) AS (
  SELECT CAST({DL_ROOT} AS BIGINT)
  UNION
  SELECT e.dst FROM reach r JOIN dedges e ON e.src = r.id
)""",
        "notified AS MATERIALIZED (SELECT id FROM reach)",
        "en AS MATERIALIZED (SELECT e.src, e.dst, e.tag FROM dedges e "
        "JOIN notified n ON n.id = e.src)",
        """f0 AS MATERIALIZED (
  SELECT n.id FROM notified n
  WHERE NOT EXISTS (SELECT 1 FROM en WHERE en.src = n.id)
)""",
    ]
    for k in range(unroll):
        parts.append(
            f"""f{k + 1} AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM f{k}
    UNION ALL
    SELECT g.src AS id FROM (
      SELECT en.src, en.tag
      FROM en LEFT JOIN f{k} f ON f.id = en.dst
      GROUP BY en.src, en.tag
      HAVING count(*) = count(f.id)
    ) g
  )
)"""
        )
    return (
        "WITH RECURSIVE\n"
        + ",\n".join(parts)
        + f"""
SELECT v.id, (CASE WHEN f.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS is_free
FROM dverts v LEFT JOIN f{unroll} f ON f.id = v.id"""
    )


_MEDIA_N, _MEDIA_W, _MEDIA_H, _MEDIA_C = 100, 16, 16, 3
_MEDIA_COEFFS = (7919, 131, 17, 101)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end (was engine-only through round 2):
    closed-form pixels -> encode_png -> binary column -> decode_image
    (pure-stdlib PNG codec: CRC, IDAT inflate, un-filter) ->
    image_features. The oracle derives the same features from the pixel
    formula directly — PNG is lossless, so any codec or plumbing defect
    breaks the value hash."""
    from giraph_spark.multimodal import (
        decode_image,
        image_features,
        synth_png_corpus,
    )

    imgs = synth_png_corpus(
        spark, _MEDIA_N, _MEDIA_W, _MEDIA_H, _MEDIA_C, _MEDIA_COEFFS
    )
    decoded = decode_image(imgs, "key", "data", _MEDIA_W, _MEDIA_H, _MEDIA_C)
    return image_features(decoded).select(
        "key", F.round(F.element_at("mean", 1), 6).alias("mean_c0"),
        F.element_at("histogram", 1).alias("hist_0"),
    )


def _media_features_sql(
    n: int, w: int, h: int, c: int, coeffs: tuple[int, int, int, int]
) -> str:
    a, b, cc, d = coeffs
    return f"""WITH px AS MATERIALIZED (
  SELECT k.range AS key, y.range AS y, x.range AS x, ch.range AS ch,
         ((({a} * k.range + {b} * y.range + {cc} * x.range + {d} * ch.range)
           % 256))::BIGINT AS v
  FROM range(0, {n}) k, range(0, {h}) y, range(0, {w}) x, range(0, {c}) ch),
mean0 AS (
  SELECT key, sum(v)::DOUBLE / {w * h} AS m FROM px WHERE ch = 0 GROUP BY key),
luma AS (
  SELECT key, y, x, sum(v)::DOUBLE / {c} AS l FROM px GROUP BY key, y, x),
hist0 AS (
  SELECT key,
         count(*) FILTER (WHERE least(floor(l / 32), 7) = 0)::BIGINT AS h0
  FROM luma GROUP BY key)
SELECT CAST(m.key AS VARCHAR) AS key, round(m.m, 6) AS mean_c0, h.h0 AS hist_0
FROM mean0 m JOIN hist0 h ON h.key = m.key"""


_BMP_N, _BMP_W, _BMP_H = 100, 16, 16
_BMP_COEFFS = (6151, 89, 23, 71)  # independent of the PNG oracle's coeffs


def q_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode end-to-end (second lossless image codec, pure
    stdlib — bmp_codec.py): closed-form pixels -> encode_bmp -> binary
    column -> decode_image (header validation, stride/padding, BGR ->
    RGB, bottom-up rows) -> image_features. Same oracle construction as
    ``media_features``: BMP is lossless, so the SQL side derives the
    features from the pixel formula directly."""
    from giraph_spark.multimodal import (
        decode_image,
        image_features,
        synth_bmp_corpus,
    )

    imgs = synth_bmp_corpus(spark, _BMP_N, _BMP_W, _BMP_H, _BMP_COEFFS)
    decoded = decode_image(imgs, "key", "data", _BMP_W, _BMP_H, 3)
    return image_features(decoded).select(
        "key", F.round(F.element_at("mean", 1), 6).alias("mean_c0"),
        F.element_at("histogram", 1).alias("hist_0"),
    )


_GIF_N, _GIF_W, _GIF_H, _GIF_COLORS = 100, 16, 16, 61
_GIF_COEFFS = (7919, 131, 17)
_GIF_PAL = (5, 1, 7, 3, 11, 9)


def q_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end (third lossless image codec, pure
    Python LZW — gif_codec.py): closed-form palette pixels ->
    encode_gif -> binary column -> decode_image (LZW inflate, color
    table lookup, sub-block reassembly) -> image_features. The oracle
    derives the same features from the index+palette formulas in SQL —
    GIF is lossless for palettized images."""
    from giraph_spark.multimodal import (
        decode_image,
        image_features,
        synth_gif_corpus,
    )

    imgs = synth_gif_corpus(
        spark, _GIF_N, _GIF_W, _GIF_H, _GIF_COLORS, _GIF_COEFFS, _GIF_PAL
    )
    decoded = decode_image(imgs, "key", "data", _GIF_W, _GIF_H, 3)
    return image_features(decoded).select(
        "key", F.round(F.element_at("mean", 1), 6).alias("mean_c0"),
        F.element_at("histogram", 1).alias("hist_0"),
    )


def _gif_features_sql(
    n: int, w: int, h: int, n_colors: int,
    coeffs: tuple[int, int, int],
    pal: tuple[int, int, int, int, int, int],
) -> str:
    a, b, c = coeffs
    p, q, r, s, t, u = pal
    return f"""WITH px AS MATERIALIZED (
  SELECT k.range AS key, y.range AS y, x.range AS x,
         (({a} * k.range + {b} * y.range + {c} * x.range) % {n_colors})
           AS idx
  FROM range(0, {n}) k, range(0, {h}) y, range(0, {w}) x),
chans AS (
  SELECT key, y, x,
         ({p} * idx + {q}) % 256 AS c0,
         ({r} * idx + {s}) % 256 AS c1,
         ({t} * idx + {u}) % 256 AS c2
  FROM px),
mean0 AS (
  SELECT key, sum(c0)::DOUBLE / {w * h} AS m FROM chans GROUP BY key),
hist0 AS (
  SELECT key, count(*) FILTER (
    WHERE least(floor((c0 + c1 + c2)::DOUBLE / 3 / 32), 7) = 0)::BIGINT AS h0
  FROM chans GROUP BY key)
SELECT CAST(m.key AS VARCHAR) AS key, round(m.m, 6) AS mean_c0, h.h0 AS hist_0
FROM mean0 m JOIN hist0 h ON h.key = m.key"""


_AUDIO_N, _AUDIO_M, _AUDIO_RATE = 64, 400, 8000
_AUDIO_COEFFS = (7919, 4093)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV audio decode end-to-end (stdlib ``wave`` — audio.py):
    closed-form int16 PCM samples -> encode_wav -> binary column ->
    audio_features (RIFF parse, RMS / peak / zero-crossings over the
    decoded signal). PCM is lossless, so the oracle recomputes the same
    features from the sample formula in SQL — any codec or plumbing
    defect breaks the value hash."""
    from giraph_spark.audio import audio_features, synth_wav_corpus

    clips = synth_wav_corpus(spark, _AUDIO_N, _AUDIO_M, _AUDIO_RATE, _AUDIO_COEFFS)
    return audio_features(clips, "key", "data").select(
        "key", "sample_rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "peak", "zero_crossings",
    )


def _audio_features_sql(n: int, m: int, rate: int, coeffs: tuple[int, int]) -> str:
    a, b = coeffs
    return f"""WITH s AS MATERIALIZED (
  SELECT k.range AS key, i.range AS i,
         (({a} * k.range + {b} * i.range + 17) % 65536 - 32768)::BIGINT AS v
  FROM range(0, {n}) k, range(0, {m}) i),
lagd AS (
  SELECT key, v, lag(v) OVER (PARTITION BY key ORDER BY i) AS prev FROM s)
SELECT CAST(key AS VARCHAR) AS key,
       {rate}::INTEGER AS sample_rate,
       {m}::BIGINT AS n_samples,
       round({m}::DOUBLE / {rate}, 6) AS duration_s,
       round(sqrt(avg((v * v)::DOUBLE)), 6) AS rms,
       max(abs(v))::BIGINT AS peak,
       (count(*) FILTER (
         WHERE prev IS NOT NULL AND (v >= 0) <> (prev >= 0)))::BIGINT
         AS zero_crossings
FROM lagd GROUP BY key"""


# --- corpus-native queries: the synthetic corpus is materialized ONCE to
# parquet so DuckDB reads the *identical* table and every query gets a
# real oracle (extraction replayed in SQL; graph keyed by URL strings,
# which are portable, instead of xxhash64 vertex ids, which are not) ---------

_CORPUS_N = 2000
_CORPUS_SEED = 42
# must match corpus_parquet()'s layout — oracle_sql() has no SparkSession
_CORPUS_PATH = (
    f"/tmp/giraph_spark_corpus/n{_CORPUS_N}_seed{_CORPUS_SEED}_v2.parquet"
)


def _corpus_pages(spark: SparkSession) -> tuple[DataFrame, str]:
    path = corpus_parquet(spark, _CORPUS_N, _CORPUS_SEED)
    return spark.read.parquet(path), path


def q_corpus_extract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages, _ = _corpus_pages(spark)
    checked = with_extracted_text(pages)
    return checked.agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum(
            F.when(F.col("extracted_text") != F.col("text"), 1).otherwise(0)
        ).cast("long").alias("n_mismatch"),
    )


def q_corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages, _ = _corpus_pages(spark)
    edges = build_edges(pages)
    run = pagerank(spark, edges, max_supersteps=10, tolerance=None, num_partitions=NP)
    urls = url_mapping(pages)
    return (
        run.vertices.join(urls, "id")
        .select("url", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "url")
        .limit(20)
    )


def q_corpus_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same-site subgraph: many components, so the oracle actually
    # discriminates (the full link graph is one hub-connected component)
    pages, _ = _corpus_pages(spark)
    edges = build_edges(pages, same_site_only=True)
    run = connected_components(spark, edges, num_partitions=NP)
    urls = url_mapping(pages)
    comp = (
        run.vertices.join(urls, "id")
        .groupBy("component")
        .agg(
            F.min("url").alias("component_url"),
            F.count(F.lit(1)).cast("long").alias("size"),
        )
    )
    return (
        comp.orderBy(F.col("size").desc(), "component_url")
        .limit(10)
        .select("component_url", "size")
    )


def q_corpus_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page graph → host graph rollup (the standard Common-Crawl
    reduction): ordered host pairs with raw link counts."""
    from giraph_spark.corpus import host_graph

    pages, _ = _corpus_pages(spark)
    return host_graph(pages)


def _corpus_host_graph_sql(path: str) -> str:
    parts = _corpus_prologue(path)
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS src_host,
       regexp_extract(href, '^https?://([^/]+)', 1) AS dst_host,
       count(*)::BIGINT AS n_links
FROM res GROUP BY 1, 2"""
    )


def q_corpus_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Common-Crawl-style host ranking: page links → host
    graph (link-count weighted, self-host pairs dropped) → weighted
    PageRank → top 10 hosts."""
    from giraph_spark.corpus import host_graph

    pages, _ = _corpus_pages(spark)
    hg = host_graph(pages).where(F.col("src_host") != F.col("dst_host"))
    edges = hg.select(
        F.xxhash64("src_host").alias("src"),
        F.xxhash64("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    run = pagerank(spark, edges, max_supersteps=10, tolerance=None,
                   weighted=True, num_partitions=NP)
    hosts = hg.select(
        F.xxhash64("src_host").alias("id"), F.col("src_host").alias("host")
    ).union(
        hg.select(F.xxhash64("dst_host"), "dst_host")
    ).dropDuplicates(["id"])
    return (
        run.vertices.join(hosts, "id")
        .select("host", F.round("rank", 6).alias("rank"))
        .orderBy(F.round("rank", 6).desc(), "host")
        .limit(10)
    )


def _corpus_host_rank_sql(path: str, iters: int, damping: float = 0.85) -> str:
    d = damping
    host = "regexp_extract({x}, '^https?://([^/]+)', 1)"
    parts = _corpus_prologue(path) + [
        f"""hedges AS MATERIALIZED (
  SELECT sh, dh, count(*)::DOUBLE AS n FROM (
    SELECT {host.format(x='url')} AS sh, {host.format(x='href')} AS dh FROM res)
  WHERE sh <> dh GROUP BY sh, dh)""",
        """wn AS MATERIALIZED (
  SELECT sh, dh, n / sum(n) OVER (PARTITION BY sh) AS weight FROM hedges)""",
        "hverts AS MATERIALIZED (SELECT sh AS id FROM hedges UNION SELECT dh FROM hedges)",
        "hn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM hverts)",
        "hasout AS MATERIALIZED (SELECT DISTINCT sh FROM hedges)",
        "h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM hverts)",
    ]
    for k in range(iters):
        parts.append(
            f"""hs{k} AS MATERIALIZED (
  SELECT sum(r.rank) AS all_sum,
         coalesce(sum(CASE WHEN o.sh IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM h{k} r LEFT JOIN hasout o ON o.sh = r.id
)"""
        )
        parts.append(
            f"""hm{k} AS MATERIALIZED (
  SELECT e.dh AS id, sum(r.rank * e.weight) AS msg
  FROM wn e JOIN h{k} r ON r.id = e.sh
  GROUP BY e.dh
)"""
        )
        parts.append(
            f"""h{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * (coalesce(m.msg, 0.0) + (SELECT sink_sum FROM hs{k}) / (SELECT n FROM hn))
       + {1.0 - d} * (SELECT all_sum FROM hs{k}) / (SELECT n FROM hn) AS rank
  FROM h{k} v LEFT JOIN hm{k} m ON m.id = v.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id AS host, round(rank, 6) AS rank FROM h{iters}
ORDER BY round(rank, 6) DESC, host ASC LIMIT 10"""
    )


def q_corpus_host_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl host-graph diff: split the corpus at the median
    warc_ts into two crawl windows, roll each up to its host graph, and
    report added / removed / kept host-pair counts (edge_delta)."""
    from giraph_spark.corpus import host_graph
    from giraph_spark.graph import edge_delta

    pages, _ = _corpus_pages(spark)
    cutoff = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.lit(_CORPUS_N // 2)
    )
    w1 = host_graph(pages.where(F.col("warc_ts") < cutoff))
    w2 = host_graph(pages.where(F.col("warc_ts") >= cutoff))
    d = edge_delta(w1, w2, keys=("src_host", "dst_host"))
    return d.groupBy("status").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


def _corpus_host_delta_sql(path: str, n_pages: int) -> str:
    host = "regexp_extract({x}, '^https?://([^/]+)', 1)"
    # rebuilds the link resolution with the page timestamp carried through
    return f"""WITH pages AS MATERIALIZED (
  SELECT url, warc_ts, decode(html) AS h FROM read_parquet('{path}/*.parquet')),
links AS (
  SELECT url, warc_ts,
         unnest(regexp_extract_all(h, '<a\\s+href="([^"]*)"', 1)) AS href
  FROM pages),
res AS (
  SELECT warc_ts,
         {host.format(x='url')} AS sh,
         CASE WHEN href LIKE '/%'
              THEN regexp_extract(url, '^(https?://[^/]+)', 1)
              ELSE regexp_extract(href, '^(https?://[^/]+)', 1) END AS dhu
  FROM links),
hp AS (SELECT warc_ts, sh,
              regexp_extract(dhu, '^https?://([^/]+)', 1) AS dh FROM res),
cut AS (SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL ({n_pages // 2}) SECOND AS t),
w1 AS (SELECT DISTINCT sh, dh FROM hp WHERE warc_ts < (SELECT t FROM cut)),
w2 AS (SELECT DISTINCT sh, dh FROM hp WHERE warc_ts >= (SELECT t FROM cut)),
d AS (
  SELECT CASE WHEN o.sh IS NOT NULL AND n.sh IS NOT NULL THEN 'kept'
              WHEN o.sh IS NOT NULL THEN 'removed'
              ELSE 'added' END AS status
  FROM w1 o FULL OUTER JOIN w2 n ON n.sh = o.sh AND n.dh = o.dh)
SELECT status, count(*)::BIGINT AS n_pairs FROM d GROUP BY status"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-grade URL canonicalization over the shared messy-URL
    generator: fragment/default-port strip, utm_* drop, query-param
    sort, trailing-slash + case normalization. The oracle reimplements
    the same spec independently in DuckDB."""
    from giraph_spark.corpus import canonicalize_url
    from giraph_spark.datasets import MESSY_URL_EXPR

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    messy = li.select(F.expr(MESSY_URL_EXPR).alias("url")).dropDuplicates(["url"])
    return messy.select("url", canonicalize_url(F.col("url")).alias("canonical"))


def _url_canonical_sql() -> str:
    from giraph_spark.datasets import MESSY_URL_EXPR

    return rf"""WITH m AS MATERIALIZED (
  SELECT DISTINCT {MESSY_URL_EXPR} AS url FROM lineitem),
s1 AS (SELECT url, regexp_replace(url, '#.*$', '') AS u FROM m),
s2 AS (SELECT url,
              regexp_extract(u, '^([^?]*)', 1) AS base,
              regexp_extract(u, '^[^?]*\?(.*)$', 1) AS q
       FROM s1),
s3 AS (SELECT url,
              regexp_replace(base, '/$', '') AS base,
              coalesce(array_to_string(list_sort(list_filter(str_split(q, '&'),
                x -> NOT starts_with(x, 'utm_') AND x <> '')), '&'), '') AS sq
       FROM s2),
s4 AS (SELECT url, sq,
              lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1))
              || substr(base, length(regexp_extract(base,
                   '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)) + 1) AS low
       FROM s3),
s5 AS (SELECT url, sq,
              regexp_replace(regexp_replace(low,
                '^(http://[^/:]+):80([/?]|$)', '\1\2'),
                '^(https://[^/:]+):443([/?]|$)', '\1\2') AS low
       FROM s4)
SELECT url, CASE WHEN sq = '' THEN low ELSE low || '?' || sq END AS canonical
FROM s5"""


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization: uncrawled link targets ranked by
    in-links from the crawled set (ids % 3 == 0), politeness-capped to
    top-3 per host bucket (url_id % 64) with the skew-safe two-level
    top-k (graph.py:crawl_frontier)."""
    from giraph_spark.graph import crawl_frontier

    e = demo_edges(spark, sf_dir)
    crawled = (
        e.select(F.col("src").alias("id"))
        .where(F.col("id") % 3 == 0)
        .dropDuplicates(["id"])
    )
    out = crawl_frontier(
        e, crawled, host_col=F.col("url_id") % 64, per_host_k=3, salt=8
    )
    return out.select(
        "url_id", "host", "inlinks", F.col("rk").cast("long").alias("rk")
    )


_CRAWL_FRONTIER_SQL = f"""WITH edges AS MATERIALIZED ({DEMO_EDGES_SQL}),
crawled AS (SELECT DISTINCT src AS id FROM edges WHERE src % 3 = 0),
cand AS (
  SELECT e.dst AS url_id, count(*)::BIGINT AS inlinks
  FROM edges e
  WHERE e.src IN (SELECT id FROM crawled)
    AND e.dst NOT IN (SELECT id FROM crawled)
  GROUP BY e.dst),
ranked AS (
  SELECT url_id, url_id % 64 AS host, inlinks,
         row_number() OVER (PARTITION BY url_id % 64
                            ORDER BY inlinks DESC, url_id ASC) AS rk
  FROM cand)
SELECT url_id, host, inlinks, rk::BIGINT AS rk FROM ranked WHERE rk <= 3"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate 3-grams (template/nav/footer detection) —
    shingles in >=3 docs and >=10% of a source's documents."""
    from giraph_spark.text import boilerplate_shingles

    return boilerplate_shingles(
        _docs(spark, sf_dir), group_col="source", n=3, min_docs=3, min_ratio=0.1
    )


_BOILERPLATE_SQL = """WITH tok AS (
  SELECT doc_id, source, unnest(r) AS token, generate_subscripts(r, 1) AS pos
  FROM (SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS r
        FROM documents)),
sh AS (
  SELECT DISTINCT s.doc_id, s.source,
         s.token || ' ' || t2.token || ' ' || t3.token AS shingle
  FROM tok s
  JOIN tok t2 ON t2.doc_id = s.doc_id AND t2.pos = s.pos + 1
  JOIN tok t3 ON t3.doc_id = s.doc_id AND t3.pos = s.pos + 2),
d AS (SELECT source, count(DISTINCT doc_id) AS nd FROM documents GROUP BY source),
f AS (SELECT source, shingle, count(*)::BIGINT AS n_docs
      FROM sh GROUP BY source, shingle)
SELECT f.source, shingle, n_docs, round(n_docs * 1.0 / d.nd, 6) AS ratio
FROM f JOIN d USING (source)
WHERE n_docs >= 3 AND round(n_docs * 1.0 / d.nd, 6) >= 0.1"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(a in b) >= 0.2 over the
    documents table (quote/wrap detection, Broder containment)."""
    from giraph_spark.dedup import containment_pairs

    return containment_pairs(
        _docs(spark, sf_dir), threshold=0.2, n=3, max_df=None
    )


_CONTAINMENT_SQL = """WITH tok AS (
  SELECT doc_id, unnest(r) AS token, generate_subscripts(r, 1) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS r
        FROM documents)),
sh AS (
  SELECT DISTINCT s.doc_id,
         s.token || ' ' || t2.token || ' ' || t3.token AS shingle
  FROM tok s
  JOIN tok t2 ON t2.doc_id = s.doc_id AND t2.pos = s.pos + 1
  JOIN tok t3 ON t3.doc_id = s.doc_id AND t3.pos = s.pos + 2),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON b.shingle = a.shingle AND b.doc_id <> a.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, round(inter * 1.0 / s.sz, 6) AS containment
FROM shared JOIN sizes s ON s.doc_id = shared.doc_a
WHERE round(inter * 1.0 / s.sz, 6) >= 0.2"""


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair PMI by document co-presence over the documents table
    (collocation mining; >= 20 co-occurrence docs)."""
    from giraph_spark.text import pmi_pairs

    return pmi_pairs(_docs(spark, sf_dir), min_pair_docs=20)


_PMI_SQL = """WITH dt AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
tf AS (SELECT token, count(*) AS df FROM dt GROUP BY token),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, count(*)::BIGINT AS n_ab
  FROM dt a JOIN dt b ON b.doc_id = a.doc_id AND a.token < b.token
  GROUP BY 1, 2 HAVING count(*) >= 20)
SELECT tok_a, tok_b, n_ab,
       round(ln((n_ab * (SELECT n_docs FROM n))
                / (ta.df * tb.df * 1.0)), 6) AS pmi
FROM pairs
JOIN tf ta ON ta.token = tok_a
JOIN tf tb ON tb.token = tok_b"""


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF signature terms (top-5, skew-safe top-k)."""
    from giraph_spark.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), group_col="source", k=5)


_TFIDF_SQL = """WITH t AS MATERIALIZED (
  SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
tf AS (SELECT source, token, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
gdf AS (SELECT token, count(DISTINCT source) AS gdf FROM t GROUP BY token),
ng AS (SELECT count(DISTINCT source) AS n FROM documents),
scored AS (
  SELECT source, tf.token, tf,
         round(tf * ln((SELECT n FROM ng) / (gdf * 1.0)), 6) AS score
  FROM tf JOIN gdf ON gdf.token = tf.token)
SELECT source, token, tf, score, rk::BIGINT AS rk FROM (
  SELECT source, token, tf, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, token ASC) AS rk
  FROM scored) WHERE rk <= 5"""


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style BPE pre-token accounting per document."""
    from giraph_spark.text import bpe_token_counts

    return bpe_token_counts(_docs(spark, sf_dir))


def _bpe_tokens_sql() -> str:
    from giraph_spark.text import BPE_RE

    pat = BPE_RE.replace("'", "''")
    return f"""WITH t AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(text, '({pat})', 1)) AS tok
  FROM documents),
c AS (
  SELECT doc_id, tok,
         CASE WHEN regexp_matches(tok, '^''')
                OR regexp_matches(tok, '^ ?[a-zA-Z]+$')
              THEN 'word'
              WHEN regexp_matches(tok, '^ ?[0-9]+$') THEN 'num'
              WHEN regexp_matches(tok, '^\\s+$') THEN 'ws'
              ELSE 'punct' END AS cls
  FROM t)
SELECT doc_id, count(*)::BIGINT AS n_bpe_tokens,
       sum(CASE WHEN cls = 'word' THEN 1 ELSE 0 END)::BIGINT AS n_word,
       sum(CASE WHEN cls = 'num' THEN 1 ELSE 0 END)::BIGINT AS n_num,
       sum(CASE WHEN cls = 'punct' THEN 1 ELSE 0 END)::BIGINT AS n_punct,
       sum(CASE WHEN cls = 'ws' THEN 1 ELSE 0 END)::BIGINT AS n_ws
FROM c GROUP BY doc_id"""


def q_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram surprisal per document (perplexity-style signal)."""
    from giraph_spark.text import unigram_surprisal

    return unigram_surprisal(_docs(spark, sf_dir))


_SURPRISAL_SQL = """WITH t AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
c AS (SELECT token, count(*) AS c FROM t GROUP BY token),
g AS (SELECT sum(c) AS t FROM c)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(-sum(ln(c / (SELECT t FROM g))) / count(*), 6) AS surprisal
FROM t JOIN c USING (token)
GROUP BY doc_id"""


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase occurrence counts for two fixed probe phrases."""
    from giraph_spark.text import phrase_match

    return phrase_match(
        _docs(spark, sf_dir), ["table value part", "hash value"]
    )


_PHRASE_SQL = """WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(r) AS token, generate_subscripts(r, 1) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS r
        FROM documents)),
g2 AS (
  SELECT a.doc_id, a.token || ' ' || b.token AS phrase
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
g3 AS (
  SELECT a.doc_id, a.token || ' ' || b.token || ' ' || c.token AS phrase
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
hits AS (
  SELECT phrase, doc_id FROM g2 WHERE phrase = 'hash value'
  UNION ALL
  SELECT phrase, doc_id FROM g3 WHERE phrase = 'table value part')
SELECT phrase, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_hits
FROM hits GROUP BY phrase"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance for the fixed query {table, hash, fast}."""
    from giraph_spark.text import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), ["table", "hash", "fast"])


_BM25_SQL = """WITH t AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
lens AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t
       WHERE token IN ('table', 'hash', 'fast') GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
SELECT tf.doc_id,
       round(sum(
         ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0)
         * tf * (1.2 + 1.0)
         / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
       ), 6) AS score
FROM tf
JOIN dfreq ON dfreq.token = tf.token
JOIN lens ON lens.doc_id = tf.doc_id
GROUP BY tf.doc_id"""


def q_filter_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composed keep/drop verdict per document with the
    first failing rule as reject_reason."""
    from giraph_spark.text import filter_corpus

    return filter_corpus(_docs(spark, sf_dir))


def _filter_corpus_sql() -> str:
    return f"""WITH q AS ({_QUALITY_SQL}), r AS ({_REPETITION_SQL})
SELECT q.doc_id,
       CASE
         WHEN q.n_tokens < 16 THEN 'too_short'
         WHEN q.stop_ratio > 0.22 THEN 'stopword_heavy'
         WHEN q.distinct_ratio < 0.4 THEN 'low_diversity'
         WHEN q.mean_token_len < 3.3 OR q.mean_token_len > 5.8 THEN 'token_len'
         WHEN r.repetitive THEN 'repetitive'
         ELSE NULL END AS reject_reason,
       (CASE
         WHEN q.n_tokens < 16 THEN 'too_short'
         WHEN q.stop_ratio > 0.22 THEN 'stopword_heavy'
         WHEN q.distinct_ratio < 0.4 THEN 'low_diversity'
         WHEN q.mean_token_len < 3.3 OR q.mean_token_len > 5.8 THEN 'token_len'
         WHEN r.repetitive THEN 'repetitive'
         ELSE NULL END) IS NULL AS keep
FROM q JOIN r ON r.doc_id = q.doc_id"""


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pay-level-domain rollup of the messy-host generator: hosts per
    registrable domain (www/port/case stripped, two-level suffixes)."""
    from giraph_spark.corpus import registrable_domain
    from giraph_spark.datasets import MESSY_HOST_EXPR

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hosts = li.select(F.expr(MESSY_HOST_EXPR).alias("host")).dropDuplicates(
        ["host"]
    )
    return (
        hosts.select("host", registrable_domain(F.col("host")).alias("domain"))
        .groupBy("domain")
        .agg(F.count_distinct("host").alias("n_hosts"))
    )


def _url_domains_sql() -> str:
    from giraph_spark.corpus import TWO_LEVEL_SUFFIXES
    from giraph_spark.datasets import MESSY_HOST_EXPR

    sfx = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)
    return rf"""WITH m AS MATERIALIZED (
  SELECT DISTINCT {MESSY_HOST_EXPR} AS host FROM lineitem),
s1 AS (SELECT host,
              regexp_replace(regexp_replace(lower(host), ':[0-9]+$', ''),
                             '^www\.', '') AS h
       FROM m),
p AS (SELECT host, h, str_split(h, '.') AS l FROM s1),
d AS (SELECT host,
             CASE WHEN len(l) <= 2 THEN h
                  WHEN (l[-2] || '.' || l[-1]) IN ({sfx})
                  THEN l[-3] || '.' || l[-2] || '.' || l[-1]
                  ELSE l[-2] || '.' || l[-1] END AS domain
      FROM p)
SELECT domain, count(DISTINCT host)::BIGINT AS n_hosts FROM d GROUP BY domain"""


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection on the messy-URL generator: host pairs by
    canonical-path-set Jaccard (threshold 0.12 — the synthetic paths
    overlap weakly; real mirror hunting uses ~0.9)."""
    from giraph_spark.corpus import mirror_hosts
    from giraph_spark.datasets import MESSY_URL_EXPR

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    urls = li.select(F.expr(MESSY_URL_EXPR).alias("url"))
    return mirror_hosts(urls, threshold=0.12)


def _mirror_hosts_sql() -> str:
    return f"""WITH hp AS MATERIALIZED (
  SELECT DISTINCT regexp_extract(canonical, '^https?://([^/]+)', 1) AS host,
         regexp_replace(canonical, '^https?://[^/]+', '') AS path
  FROM ({_url_canonical_sql()}) t),
sizes AS (SELECT host, count(*) AS sz FROM hp GROUP BY host),
shared AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS n_shared
  FROM hp a JOIN hp b ON b.path = a.path AND a.host < b.host
  GROUP BY 1, 2)
SELECT host_a, host_b, n_shared,
       round(n_shared / (sa.sz + sb.sz - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.host = host_a
JOIN sizes sb ON sb.host = host_b
WHERE round(n_shared / (sa.sz + sb.sz - n_shared), 6) >= 0.12"""


def q_streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest: the corpus pages replayed as a file
    stream (availableNow drain, 4 files per micro-batch), links
    extracted per micro-batch and rolled up to per-host counts. The
    stream drains the SAME deterministic corpus parquet the batch
    queries use, so the final rollup gets a full DuckDB oracle (round 2
    left this rows-only): availableNow over a static directory is
    exactly-once, so stream-total == batch-total by contract, and the
    oracle replays the batch side in SQL."""
    import os

    from giraph_spark.corpus import host_of
    from giraph_spark.streaming import (
        read_page_stream,
        run_stream_to_memory,
        streaming_link_extract,
    )

    _, path = _corpus_pages(spark)
    stream = read_page_stream(spark, path, max_files_per_trigger=4)
    name = "stream_links_" + os.urandom(4).hex()
    run_stream_to_memory(streaming_link_extract(stream), name)
    return (
        spark.table(name)
        .select(host_of(F.col("href")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def _streaming_extract_sql(path: str) -> str:
    parts = _corpus_prologue(path)[:3]  # pages -> links -> res
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT regexp_extract(href, '^https?://([^/]+)', 1) AS host,
       count(*)::BIGINT AS n_links
FROM res GROUP BY host"""
    )


def q_corpus_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation: per normalized link target, total
    in-links, distinct anchor strings, and the most frequent anchor
    (lexicographic tie-break) — top 20 targets by in-links."""
    from giraph_spark.corpus import anchor_summary

    pages, _ = _corpus_pages(spark)
    return (
        anchor_summary(pages)
        .orderBy(F.col("n_links").desc(), "target")
        .limit(20)
    )


def _corpus_anchor_text_sql(path: str) -> str:
    pat = r'<a\s+href="([^"]*)">([^<]*)</a>'
    norm = "regexp_replace(regexp_replace(lower({x}), '#.*$', ''), '/$', '')"
    return f"""WITH pages AS MATERIALIZED (
  SELECT url, decode(html) AS h FROM read_parquet('{path}/*.parquet')),
la AS (
  SELECT url,
         unnest(regexp_extract_all(h, '{pat}', 1)) AS href,
         unnest(regexp_extract_all(h, '{pat}', 2)) AS anchor
  FROM pages),
res AS (
  SELECT CASE WHEN href LIKE '/%'
              THEN regexp_extract(url, '^(https?://[^/]+)', 1) || href
              ELSE href END AS href,
         anchor
  FROM la),
per AS (
  SELECT {norm.format(x='href')} AS target, anchor, count(*)::BIGINT AS n
  FROM res GROUP BY 1, 2),
best AS (
  SELECT target, anchor,
         row_number() OVER (PARTITION BY target ORDER BY n DESC, anchor ASC) AS rn,
         sum(n) OVER (PARTITION BY target) AS n_links,
         count(*) OVER (PARTITION BY target) AS n_anchors
  FROM per)
SELECT target, n_links::BIGINT AS n_links, n_anchors::BIGINT AS n_anchors,
       anchor AS top_anchor
FROM best WHERE rn = 1
ORDER BY n_links DESC, target ASC LIMIT 20"""


def q_corpus_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank + spam mass on the host graph: trusted seeds = top-4
    hosts by inbound link count (ties by name), trust = seeded weighted
    PPR (10 iters), spam_mass = (pr_norm - trust) / pr_norm against the
    normalized weighted PageRank — the Gyongyi et al. 2004 anti-spam
    pipeline end-to-end."""
    from giraph_spark.algorithms.ppr import trustrank
    from giraph_spark.corpus import host_graph

    pages, _ = _corpus_pages(spark)
    hg = host_graph(pages).where(F.col("src_host") != F.col("dst_host"))
    edges = hg.select(
        F.xxhash64("src_host").alias("src"),
        F.xxhash64("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    seeds = [
        r[0]
        for r in hg.groupBy("dst_host")
        .agg(F.sum("n_links").alias("inl"))
        .orderBy(F.col("inl").desc(), "dst_host")
        .limit(4)
        .select(F.xxhash64("dst_host"))
        .collect()
    ]
    tr = trustrank(
        spark, edges, seeds, teleport=0.15, max_supersteps=10,
        weighted=True, num_partitions=NP,
    )
    pr = pagerank(spark, edges, max_supersteps=10, tolerance=None,
                  weighted=True, num_partitions=NP)
    pr_total = float(pr.vertices.agg(F.sum("rank")).collect()[0][0])
    hosts = hg.select(
        F.xxhash64("src_host").alias("id"), F.col("src_host").alias("host")
    ).union(
        hg.select(F.xxhash64("dst_host"), "dst_host")
    ).dropDuplicates(["id"])
    pr_n = F.col("rank") / F.lit(pr_total)
    return (
        tr.vertices.join(pr.vertices, "id")
        .join(hosts, "id")
        .select(
            "host",
            F.round("trust", 6).alias("trust"),
            F.round((pr_n - F.col("trust")) / pr_n, 6).alias("spam_mass"),
        )
    )


def _corpus_trustrank_sql(path: str, iters: int, damping: float = 0.85) -> str:
    d = damping
    host = "regexp_extract({x}, '^https?://([^/]+)', 1)"
    parts = _corpus_prologue(path) + [
        f"""hedges AS MATERIALIZED (
  SELECT sh, dh, count(*)::DOUBLE AS n FROM (
    SELECT {host.format(x='url')} AS sh, {host.format(x='href')} AS dh FROM res)
  WHERE sh <> dh GROUP BY sh, dh)""",
        """wn AS MATERIALIZED (
  SELECT sh, dh, n / sum(n) OVER (PARTITION BY sh) AS weight FROM hedges)""",
        "hverts AS MATERIALIZED (SELECT sh AS id FROM hedges UNION SELECT dh FROM hedges)",
        "hn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM hverts)",
        "hasout AS MATERIALIZED (SELECT DISTINCT sh FROM hedges)",
        """seeds AS MATERIALIZED (
  SELECT dh AS id FROM hedges GROUP BY dh ORDER BY sum(n) DESC, dh ASC LIMIT 4)""",
        "ns AS MATERIALIZED (SELECT count(*)::DOUBLE AS k FROM seeds)",
        "h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM hverts)",
        """t0 AS MATERIALIZED (
  SELECT v.id, CASE WHEN s.id IS NOT NULL THEN 1.0 / (SELECT k FROM ns)
               ELSE 0.0 END AS tr
  FROM hverts v LEFT JOIN seeds s ON s.id = v.id)""",
    ]
    for k in range(iters):
        parts.append(
            f"""hs{k} AS MATERIALIZED (
  SELECT sum(r.rank) AS all_sum,
         coalesce(sum(CASE WHEN o.sh IS NULL THEN r.rank END), 0.0) AS sink_sum
  FROM h{k} r LEFT JOIN hasout o ON o.sh = r.id)"""
        )
        parts.append(
            f"""hm{k} AS MATERIALIZED (
  SELECT e.dh AS id, sum(r.rank * e.weight) AS msg
  FROM wn e JOIN h{k} r ON r.id = e.sh GROUP BY e.dh)"""
        )
        parts.append(
            f"""h{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * (coalesce(m.msg, 0.0) + (SELECT sink_sum FROM hs{k}) / (SELECT n FROM hn))
       + {1.0 - d} * (SELECT all_sum FROM hs{k}) / (SELECT n FROM hn) AS rank
  FROM h{k} v LEFT JOIN hm{k} m ON m.id = v.id)"""
        )
        parts.append(
            f"""ts{k} AS MATERIALIZED (
  SELECT coalesce(sum(CASE WHEN o.sh IS NULL THEN r.tr END), 0.0) AS sink_sum
  FROM t{k} r LEFT JOIN hasout o ON o.sh = r.id)"""
        )
        parts.append(
            f"""tm{k} AS MATERIALIZED (
  SELECT e.dh AS id, sum(r.tr * e.weight) AS msg
  FROM wn e JOIN t{k} r ON r.id = e.sh GROUP BY e.dh)"""
        )
        parts.append(
            f"""t{k + 1} AS MATERIALIZED (
  SELECT v.id,
         {d} * coalesce(m.msg, 0.0)
       + CASE WHEN s.id IS NOT NULL
              THEN ({1.0 - d} + {d} * (SELECT sink_sum FROM ts{k})) / (SELECT k FROM ns)
              ELSE 0.0 END AS tr
  FROM t{k} v LEFT JOIN tm{k} m ON m.id = v.id
  LEFT JOIN seeds s ON s.id = v.id)"""
        )
    parts.append(
        f"prsum AS MATERIALIZED (SELECT sum(rank) AS s FROM h{iters})"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.id AS host, round(t.tr, 6) AS trust,
       round((p.rank / (SELECT s FROM prsum) - t.tr)
             / (p.rank / (SELECT s FROM prsum)), 6) AS spam_mass
FROM hverts v JOIN t{iters} t ON t.id = v.id JOIN h{iters} p ON p.id = v.id"""
    )


# ---------------------------------------------------------------------------
# repetition / PII / contamination / neighborhood-jaccard (round-2 additions)
# ---------------------------------------------------------------------------


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter signals per document."""
    from giraph_spark.text import repetition_stats

    r = repetition_stats(_docs(spark, sf_dir))
    return r.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "top_token_frac",
        "top_2gram_frac",
        "dup_3gram_frac",
        F.col("repetitive").cast("long").alias("repetitive"),
    )


_REPETITION_SQL = f"""WITH {_POS_TOKENS},
base AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         count(DISTINCT token)::BIGINT AS n_distinct
  FROM tok GROUP BY doc_id),
toptok AS (
  SELECT doc_id, max(c)::BIGINT AS top_token_c FROM (
    SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token)
  GROUP BY doc_id),
g2 AS (
  SELECT a.doc_id, a.token || ' ' || b.token AS shingle
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
top2 AS (
  SELECT doc_id, max(c)::BIGINT AS top_2gram_c FROM (
    SELECT doc_id, shingle, count(*) AS c FROM g2 GROUP BY doc_id, shingle)
  GROUP BY doc_id),
g3 AS (
  SELECT a.doc_id, a.token || ' ' || b.token || ' ' || c.token AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
d3 AS (
  SELECT doc_id, count(*)::BIGINT AS n3,
         count(DISTINCT shingle)::BIGINT AS n3d
  FROM g3 GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       round(1.0 - b.n_distinct / b.n_tokens::DOUBLE, 6) AS dup_token_frac,
       round(tt.top_token_c / b.n_tokens::DOUBLE, 6) AS top_token_frac,
       round(least(1.0, 2.0 * coalesce(t2.top_2gram_c, 0) / b.n_tokens::DOUBLE), 6) AS top_2gram_frac,
       round(coalesce(1.0 - d3.n3d / d3.n3::DOUBLE, 0.0), 6) AS dup_3gram_frac,
       (least(1.0, 2.0 * coalesce(t2.top_2gram_c, 0) / b.n_tokens::DOUBLE) > 0.20
        OR coalesce(1.0 - d3.n3d / d3.n3::DOUBLE, 0.0) > 0.30)::BIGINT AS repetitive
FROM base b
JOIN toptok tt ON tt.doc_id = b.doc_id
LEFT JOIN top2 t2 ON t2.doc_id = b.doc_id
LEFT JOIN d3 ON d3.doc_id = b.doc_id"""


def _pii_injected(docs: DataFrame) -> DataFrame:
    """Deterministically salt the synthetic corpus with PII so the scan
    has non-trivial positives; same expression as the oracle CTE."""
    did = F.col("doc_id")
    s = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" contact user"), s, F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    ((did * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" call +1 555 "),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over the deterministically salted corpus."""
    from giraph_spark.text import pii_scan

    return pii_scan(_pii_injected(_docs(spark, sf_dir)))


def _pii_scan_sql() -> str:
    from giraph_spark.text import PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE

    return f"""WITH d AS (
  SELECT doc_id,
         lower(text)
         || CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
         || CASE WHEN doc_id % 7 = 0
              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS t0
  FROM documents),
r1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t0, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
         regexp_replace(t0, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM d),
r2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '{PII_IPV4_RE}'))::BIGINT AS n_ips,
         regexp_replace(t1, '{PII_IPV4_RE}', '<IP>', 'g') AS t2
  FROM r1),
r3 AS (
  SELECT doc_id, n_emails, n_ips,
         len(regexp_extract_all(t2, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
         regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS t3
  FROM r2)
SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS redacted_md5 FROM r3"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination report: training docs (doc_id % 97 != 0)
    sharing ≥1 word 4-gram with the held-out benchmark slice
    (doc_id % 97 == 0). 4-grams because the synthetic corpus is short;
    a production pipeline uses the same plan with 8-13-grams."""
    from giraph_spark.text import contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return contamination(train, bench, n=4)


_CONTAMINATION_SQL = """WITH tokarr AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS r FROM documents),
pos AS (
  SELECT doc_id, r, unnest(r) AS token, generate_subscripts(r, 1) AS p FROM tokarr),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(r[p:p+3], ' ') AS shingle
  FROM pos WHERE p + 3 <= len(r)),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, count(*)::BIGINT AS n_shared
FROM sh s JOIN bsh b ON b.shingle = s.shingle
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id"""


def q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighborhood function N(t), t = 0..8, on the symmetrized
    block-local graph (the same bounded-ball fixture the SCC oracle
    uses, so the DuckDB closure stays at sum-of-64² pairs per block).
    The HLL-sketch HyperANF scale path over the full graph is
    pytest-verified against this exact baseline (tests/test_anf.py)."""
    from giraph_spark.algorithms.anf import anf_exact
    from giraph_spark.datasets import scc_demo_edges

    return anf_exact(spark, scc_demo_edges(spark, sf_dir), max_t=8)


def _anf_sql(max_t: int) -> str:
    parts = [
        f"edges AS MATERIALIZED ({SCC_EDGES_SQL})",
        """sym AS MATERIALIZED (SELECT DISTINCT * FROM (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges))""",
        "r0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS u FROM sym)",
    ]
    for t in range(1, max_t + 1):
        parts.append(
            f"""r{t} AS MATERIALIZED (SELECT DISTINCT v, u FROM (
  SELECT r.v, e.dst AS u FROM r{t - 1} r JOIN sym e ON e.src = r.u
  UNION ALL SELECT v, u FROM r{t - 1}))"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {t}::BIGINT AS t, (SELECT count(*) FROM r{t})::BIGINT AS n_pairs"
        for t in range(max_t + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous Louvain move phase, 4 parity-gated rounds. Gains are
    compared in exact integer arithmetic (score = 2m·k_in − k·σ_adj),
    so the DuckDB oracle replays every round bit-identically."""
    from giraph_spark.algorithms.louvain import louvain_move_phase

    return louvain_move_phase(spark, demo_edges(spark, sf_dir), rounds=4)


def _louvain_sql(rounds: int) -> str:
    head = [
        f"edges AS MATERIALIZED ({DEMO_EDGES_SQL})",
        _SYM,
        "wsym1 AS MATERIALIZED (SELECT src, dst, 1::BIGINT AS w FROM sym)",
        "deg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS k FROM sym GROUP BY src)",
        "mm AS MATERIALIZED (SELECT sum(k)::BIGINT AS m2 FROM deg)",
        "c0 AS MATERIALIZED (SELECT id, id AS community, k FROM deg)",
    ]
    return _louvain_rounds_sql(head, "wsym1", "w", rounds)


def q_louvain_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Louvain (integer link-count weights — the host-graph
    case) on the demo graph with the deterministic (src·7+dst·13)%3+1
    weights; gains stay in exact integer arithmetic."""
    from giraph_spark.algorithms.louvain import louvain_move_phase

    e = demo_edges(spark, sf_dir).withColumn(
        "w", ((F.col("src") * 7 + F.col("dst") * 13) % 3 + 1).cast("long")
    )
    return louvain_move_phase(spark, e, rounds=4, weight_col="w")


def _louvain_weighted_sql(rounds: int) -> str:
    head = [
        f"edges AS MATERIALIZED ({DEMO_EDGES_SQL})",
        "we AS MATERIALIZED (SELECT src, dst, ((src * 7 + dst * 13) % 3 + 1)::BIGINT AS w FROM edges)",
        """wsym AS MATERIALIZED (
  SELECT src, dst, max(w)::BIGINT AS w FROM (
    SELECT src, dst, w FROM we
    UNION ALL SELECT dst AS src, src AS dst, w FROM we)
  GROUP BY src, dst)""",
        "deg AS MATERIALIZED (SELECT src AS id, sum(w)::BIGINT AS k FROM wsym GROUP BY src)",
        "mm AS MATERIALIZED (SELECT sum(k)::BIGINT AS m2 FROM deg)",
        "c0 AS MATERIALIZED (SELECT id, id AS community, k FROM deg)",
    ]
    return _louvain_rounds_sql(head, "wsym", "w", rounds)


def _louvain_rounds_sql(
    head: list[str], sym_name: str, w_expr: str, rounds: int
) -> str:
    parts = list(head)
    for r in range(rounds):
        parts.append(
            f"""sig{r} AS (SELECT community AS c, sum(k)::BIGINT AS sigma FROM c{r} GROUP BY community),
kin{r} AS (
  SELECT e.src AS id, s.community AS c, sum(e.{w_expr})::BIGINT AS k_in
  FROM {sym_name} e JOIN c{r} s ON s.id = e.dst GROUP BY e.src, s.community),
cand{r} AS (
  SELECT id, c, max(k_in) AS k_in FROM (
    SELECT id, c, k_in FROM kin{r}
    UNION ALL SELECT id, community AS c, 0::BIGINT AS k_in FROM c{r})
  GROUP BY id, c),
sc{r} AS (
  SELECT d.id, d.c, s.community,
         (SELECT m2 FROM mm) * d.k_in
         - s.k * (g.sigma - CASE WHEN d.c = s.community THEN s.k ELSE 0 END) AS score
  FROM cand{r} d JOIN c{r} s ON s.id = d.id JOIN sig{r} g ON g.c = d.c),
best{r} AS (
  SELECT id, c AS best_c FROM (
    SELECT id, c, row_number() OVER (
      PARTITION BY id
      ORDER BY score DESC, (c = community) DESC, c ASC) AS rn
    FROM sc{r}) WHERE rn = 1),
c{r + 1} AS MATERIALIZED (
  SELECT s.id,
         CASE WHEN (s.id + {r}) % 2 = 0 THEN b.best_c ELSE s.community END AS community,
         s.k
  FROM c{r} s JOIN best{r} b ON b.id = s.id)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, community FROM c{rounds}"
    )


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned in/out degree distribution of the demo graph."""
    from giraph_spark.graph import degree_histogram

    return degree_histogram(demo_edges(spark, sf_dir))


_DEGREE_HISTOGRAM_SQL = f"""WITH {_GRAPH},
d AS (
  SELECT 'out' AS kind, count(*)::BIGINT AS degree FROM edges GROUP BY src
  UNION ALL
  SELECT 'in' AS kind, count(*)::BIGINT AS degree FROM edges GROUP BY dst)
SELECT kind, (length(printf('%b', degree)) - 1)::BIGINT AS bucket,
       count(*)::BIGINT AS n_vertices,
       min(degree) AS min_degree, max(degree) AS max_degree
FROM d GROUP BY kind, bucket"""


def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard vertex similarity: unlinked pairs witnessed
    by a common neighbor of degree ≤ 25 (same disclosed cap as
    adamic_adar); exact degrees from the full symmetric graph."""
    from giraph_spark.algorithms.linkpred import neighborhood_jaccard

    return neighborhood_jaccard(demo_edges(spark, sf_dir), max_degree=25).select(
        "u", "v", "common_neighbors", F.round("jaccard", 6).alias("jaccard")
    )


def _neighbor_jaccard_sql(max_degree: int) -> str:
    return f"""WITH {_GRAPH},
{_SYM},
deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
adj AS MATERIALIZED (
  SELECT s.src AS z, s.dst AS nbr, d.deg
  FROM sym s JOIN deg d ON d.src = s.src WHERE d.deg <= {max_degree}),
p AS (
  SELECT a.nbr AS u, b.nbr AS v
  FROM adj a JOIN adj b ON b.z = a.z AND a.nbr < b.nbr),
sc AS MATERIALIZED (
  SELECT u, v, count(*)::BIGINT AS common_neighbors FROM p GROUP BY u, v)
SELECT sc.u, sc.v, sc.common_neighbors,
       round(sc.common_neighbors / (du.deg + dv.deg - sc.common_neighbors)::DOUBLE, 6) AS jaccard
FROM sc
JOIN deg du ON du.src = sc.u
JOIN deg dv ON dv.src = sc.v
WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = sc.u AND e.dst = sc.v)"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank to 1e-6 L1 convergence on the sf0.001 demo graph."""
    run = pagerank(
        spark,
        demo_edges(spark, "/root/testdata/sf0.001"),
        max_supersteps=30,
        tolerance=1e-6,
        num_partitions=NP,
    )
    return run.vertices.select("id", F.round("rank", 7).alias("rank"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pagerank": q_pagerank,
        "top_pages_per_host": q_top_pages_per_host,
        "pagerank_convergence": q_pagerank_convergence,
        "pagerank_bucketed": q_pagerank_bucketed,
        "pagerank_incremental": q_pagerank_incremental,
        "pagerank_salted": q_pagerank_salted,
        "pagerank_randomwalk": q_pagerank_randomwalk,
        "pagerank_weighted": q_pagerank_weighted,
        "wcc": q_wcc,
        "wcc_incremental": q_wcc_incremental,
        "wcc_mutated": q_wcc_mutated,
        "wcc_resumed": q_wcc_resumed,
        "wcc_bucketed": q_wcc_bucketed,
        "pseudo_diameter": q_pseudo_diameter,
        "two_hop": q_two_hop,
        "landmark_dist": q_landmark_dist,
        "wcc_star": q_wcc_star,
        "lpa": q_lpa,
        "lpa_weighted": q_lpa_weighted,
        "maxlabel": q_maxlabel,
        "triangles": q_triangles,
        "triangle_global": q_triangle_global,
        "triangle_delta": q_triangle_delta,
        "rectangles": q_rectangles,
        "clustering_coeff": q_clustering_coeff,
        "k_core": q_k_core,
        "k_truss": q_k_truss,
        "coreness": q_coreness,
        "trussness": q_trussness,
        "densest": q_densest,
        "watts_strogatz": q_watts_strogatz,
        "reciprocity": q_reciprocity,
        "transitivity": q_transitivity,
        "hits": q_hits,
        "eigenvector": q_eigenvector,
        "katz": q_katz,
        "salsa": q_salsa,
        "bowtie": q_bowtie,
        "betweenness": q_betweenness,
        "adamic_adar": q_adamic_adar,
        "cocitation": q_cocitation,
        "bib_coupling": q_bib_coupling,
        "window_dedup": q_window_dedup,
        "quantize_int8": q_quantize_int8,
        "degree_percentiles": q_degree_percentiles,
        "neighbor_jaccard": q_neighbor_jaccard,
        "anf": q_anf,
        "louvain": q_louvain,
        "louvain_weighted": q_louvain_weighted,
        "degree_histogram": q_degree_histogram,
        "assortativity": q_assortativity,
        "harmonic": q_harmonic,
        "mean_distance": q_mean_distance,
        "graph_summary": q_graph_summary,
        "eccentricity": q_eccentricity,
        "closeness": q_closeness,
        "modularity": q_modularity,
        "random_walks": q_random_walks,
        "node2vec": q_node2vec,
        "neighbor_sample": q_neighbor_sample,
        "gnn_agg": q_gnn_agg,
        "partition_quality": q_partition_quality,
        "sssp": q_sssp,
        "sssp_incremental": q_sssp_incremental,
        "bfs": q_bfs,
        "out_degrees": q_out_degrees,
        "edge_list_roundtrip": q_edge_list_roundtrip,
        "adjacency_roundtrip": q_adjacency_roundtrip,
        "adjacency_write_roundtrip": q_adjacency_write_roundtrip,
        "json_roundtrip": q_json_roundtrip,
        "seqfile_roundtrip": q_seqfile_roundtrip,
        "json_base64_roundtrip": q_json_base64_roundtrip,
        "snapshot_time_travel": q_snapshot_time_travel,
        "snapshot_pruned_read": q_snapshot_pruned_read,
        "snapshot_pruned_dates": q_snapshot_pruned_dates,
        "partition_mapping_quality": q_partition_mapping_quality,
        "in_degrees": q_in_degrees,
        "degree_stats": q_degree_stats,
        "symmetrize": q_symmetrize,
        "mutual_edges": q_mutual_edges,
        "normalize_weights": q_normalize_weights,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "filter_corpus": q_filter_corpus,
        "bm25": q_bm25,
        "phrase_match": q_phrase_match,
        "surprisal": q_surprisal,
        "bpe_tokens": q_bpe_tokens,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "repetition": q_repetition,
        "pii_scan": q_pii_scan,
        "contamination": q_contamination,
        "jaccard_near_dup": q_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "lsh_eval": q_lsh_eval,
        "lsh_incremental": q_lsh_incremental,
        "simhash_pairs": q_simhash_pairs,
        "simhash_pairs_capped": q_simhash_pairs_capped,
        "dedup_clusters": q_dedup_clusters,
        "neighbor_topk": q_neighbor_topk,
        "simhash": q_simhash,
        "ann_topk": q_ann_topk,
        "ivf_assign": q_ivf_assign,
        "ivf_topk": q_ivf_topk,
        "kmeans_ivf": q_kmeans_ivf,
        "semdedup": q_semdedup,
        "pq_encode": q_pq_encode,
        "pq_topk": q_pq_topk,
        "cosine_near_dup": q_cosine_near_dup,
        "cosine_near_dup_lsh": q_cosine_near_dup_lsh,
        "coarsen": q_coarsen,
        "sample_split": q_sample_split,
        "sample_stratified": q_sample_stratified,
        "doc_shards": q_doc_shards,
        "sessionize": q_sessionize,
        "balance_langs": q_balance_langs,
        "funnel": q_funnel,
        "cohort": q_cohort,
        "event_rollup": q_event_rollup,
        "scc": q_scc,
        "ppr": q_ppr,
        "ppr_batch": q_ppr_batch,
        "local_community": q_local_community,
        "component_sizes": q_component_sizes,
        "largest_component": q_largest_component,
        "mis": q_mis,
        "matching": q_matching,
        "redirects": q_redirects,
        "rmat": q_rmat,
        "deadlock": q_deadlock,
        "media_features": q_media_features,
        "bmp_features": q_bmp_features,
        "gif_features": q_gif_features,
        "audio_features": q_audio_features,
        "corpus_extract_check": q_corpus_extract_check,
        "corpus_pagerank": q_corpus_pagerank,
        "corpus_wcc": q_corpus_wcc,
        "corpus_host_graph": q_corpus_host_graph,
        "corpus_host_rank": q_corpus_host_rank,
        "corpus_trustrank": q_corpus_trustrank,
        "corpus_anchor_text": q_corpus_anchor_text,
        "streaming_extract": q_streaming_extract,
        "url_canonical": q_url_canonical,
        "crawl_frontier": q_crawl_frontier,
        "boilerplate": q_boilerplate,
        "containment": q_containment,
        "url_domains": q_url_domains,
        "mirror_hosts": q_mirror_hosts,
        "pmi": q_pmi,
        "tfidf": q_tfidf,
        "corpus_host_delta": q_corpus_host_delta,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pagerank": _pagerank_sql(5),
        "top_pages_per_host": _top_pages_per_host_sql(5),
        "pagerank_convergence": _pagerank_convergence_sql(5),
        "pagerank_bucketed": _pagerank_sql(5),
        "pagerank_incremental": _pagerank_incremental_sql(3, 3),
        "pagerank_salted": _pagerank_sql(5),
        "pagerank_randomwalk": _rw_pagerank_sql(8),
        "pagerank_weighted": _pagerank_weighted_sql(4),
        "wcc": _minlabel_sql(20, "sym", "least", "component"),
        "wcc_incremental": _minlabel_sql(20, "sym", "least", "component"),
        "wcc_mutated": _minlabel_sql(20, "sym", "least", "component"),
        "wcc_resumed": _minlabel_sql(20, "sym", "least", "component"),
        "wcc_bucketed": _minlabel_sql(20, "sym", "least", "component"),
        "pseudo_diameter": _pseudo_diameter_sql(20),
        "two_hop": _TWO_HOP_SQL,
        "landmark_dist": _landmark_sql(8, 15),
        "wcc_star": _minlabel_sql(20, "sym", "least", "component"),
        "lpa": _lpa_sql(3),
        "lpa_weighted": _lpa_weighted_sql(3),
        "maxlabel": _minlabel_sql(30, "edges", "greatest", "label"),
        "triangles": f"""WITH {_GRAPH},
{_SYM},
o AS MATERIALIZED (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
tri AS MATERIALIZED (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM o e1
  JOIN o e2 ON e2.a = e1.b
  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
)
SELECT v.id, coalesce(t.cnt, 0)::BIGINT AS triangles
FROM verts v LEFT JOIN (SELECT id, count(*) AS cnt FROM corners GROUP BY id) t
  ON t.id = v.id""",
        "rectangles": f"""WITH {_GRAPH},
{_SYM},
wedges AS (
  SELECT l.dst AS u, r.dst AS w FROM sym l
  JOIN sym r ON r.src = l.src AND l.dst < r.dst),
codeg AS (SELECT u, w, count(*)::BIGINT AS c FROM wedges GROUP BY u, w)
SELECT (coalesce(sum((c * (c - 1)) // 2), 0) // 2)::BIGINT AS n_rectangles
FROM codeg""",
        "triangle_delta": _TRIANGLE_DELTA_SQL,
        "triangle_global": f"""WITH {_GRAPH},
{_SYM},
o AS MATERIALIZED (SELECT src AS a, dst AS b FROM sym WHERE src < dst)
SELECT count(*)::BIGINT AS n_triangles
FROM o e1
JOIN o e2 ON e2.a = e1.b
JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b""",
        "clustering_coeff": f"""WITH {_GRAPH},
{_SYM},
o AS MATERIALIZED (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
tri AS MATERIALIZED (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM o e1
  JOIN o e2 ON e2.a = e1.b
  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
),
tcnt AS (SELECT id, count(*) AS cnt FROM corners GROUP BY id),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)
SELECT v.id,
       round(CASE WHEN d.deg >= 2
                  THEN 2.0 * coalesce(t.cnt, 0) / (d.deg * (d.deg - 1.0))
                  ELSE 0.0 END, 6) AS lcc
FROM verts v
LEFT JOIN tcnt t ON t.id = v.id
JOIN deg d ON d.id = v.id""",
        "k_core": _k_core_sql(20, 8),
        "k_truss": _k_truss_sql(4, 8),
        "coreness": _coreness_sql(_coreness_bounds()),
        "densest": _densest_sql(_densest_rounds(_oracle_sf_dir())),
        "trussness": _trussness_oracle_sql(),
        "watts_strogatz": _watts_strogatz_sql(512, 4, 0.1, 7),
        "reciprocity": f"""WITH {_GRAPH},
dd AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)
SELECT round(avg(CASE WHEN r.src IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
       AS reciprocity
FROM dd e LEFT JOIN dd r ON r.src = e.dst AND r.dst = e.src""",
        "transitivity": f"""WITH {_GRAPH},
{_SYM},
o AS MATERIALIZED (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
t AS (SELECT count(*)::DOUBLE AS t FROM o e1
      JOIN o e2 ON e2.a = e1.b JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
w AS (SELECT sum(deg * (deg - 1.0)) / 2.0 AS w
      FROM (SELECT count(*)::DOUBLE AS deg FROM sym GROUP BY src))
SELECT round(3.0 * (SELECT t FROM t) / (SELECT w FROM w), 6) AS transitivity""",
        "hits": _hits_sql(5),
        "eigenvector": _eigenvector_sql(5),
        "katz": _katz_sql(8),
        "salsa": _salsa_sql(5),
        "bowtie": _bowtie_sql(15),
        "betweenness": _betweenness_sql(8, 8),
        "adamic_adar": _adamic_adar_sql(25),
        "cocitation": _cocitation_sql("src", "dst", 64, 2),
        "bib_coupling": _cocitation_sql("dst", "src", 64, 2),
        "window_dedup": _window_dedup_sql(8, 0.5),
        "quantize_int8": """WITH s AS (
  SELECT vec_id, embedding,
         round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0, 9) AS scale
  FROM embeddings)
SELECT vec_id, scale,
       array_to_string(
         CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x -> round(x::DOUBLE / scale)::INT)
         END, ',') AS q
FROM s""",
        "degree_percentiles": f"""WITH edges AS MATERIALIZED ({DEMO_EDGES_SQL}),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src)
SELECT round(quantile_cont(deg, 0.25), 6) AS p25,
       round(quantile_cont(deg, 0.5), 6) AS p50,
       round(quantile_cont(deg, 0.9), 6) AS p90,
       round(quantile_cont(deg, 0.99), 6) AS p99,
       max(deg)::BIGINT AS max_deg
FROM deg""",
        "neighbor_jaccard": _neighbor_jaccard_sql(25),
        "anf": _anf_sql(8),
        "louvain": _louvain_sql(4),
        "louvain_weighted": _louvain_weighted_sql(4),
        "degree_histogram": _DEGREE_HISTOGRAM_SQL,
        "repetition": _REPETITION_SQL,
        "pii_scan": _pii_scan_sql(),
        "contamination": _CONTAMINATION_SQL,
        "assortativity": _ASSORTATIVITY_SQL,
        "harmonic": _harmonic_sql(8, 15),
        "mean_distance": _mean_distance_sql(8, 15),
        "graph_summary": _GRAPH_SUMMARY_SQL,
        "eccentricity": _eccentricity_sql(8, 15),
        "closeness": _closeness_sql(8, 15),
        "modularity": _modularity_sql(3),
        "random_walks": _random_walks_sql(6, 7),
        "node2vec": _node2vec_sql(5, 2.0, 0.5, 11),
        "neighbor_sample": _neighbor_sample_sql(3, 5),
        "gnn_agg": _GNN_AGG_SQL,
        "partition_quality": _PARTITION_QUALITY_SQL,
        "sssp": _sssp_sql(30),
        "sssp_incremental": _sssp_sql(30),
        "bfs": _bfs_sql(15),
        "out_degrees": f"""WITH {_GRAPH}
SELECT src AS id, count(*)::BIGINT AS out_degree FROM edges GROUP BY src""",
        "edge_list_roundtrip": f"""WITH {_GRAPH}
SELECT src AS id, count(*)::BIGINT AS out_degree FROM edges GROUP BY src""",
        "adjacency_roundtrip": f"""WITH {_GRAPH}
SELECT src AS id, count(*)::BIGINT AS out_degree FROM edges GROUP BY src""",
        "adjacency_write_roundtrip": f"""WITH {_GRAPH},
w AS (SELECT src, dst, CAST((src * 7 + dst * 13) % 3 + 1 AS DOUBLE) AS weight
      FROM edges),
deg AS (SELECT src, count(*)::BIGINT AS out_degree,
               round(sum(weight), 6) AS weight_sum
        FROM w GROUP BY src)
SELECT v.id, CAST(v.id % 97 AS DOUBLE) / 2.0 AS value,
       coalesce(d.out_degree, 0)::BIGINT AS out_degree,
       coalesce(d.weight_sum, 0.0) AS weight_sum
FROM verts v LEFT JOIN deg d ON d.src = v.id""",
        "json_roundtrip": f"""WITH {_GRAPH}
SELECT src AS id, count(*)::BIGINT AS out_degree FROM edges GROUP BY src""",
        "seqfile_roundtrip": f"""WITH {_GRAPH}
SELECT src AS id, count(*)::BIGINT AS out_degree FROM edges GROUP BY src""",
        "json_base64_roundtrip": f"""WITH {_GRAPH}
SELECT src AS id, count(*)::BIGINT AS out_degree FROM edges GROUP BY src""",
        "snapshot_time_travel": _SNAPSHOT_TIME_TRAVEL_SQL,
        "snapshot_pruned_read": _snapshot_pruned_read_sql(),
        "snapshot_pruned_dates": _SNAPSHOT_PRUNED_DATES_SQL,
        "partition_mapping_quality": _partition_mapping_quality_sql(
            _CORPUS_PATH, max(10, _CORPUS_N // 50)
        ),
        "in_degrees": f"""WITH {_GRAPH}
SELECT dst AS id, count(*)::BIGINT AS in_degree FROM edges GROUP BY dst""",
        "degree_stats": f"""WITH {_GRAPH},
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
d AS (SELECT coalesce(g.outdeg, 0) AS d FROM verts v LEFT JOIN deg g ON g.src = v.id)
SELECT (SELECT count(*) FROM verts)::BIGINT AS n_vertices,
       (SELECT count(*) FROM edges)::BIGINT AS n_edges,
       min(d)::BIGINT AS min_out, max(d)::BIGINT AS max_out,
       round(avg(d), 6) AS avg_out
FROM d""",
        "symmetrize": f"""WITH {_GRAPH},
{_SYM}
SELECT src, dst FROM sym""",
        "mutual_edges": f"""WITH {_GRAPH}
SELECT e.src, e.dst FROM edges e
WHERE EXISTS (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)""",
        "normalize_weights": f"""WITH {_GRAPH},
w AS (SELECT src, dst, CAST((src * 7 + dst * 13) % 3 + 1 AS DOUBLE) AS weight FROM edges)
SELECT src, dst,
       round(weight / sum(weight) OVER (PARTITION BY src), 6) AS weight
FROM w""",
        "dedup_exact": """SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_id, count(*)::BIGINT AS n_copies
FROM documents GROUP BY md5(text)""",
        "token_stats": """SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_distinct,
       length(text)::BIGINT AS n_chars
FROM documents""",
        "quality": _QUALITY_SQL,
        "filter_corpus": _filter_corpus_sql(),
        "bm25": _BM25_SQL,
        "phrase_match": _PHRASE_SQL,
        "surprisal": _SURPRISAL_SQL,
        "bpe_tokens": _bpe_tokens_sql(),
        "lang_id": _lang_id_sql(),
        "fingerprints": f"""WITH {_POS_TOKENS},
{_SHINGLES3}
SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id""",
        "jaccard_near_dup": _JACCARD_SQL,
        "minhash_lsh": _MINHASH_SQL,
        "lsh_eval": _lsh_eval_sql(),
        "lsh_incremental": _LSH_INCR_SQL,
        "simhash_pairs": _simhash_pairs_sql(),
        "simhash_pairs_capped": _simhash_pairs_sql(max_bucket=50),
        "dedup_clusters": _dedup_clusters_sql(4),
        "neighbor_topk": f"""WITH {_GRAPH},
r AS (
  SELECT dst AS id, src AS neighbor_id,
         row_number() OVER (PARTITION BY dst ORDER BY src DESC) AS rank
  FROM edges
)
SELECT rank::BIGINT AS rank, id, neighbor_id FROM r WHERE rank <= 3""",
        "simhash": _simhash_sql(),
        "ann_topk": _ANN_SQL,
        "ivf_assign": _IVF_SQL,
        "ivf_topk": _ANN_SQL,
        "kmeans_ivf": _kmeans_assign_sql(8, 4, 7),
        "semdedup": _semdedup_sql(8, 4, 7, 0.4),
        "pq_encode": _pq_encode_sql(2),
        "pq_topk": _pq_topk_sql(2, 5, 2),
        "cosine_near_dup": _COSINE_PAIRS_SQL,
        "cosine_near_dup_lsh": _cosine_lsh_sql(0.4, 64, 32, 16, 42),
        "coarsen": f"""WITH {_GRAPH}
SELECT (src % 64) AS src, (dst % 64) AS dst, count(*)::BIGINT AS weight
FROM edges GROUP BY (src % 64), (dst % 64)""",
        "sample_split": "SELECT doc_id, lang FROM documents WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT / 1152921504606846976.0) < 0.2",
        "sample_stratified": """SELECT doc_id, lang FROM documents
WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT / 1152921504606846976.0)
      < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'fr' THEN 0.25 ELSE 0.1 END)""",
        "doc_shards": """SELECT doc_id,
       CAST(floor((sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - n_chars) / 50000.0) AS BIGINT) AS shard
FROM documents""",
        "sessionize": _SESSION_SQL,
        "balance_langs": _BALANCE_SQL,
        "funnel": _FUNNEL_SQL,
        "cohort": _COHORT_SQL,
        "event_rollup": _ROLLUP_SQL,
        "scc": _SCC_SQL,
        "ppr": _ppr_sql(15),
        "ppr_batch": _ppr_batch_sql(10),
        "local_community": _local_community_sql(15),
        "mis": _mis_sql(24),
        "matching": _matching_oracle_sql(),
        "redirects": _redirects_sql(),
        "rmat": rmat_sql(12, 16384, seed=7),
        "deadlock": _deadlock_sql(12),
        "corpus_extract_check": _corpus_extract_sql(_CORPUS_PATH),
        "corpus_pagerank": _corpus_pagerank_sql(_CORPUS_PATH, 10),
        "corpus_wcc": _corpus_wcc_sql(_CORPUS_PATH),
        "media_features": _media_features_sql(
            _MEDIA_N, _MEDIA_W, _MEDIA_H, _MEDIA_C, _MEDIA_COEFFS
        ),
        "bmp_features": _media_features_sql(
            _BMP_N, _BMP_W, _BMP_H, 3, _BMP_COEFFS
        ),
        "gif_features": _gif_features_sql(
            _GIF_N, _GIF_W, _GIF_H, _GIF_COLORS, _GIF_COEFFS, _GIF_PAL
        ),
        "audio_features": _audio_features_sql(
            _AUDIO_N, _AUDIO_M, _AUDIO_RATE, _AUDIO_COEFFS
        ),
        "streaming_extract": _streaming_extract_sql(_CORPUS_PATH),
        "corpus_host_graph": _corpus_host_graph_sql(_CORPUS_PATH),
        "corpus_host_rank": _corpus_host_rank_sql(_CORPUS_PATH, 10),
        "corpus_trustrank": _corpus_trustrank_sql(_CORPUS_PATH, 10),
        "corpus_anchor_text": _corpus_anchor_text_sql(_CORPUS_PATH),
        "url_canonical": _url_canonical_sql(),
        "crawl_frontier": _CRAWL_FRONTIER_SQL,
        "boilerplate": _BOILERPLATE_SQL,
        "containment": _CONTAINMENT_SQL,
        "url_domains": _url_domains_sql(),
        "mirror_hosts": _mirror_hosts_sql(),
        "pmi": _PMI_SQL,
        "tfidf": _TFIDF_SQL,
        "corpus_host_delta": _corpus_host_delta_sql(_CORPUS_PATH, _CORPUS_N),
        "component_sizes": (
            "WITH "
            + ",\n".join(
                [
                    _GRAPH,
                    _SYM,
                    "p0 AS MATERIALIZED (SELECT id, id AS lab FROM verts)",
                ]
                + [
                    f"""p{k + 1} AS MATERIALIZED (
  SELECT v.id, least(v.lab, coalesce(m.m, v.lab)) AS lab
  FROM p{k} v LEFT JOIN (
    SELECT e.dst AS id, min(l.lab) AS m
    FROM sym e JOIN p{k} l ON l.id = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
                    for k in range(20)
                ]
            )
            + "\nSELECT lab AS component, count(*)::BIGINT AS size FROM p20 GROUP BY lab"
        ),
        "largest_component": (
            "WITH "
            + ",\n".join(
                [
                    _GRAPH,
                    _SYM,
                    "p0 AS MATERIALIZED (SELECT id, id AS lab FROM verts)",
                ]
                + [
                    f"""p{k + 1} AS MATERIALIZED (
  SELECT v.id, least(v.lab, coalesce(m.m, v.lab)) AS lab
  FROM p{k} v LEFT JOIN (
    SELECT e.dst AS id, min(l.lab) AS m
    FROM sym e JOIN p{k} l ON l.id = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
                    for k in range(20)
                ]
                + [
                    "cs AS (SELECT lab AS component, count(*)::BIGINT AS size FROM p20 GROUP BY lab)",
                ]
            )
            + """
SELECT component, size FROM (
  SELECT component, size,
         row_number() OVER (ORDER BY size DESC, component ASC) AS rn
  FROM cs
) WHERE rn = 1"""
        ),
    }
