"""Driver-independent reference implementations (numpy / pure python) used
as test oracles — mirror the reference semantics exactly."""

from __future__ import annotations

from itertools import combinations

import numpy as np


def pagerank_oracle(
    edges: list[tuple[int, int]], damping: float = 0.85, iters: int = 30
) -> dict[int, float]:
    """Blocks PageRank (PageRankIteration.java:254-264): init 1.0, sink
    mass redistributed uniformly, mass conserved at N."""
    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.ones(n)
    d = damping
    for _ in range(iters):
        all_sum = r.sum()
        sink_sum = r[out == 0].sum()
        msgs = np.zeros(n)
        for s, t in edges:
            msgs[idx[t]] += r[idx[s]] / out[idx[s]]
        r = d * (msgs + sink_sum / n) + (1 - d) * all_sum / n
    return {v: r[idx[v]] for v in ids}


def wcc_oracle(edges: list[tuple[int, int]], extra_ids: list[int] | None = None) -> dict[int, int]:
    """Union-find; component id = min vertex id (undirected closure)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for v in extra_ids or []:
        find(v)
    return {v: find(v) for v in parent}


def triangles_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Per-vertex triangle counts on the undirected simple graph."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {v: 0 for v in adj}
    for v in adj:
        for a, b in combinations(sorted(adj[v]), 2):
            if b in adj.get(a, ()):  # noqa: SIM118
                counts[v] += 1
    return counts


def lpa_oracle(
    edges: list[tuple[int, int]], iters: int
) -> dict[int, int]:
    """Synchronous mode-label propagation, tie-break to smaller label,
    undirected (symmetrized) neighbors; isolated update keeps label."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            freq: dict[int, int] = {}
            for u in adj[v]:
                freq[labels[u]] = freq.get(labels[u], 0) + 1
            best = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            return new
        labels = new
    return labels


def sssp_oracle(
    edges: list[tuple[int, int, float]], source: int
) -> dict[int, float]:
    """Bellman-Ford on the directed weighted graph."""
    ids = {v for s, t, _ in edges for v in (s, t)}
    dist = {v: float("inf") for v in ids}
    dist[source] = 0.0
    for _ in range(len(ids)):
        changed = False
        for s, t, w in edges:
            if dist[s] + w < dist[t]:
                dist[t] = dist[s] + w
                changed = True
        if not changed:
            break
    return dist


def scc_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Tarjan-free SCC oracle: Kosaraju on small graphs; component label =
    max vertex id in the component (matches scc.py's root labeling)."""
    ids = sorted({v for e in edges for v in e})
    fwd: dict[int, list[int]] = {v: [] for v in ids}
    rev: dict[int, list[int]] = {v: [] for v in ids}
    for a, b in edges:
        fwd[a].append(b)
        rev[b].append(a)

    visited: set[int] = set()
    order: list[int] = []

    def dfs1(start: int) -> None:
        stack = [(start, iter(fwd[start]))]
        visited.add(start)
        while stack:
            v, it = stack[-1]
            for u in it:
                if u not in visited:
                    visited.add(u)
                    stack.append((u, iter(fwd[u])))
                    break
            else:
                order.append(v)
                stack.pop()

    for v in ids:
        if v not in visited:
            dfs1(v)

    comp: dict[int, int] = {}
    for v in reversed(order):
        if v in comp:
            continue
        members = []
        stack = [v]
        seen = {v}
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            members.append(x)
            for u in rev[x]:
                if u not in comp and u not in seen:
                    seen.add(u)
                    stack.append(u)
        label = max(members)
        for m in members:
            comp[m] = label
    return comp


def bowtie_oracle(
    edges: list[tuple[int, int]], seed: int | None = None
) -> dict[int, str]:
    """Bow-tie regions relative to the SCC containing ``seed`` (default:
    the max-total-degree vertex, ties to the smallest id), from the
    forward and backward reachability sets of the seed."""
    ids = sorted({v for e in edges for v in e})
    if seed is None:
        degree = {v: 0 for v in ids}
        for a, b in edges:
            degree[a] += 1
            degree[b] += 1
        seed = min(ids, key=lambda v: (-degree[v], v))

    def reach(pairs: list[tuple[int, int]]) -> set[int]:
        adj: dict[int, list[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
        seen = {seed}
        stack = [seed]
        while stack:
            for u in adj.get(stack.pop(), []):
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        return seen

    fwd = reach(edges)
    bwd = reach([(b, a) for a, b in edges])
    return {
        v: "CORE" if v in fwd and v in bwd
        else "IN" if v in bwd
        else "OUT" if v in fwd
        else "OTHER"
        for v in ids
    }


def is_independent_set(edges: list[tuple[int, int]], chosen: set[int]) -> bool:
    return not any(
        (a in chosen and b in chosen) and a != b for a, b in edges
    )


def is_maximal_independent_set(
    edges: list[tuple[int, int]], chosen: set[int]
) -> bool:
    if not is_independent_set(edges, chosen):
        return False
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v in adj:
        if v not in chosen and not (adj[v] & chosen):
            return False
    return True


def ppr_oracle(
    edges: list[tuple[int, int]], sources: list[int], teleport: float, iters: int
) -> dict[int, float]:
    """Personalized PageRank with restart-at-sources for dangling mass."""
    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    pref = np.zeros(n)
    for s in sources:
        pref[idx[s]] = 1.0 / len(sources)
    r = pref.copy()
    t = teleport
    for _ in range(iters):
        sink_sum = r[out == 0].sum()
        msgs = np.zeros(n)
        for s, tgt in edges:
            msgs[idx[tgt]] += r[idx[s]] / out[idx[s]]
        r = (1 - t) * msgs + (t + (1 - t) * sink_sum) * pref
    return {v: r[idx[v]] for v in ids}
