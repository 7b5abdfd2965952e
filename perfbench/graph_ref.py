"""Pure-Python references for the five graph operators, on the same
undirected edge list the benchmark hands to Spark. Each follows the
operator's documented rule (``operators/graph.py``) rather than its
plan, so a plan change that alters a result shows as a failed check.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from advisorydatapipeline_spark.operators.graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
)


def adjacency(edges) -> dict[int, set[int]]:
    """Deduplicated undirected adjacency (self loops kept as given)."""
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def components(edges) -> dict[int, int]:
    """Union-find; each node maps to the minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for e in edges for n in e}


def pagerank(adj: dict[int, set[int]], iters: int) -> dict[int, int]:
    """Fixed-point integer PageRank: rank_0 = PR_SCALE and
    rank_k+1(v) = base + sum over neighbours u of
    (85 * rank_k(u)) DIV (100 * deg(u))."""
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    rank = {v: PR_SCALE for v in adj}
    for _ in range(iters):
        nxt = dict.fromkeys(adj, base)
        for u, nbrs in adj.items():
            c = (PR_DAMP_NUM * rank[u]) // (PR_DAMP_DEN * len(nbrs))
            for v in nbrs:
                nxt[v] += c
        rank = nxt
    return rank


def bfs(adj: dict[int, set[int]], seeds, max_hops: int) -> dict[int, int]:
    """Minimum hop count from any seed, for nodes within ``max_hops``."""
    hops = {s: 0 for s in seeds}
    frontier = list(hops)
    for h in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in hops:
                    hops[v] = h
                    nxt.append(v)
        frontier = nxt
    return hops


def k_core_edges(adj: dict[int, set[int]], k: int) -> set[tuple[int, int]]:
    """Directed (a, b) edges of the k-core: drop every node of degree
    below ``k`` until none is left."""
    alive = {v: set(n) for v, n in adj.items()}
    while True:
        low = [v for v, n in alive.items() if len(n) < k]
        if not low:
            break
        for v in low:
            for u in alive.pop(v):
                if u in alive:
                    alive[u].discard(v)
    return {(a, b) for a, n in alive.items() for b in n}


def label_propagation(adj: dict[int, set[int]], rounds: int) -> dict[int, int]:
    """Synchronous majority vote over neighbour labels; ties go to the
    smallest label."""
    lab = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v, nbrs in adj.items():
            votes = Counter(lab[u] for u in nbrs)
            nxt[v] = min(votes, key=lambda x: (-votes[x], x))
        lab = nxt
    return lab
