"""Pure-Python oracles for every answer the benchmark checks.

Each function takes plain Python data (edge lists, adjacency maps,
document texts) and returns the expected answer in the same shape the
benchmark normalises Spark results to, so a check is one ``==`` (or a
tolerance compare for PageRank).
"""

from __future__ import annotations

import hashlib
from collections import deque

from graphdatabase_spark.functions.dedup import (LSH_BANDS, LSH_ROWS,
                                                 MINHASH_AB, MINHASH_K)
from graphdatabase_spark.functions.hashing import MINHASH_PRIME as P
from graphdatabase_spark.operators.dfs import canonical_dfs_leaves

# PageRank answers agree with power iteration when every rank is within
# this relative tolerance (double sums in a different association order).
PAGERANK_RTOL = 1e-9


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def adjacency(edges) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    return adj


def bfs_levels(edges, start: int) -> set[tuple[int, int]]:
    """``{(vertex, level)}`` for every vertex reachable from ``start``."""
    adj = adjacency(edges)
    level = {start: 0}
    q = deque([start])
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in level:
                level[v] = level[u] + 1
                q.append(v)
    return set(level.items())


def dfs_leaves(edges, start: int) -> list[int]:
    """Sorted DFS-forest leaves, through the engine's own canonical
    definition (ascending-neighbour sequential DFS)."""
    return canonical_dfs_leaves(adjacency(edges), start)


def components(vertices, edges) -> dict[int, int]:
    """``{vid: min vid of its undirected component}`` by union-find."""
    parent = {v: v for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in vertices}


def pagerank(vertices, edges, iterations: int,
             damping: float = 0.85) -> dict[int, float]:
    """Fixed-iteration power iteration with the engine's normalisation
    (ranks start at 1.0 and sum to the vertex count) and uniform
    redistribution of dangling mass."""
    verts = sorted(set(vertices))
    n = len(verts)
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {v: 1.0 for v in verts}
    for _ in range(iterations):
        recv = {v: 0.0 for v in verts}
        for s, ds in out.items():
            c = rank[s] / len(ds)
            for d in ds:
                recv[d] += c
        dangling = sum(rank[v] for v in verts if v not in out)
        base = (1.0 - damping) + damping * dangling / n
        rank = {v: base + damping * recv[v] for v in verts}
    return rank


def ranks_match(got: dict[int, float], want: dict[int, float]) -> bool:
    if got.keys() != want.keys():
        return False
    return all(abs(got[v] - want[v]) <= PAGERANK_RTOL * max(1.0, abs(want[v]))
               for v in want)


class StoreModel:
    """What the store must hold after every applied write: per graph a
    ``{(src, dst): w}`` map, updated by the same append / upsert /
    delete / overwrite rules the engine documents."""

    def __init__(self):
        self.graphs: dict[str, dict[tuple[int, int], int]] = {}

    def overwrite(self, name: str, edges) -> None:
        """Replace a graph by ``edges``: ``(src, dst)`` pairs of weight
        1 or ``(src, dst, w)`` triples."""
        self.graphs[name] = {(e[0], e[1]): (e[2] if len(e) > 2 else 1)
                             for e in edges}

    def append(self, name: str, edges) -> None:
        g = self.graphs.setdefault(name, {})
        for s, d in edges:
            g[(s, d)] = 1

    def upsert(self, name: str, rows) -> None:
        g = self.graphs.setdefault(name, {})
        for s, d, w in rows:
            g[(s, d)] = w

    def delete(self, name: str, keys) -> None:
        g = self.graphs.get(name, {})
        for k in keys:
            g.pop(k, None)

    def edges(self, name: str) -> list[tuple[int, int]]:
        return sorted(self.graphs.get(name, {}))

    def rows(self) -> set[tuple[str, int, int, int]]:
        return {(g, s, d, w) for g, es in self.graphs.items()
                for (s, d), w in es.items()}


def verified_pairs_ok(pairs, shingles: dict[int, set], threshold: float
                      ) -> bool:
    """Every reported pair truly has Jaccard >= ``threshold`` over the
    documents' k-shingle sets, and no pair is reported twice."""
    seen = set()
    for a, b in pairs:
        if (a, b) in seen or a >= b:
            return False
        seen.add((a, b))
        if jaccard(shingles[a], shingles[b]) < threshold:
            return False
    return True


def verify_candidates(cands, shingles: dict[int, set], threshold: float
                      ) -> set[tuple[int, int]]:
    """The exact-Jaccard verification step over a candidate set: the
    pairs a correct verifier must keep."""
    return {(a, b) for a, b in cands
            if jaccard(shingles[a], shingles[b]) >= threshold}


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def lsh_candidates(shingles: dict[int, set]) -> set[tuple[int, int]]:
    """The exact candidate set of ``minhash_signatures`` +
    ``lsh_candidate_pairs`` recomputed in Python (same md5 hashes,
    permutations and band keys)."""
    buckets: dict[tuple[int, str], list[int]] = {}
    for doc, sh in shingles.items():
        if not sh:
            continue
        hs = [_md5_60(s) >> 16 for s in sh]
        sig = [min((a * h + b % P) % P for h in hs)
               for a, b in MINHASH_AB[:MINHASH_K]]
        for b in range(LSH_BANDS):
            key = "_".join(str(x) for x in sig[b * LSH_ROWS:(b + 1) * LSH_ROWS])
            buckets.setdefault((b, key), []).append(doc)
    out = set()
    for docs in buckets.values():
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                out.add(tuple(sorted((docs[i], docs[j]))))
    return out
