"""Seeded input generators: graph catalogs, write streams, text corpora.

Everything here is pure Python and a function of its ``random.Random``
argument, so one seed always yields the same inputs.

Graph shapes come from the reference's own fixture corpus
(``operators/store_queries.FIXTURE_GRAPHS``, G0-G12 plus W1/W2): most
of those graphs are undirected trees stored as symmetric edge pairs,
2-30 vertices, 2-6 BFS layers from vertex 1. Each such fixture gives a
*template*, its BFS layer widths from vertex 1, and ``tree_graph``
draws a fresh symmetric tree with the same number of layers and layer
sizes between half the template's width and its width. Every vertex of
layer ``i + 1`` gets one parent in layer ``i`` (both directions stored,
like the fixtures), so the BFS level of a vertex from vertex 1 is
exactly its layer and a BFS takes exactly ``len(widths)`` supersteps
whatever the seed. The seed changes the wiring (and so the DFS leaves
and ranks), never the superstep count.
"""

from __future__ import annotations

import math
import random
import re
from collections import Counter

from graphdatabase_spark.operators.store_queries import FIXTURE_GRAPHS

import oracles


def _layer_widths(edges, start: int = 1) -> list[int]:
    c = Counter(lv for _, lv in oracles.bfs_levels(edges, start))
    return [c[i] for i in range(len(c))]


def fixture_catalog() -> dict[str, tuple[int, list[tuple[int, int]],
                                         dict[tuple[int, int], int]]]:
    """``{name: (n, edges, weights)}`` of the reference fixture graphs,
    verbatim; ``weights`` holds the cells other than 1. The empty graph
    G12 is left out: an empty matrix adds no graph to the store."""
    out = {}
    for name, (n, rows) in FIXTURE_GRAPHS.items():
        if n:
            out[name] = (n, sorted((s, d) for s, d, _ in rows),
                         {(s, d): w for s, d, w in rows if w != 1})
    return out


def fixture_templates() -> dict[str, list[int]]:
    """``{fixture name: BFS layer widths}`` for every fixture that is a
    symmetric tree with more than one vertex (G1, G3-G9)."""
    out = {}
    for name, (n, edges, weights) in fixture_catalog().items():
        es = set(edges)
        if (n > 1 and not weights and len(es) == 2 * (n - 1)
                and all(s != d and (d, s) in es for s, d in es)):
            out[name] = _layer_widths(edges)
    return out


# Shape templates: one per symmetric-tree fixture, plus the deep,
# chain-like shape the workload definition asks for (10 layers of 1-2
# vertices), deeper than any fixture.
TEMPLATES = {**fixture_templates(), "chain10": [1] + [2] * 9}


def tree_graph(rng: random.Random, widths: list[int]
               ) -> tuple[int, list[tuple[int, int]]]:
    """``(n, edges)`` of a random symmetric tree shaped like
    ``widths``: layer 0 is vertex 1 alone, layer ``i`` holds between
    ``ceil(widths[i] / 2)`` and ``widths[i]`` vertices, each with one
    parent in the layer above; every tree edge is stored in both
    directions. Ids are 1-indexed."""
    sizes = [1] + [rng.randint((w + 1) // 2, w) for w in widths[1:]]
    layer_of: list[list[int]] = []
    nxt = 1
    for s in sizes:
        layer_of.append(list(range(nxt, nxt + s)))
        nxt += s
    edges: set[tuple[int, int]] = set()
    for i in range(1, len(sizes)):
        for v in layer_of[i]:
            u = rng.choice(layer_of[i - 1])
            edges |= {(u, v), (v, u)}
    return nxt - 1, sorted(edges)


def matrix_text(n: int, edges: list[tuple[int, int]],
                weights: dict[tuple[int, int], int] | None = None) -> str:
    """The reference's adjacency-matrix exchange format for a graph
    (cell = edge weight, 1 unless ``weights`` says otherwise)."""
    weights = weights or {}
    rows = [["0"] * n for _ in range(n)]
    for s, d in edges:
        rows[s - 1][d - 1] = str(weights.get((s, d), 1))
    return f"{n}\n" + "\n".join(" ".join(r) for r in rows) + "\n"


def catalog(rng: random.Random, templates: list[str], count: int
            ) -> dict[str, tuple[int, list[tuple[int, int]], dict]]:
    """``{name: (n, edges, weights)}`` for ``count`` generated graphs
    whose templates cycle through ``templates``, so every seed gets the
    same mix of shapes, plus the fixture graphs themselves."""
    out = {}
    for i in range(count):
        n, edges = tree_graph(rng, TEMPLATES[templates[i % len(templates)]])
        out[f"g{i:04d}"] = (n, edges, {})
    out.update(fixture_catalog())
    return out


class Zipf:
    """Seeded Zipf(s) sampler over ``items`` (rank 1 = first item)."""

    def __init__(self, rng: random.Random, items: list, s: float):
        self.rng = rng
        self.items = list(items)
        w = [1.0 / (k ** s) for k in range(1, len(items) + 1)]
        tot = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / tot
            self.cdf.append(acc)

    def pick(self):
        u = self.rng.random()
        lo, hi = 0, len(self.cdf) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return self.items[lo]


# -- text corpus with planted near-duplicate clusters -----------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
              "da", "fo", "gu", "hi", "ja", "ke", "wu", "yo", "be", "co"]


def _vocab(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def shingle_set(text: str, k: int) -> set[str]:
    """The pipeline's shingle rule in pure Python: lowercase, split on
    non-alphanumerics, distinct space-joined k-token windows."""
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def corpus(rng: random.Random, docs: int, words_per_doc: int,
           clusters: int, cluster_size: int, edit_rate: float,
           vocab_size: int, k: int, min_jaccard: float
           ) -> tuple[list[tuple[int, str]], set[tuple[int, int]]]:
    """``(docs, planted_pairs)``: ``docs`` random documents of which
    ``clusters`` groups of ``cluster_size`` are near-copies of one
    cluster root (each copy replaces about ``edit_rate`` of the root's
    words). Planted pairs are every within-cluster pair whose exact
    k-shingle Jaccard is at least ``min_jaccard`` — the pairs a correct
    near-dup pipeline at that threshold must find."""
    vocab = _vocab(rng, vocab_size)
    texts: list[str] = []
    groups: list[list[int]] = []
    for _ in range(clusters):
        root = [rng.choice(vocab) for _ in range(words_per_doc)]
        ids = []
        for _ in range(cluster_size):
            copy = [rng.choice(vocab) if rng.random() < edit_rate else w
                    for w in root]
            ids.append(len(texts))
            texts.append(" ".join(copy))
        groups.append(ids)
    while len(texts) < docs:
        texts.append(" ".join(rng.choice(vocab)
                              for _ in range(words_per_doc)))
    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id = {old: new + 1 for new, old in enumerate(order)}
    rows = sorted((doc_id[i], t) for i, t in enumerate(texts))
    sh = {doc_id[i]: shingle_set(t, k) for i, t in enumerate(texts)}
    planted: set[tuple[int, int]] = set()
    for ids in groups:
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                x, y = sorted((doc_id[ids[a]], doc_id[ids[b]]))
                if oracles.jaccard(sh[x], sh[y]) >= min_jaccard:
                    planted.add((x, y))
    return rows, planted


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]
