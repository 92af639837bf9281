"""Planted test graphs (FIXTURES.md §3). All deterministic.

Every generator returns adjacency-ENTRY arrays ``(n, src, dst, weight)`` —
undirected edges present in both directions, self-loops once — the
convention of the reference loader (graph.cc:31-51).
"""

from __future__ import annotations

import os

import numpy as np

_JAZZ = os.path.join(
    os.environ.get("COMM_DETECT_REFERENCE", "/root/reference"),
    "tests",
    "networkit",
    "jazz.graph",
)


def parse_dimacs(path: str):
    """DIMACS-10/METIS text (README.md:22-26, graph.cc:5-53): line 1 =
    ``n m weighted``; line k+1 = neighbors of node k-1, 1-based ids;
    weighted files alternate ``id weight`` tokens. Returns (n, src, dst, w)
    adjacency entries."""
    with open(path) as fh:
        header = fh.readline().split()
        n = int(header[0])
        weighted = len(header) > 2 and header[2] == "1"
        src, dst, wgt = [], [], []
        for u in range(n):
            toks = fh.readline().split()
            if weighted:
                ids, ws = toks[0::2], toks[1::2]
            else:
                ids, ws = toks, ["1"] * len(toks)
            for v, w in zip(ids, ws):
                src.append(u)
                dst.append(int(v) - 1)
                wgt.append(int(w))
    return (
        n,
        np.array(src, dtype=np.int64),
        np.array(dst, dtype=np.int64),
        np.array(wgt, dtype=np.int64),
    )


def jazz_edges(path: str = _JAZZ):
    """The reference's own fixture: jazz.graph (198 nodes, 2742 edges)."""
    return parse_dimacs(path)


def karate_edges():
    """networkx's Zachary karate club (34 nodes, 78 edges, integer
    weights) as adjacency entries — an in-repo real weighted graph."""
    import networkx as nx

    g = nx.karate_club_graph()
    pairs = [(u, v, d["weight"]) for u, v, d in g.edges(data=True)]
    src = np.array([u for u, _, _ in pairs] + [v for _, v, _ in pairs], np.int64)
    dst = np.array([v for _, v, _ in pairs] + [u for u, _, _ in pairs], np.int64)
    w = np.array([x for _, _, x in pairs] * 2, np.int64)
    return g.number_of_nodes(), src, dst, w


def _symmetrize(pairs: list[tuple[int, int]], n: int):
    """Undirected (u,v) pairs (u != v) -> both-direction entries, w=1."""
    src = np.array([p[0] for p in pairs] + [p[1] for p in pairs], np.int64)
    dst = np.array([p[1] for p in pairs] + [p[0] for p in pairs], np.int64)
    return n, src, dst, np.ones_like(src)


def ring_of_cliques(k: int = 8, c: int = 16):
    """k cliques of c vertices, ring of single bridge edges between
    consecutive cliques (vertex 0 of clique i — vertex 1 of clique i+1).
    Known communities (each clique), triangles = k*C(c,3), one component."""
    pairs = []
    for ci in range(k):
        base = ci * c
        for a in range(c):
            for b in range(a + 1, c):
                pairs.append((base + a, base + b))
    for ci in range(k):
        pairs.append((ci * c, ((ci + 1) % k) * c + 1))
    return _symmetrize(pairs, k * c)


def two_components(k: int = 4, c: int = 8):
    """Two disjoint ring-of-cliques instances; exactly two components with
    ids 0 and k*c."""
    n1, s1, d1, w1 = ring_of_cliques(k, c)
    n2, s2, d2, w2 = ring_of_cliques(k, c)
    return (
        n1 + n2,
        np.concatenate([s1, s2 + n1]),
        np.concatenate([d1, d2 + n1]),
        np.concatenate([w1, w2]),
    )


def weighted_triangle():
    """3 nodes; undirected weights w(0,1)=5, w(1,2)=3, w(0,2)=2; self-loop
    w(0,0)=4. Hand-checked constants (reference conventions):
      weight_net = 2*(5+3+2) + 4 = 24
      volumes    = [5+2+4+4, 5+3, 3+2] = [15, 8, 5]   (self-loop twice)
    """
    src = np.array([0, 1, 1, 2, 0, 2, 0], dtype=np.int64)
    dst = np.array([1, 0, 2, 1, 2, 0, 0], dtype=np.int64)
    w = np.array([5, 5, 3, 3, 2, 2, 4], dtype=np.int64)
    return 3, src, dst, w


def hub_star(leaves: int = 10_000):
    """One hub (vid 0) connected to every leaf — the skew fixture."""
    leaf = np.arange(1, leaves + 1, dtype=np.int64)
    hub = np.zeros(leaves, dtype=np.int64)
    src = np.concatenate([hub, leaf])
    dst = np.concatenate([leaf, hub])
    return leaves + 1, src, dst, np.ones_like(src)


def rmat_edges(
    scale: int = 16,
    edge_factor: int = 16,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
    seed: int = 42,
    directed: bool = True,
):
    """RMAT power-law generator (Graph500 parameters) with PCG64(seed) —
    the bench graph (FIXTURES.md §3.6). Returns (n, src, dst, w) DIRECTED
    entries (pass directed=False to symmetrize). Not used for golden values."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = 1 << scale
    m = n * edge_factor
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(m)
        # quadrant probabilities (a | b / c | d)
        go_right = r >= a + c  # dst high bit
        r2 = rng.random(m)
        go_down = np.where(go_right, r2 >= b / (b + (1 - a - b - c)), r2 >= a / (a + c))
        src |= go_down.astype(np.int64) << bit
        dst |= go_right.astype(np.int64) << bit
    w = np.ones(m, dtype=np.int64)
    if not directed:
        keep = src != dst
        s, d = src[keep], dst[keep]
        return n, np.concatenate([s, d]), np.concatenate([d, s]), np.ones(2 * keep.sum(), np.int64)
    return n, src, dst, w
