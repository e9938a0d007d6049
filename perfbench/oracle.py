"""Reference answers, computed in numpy / pure Python / DuckDB.

Nothing here calls the program under test. Graphs are held as compact
index arrays (s, d, w) over ``ids``, the sorted vertex ids; because the
compaction preserves id order, "min id" and "min index" agree.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa

_U = np.uint64
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def xxhash64_long(v: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(<bigint column>)`` (XXH64.hashLong), as int64."""
    with np.errstate(over="ignore"):
        x = v.astype(np.int64).view(_U)
        h = _U(seed) + _P5 + _U(8)
        h = h ^ (_rotl(x * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> _U(33)
        h *= _P2
        h ^= h >> _U(29)
        h *= _P3
        h ^= h >> _U(32)
    return h.view(np.int64)


@dataclass
class Graph:
    """Symmetric weighted graph: edge k is ids[s[k]] -> ids[d[k]], weight w[k]."""

    ids: np.ndarray
    s: np.ndarray
    d: np.ndarray
    w: np.ndarray

    @property
    def n(self) -> int:
        return len(self.ids)

    def edge_frame(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(src id, dst id, w) sorted by (src, dst) — the expected edge table."""
        order = np.lexsort((self.d, self.s))
        return self.ids[self.s[order]], self.ids[self.d[order]], self.w[order]


def build_graph(src: np.ndarray, dst: np.ndarray) -> Graph:
    """Same contract as ``sources.graphs.build_graph(pairs)``: weight =
    multiplicity of (src, dst), loops dropped, then A + A^T."""
    ids = np.unique(np.concatenate([src, dst]))
    n = len(ids)
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    keep = s != d
    key, cnt = np.unique(s[keep] * n + d[keep], return_counts=True)
    ks = np.concatenate([key // n, key % n])
    kd = np.concatenate([key % n, key // n])
    sym, inv = np.unique(ks * n + kd, return_inverse=True)
    w = np.bincount(inv, weights=np.concatenate([cnt, cnt]).astype(np.float64))
    # vertices that only had loops vanish from the edge table, as in Spark
    used = np.unique(np.concatenate([sym // n, sym % n]))
    remap = np.full(n, -1, dtype=np.int64)
    remap[used] = np.arange(len(used))
    return Graph(ids[used], remap[sym // n], remap[sym % n], w)


def cooccurrence_pairs(
    repo: np.ndarray, vid: np.ndarray, all_pairs_max: int = 64, hub_split: int = 8
) -> tuple[np.ndarray, np.ndarray]:
    """The (src, dst) pairs ``build_edges_cooccurrence`` links: all pairs
    inside repos of <= all_pairs_max files; larger repos get a star onto
    the min-id file of each of ``hub_split`` xxhash64 salt buckets, with
    the bucket anchors chained in id order."""
    sizes = np.bincount(repo)
    order = np.lexsort((vid, repo))
    repo, vid = repo[order], vid[order]
    starts = np.concatenate([[0], np.cumsum(sizes)])
    src, dst = [], []
    for r in np.nonzero(sizes)[0]:
        members = vid[starts[r]:starts[r + 1]]
        m = len(members)
        if m <= all_pairs_max:
            i, j = np.triu_indices(m, 1)
            src.append(members[i])
            dst.append(members[j])
            continue
        salt = xxhash64_long(members) & (hub_split - 1)
        anchors = np.array([members[salt == b].min() for b in np.unique(salt)])
        anchor_of = dict(zip(np.unique(salt).tolist(), anchors.tolist()))
        a = np.array([anchor_of[b] for b in salt.tolist()], dtype=np.int64)
        leaf = members != a
        src.append(np.minimum(members[leaf], a[leaf]))
        dst.append(np.maximum(members[leaf], a[leaf]))
        anchors.sort()
        src.append(anchors[:-1])
        dst.append(anchors[1:])
    return np.concatenate(src), np.concatenate(dst)


def pagerank(g: Graph, alpha: float, tol: float, max_iter: int) -> tuple[np.ndarray, int]:
    """Power iteration from the uniform vector, stopping when the L-inf
    change drops below ``tol`` or after ``max_iter`` supersteps."""
    n = g.n
    outdeg = np.bincount(g.s, weights=g.w, minlength=n)
    wn = g.w / outdeg[g.s]
    dangling = outdeg == 0
    x = np.full(n, 1.0 / n)
    steps = 0
    for _ in range(max_iter):
        dang = x[dangling].sum()
        y = (1.0 - alpha) / n + alpha * dang / n + alpha * np.bincount(
            g.d, weights=wn * x[g.s], minlength=n
        )
        delta = np.abs(y - x).max()
        x = y
        steps += 1
        if delta < tol:
            break
    return x, steps


def components(g: Graph) -> np.ndarray:
    """Min vertex index of each vertex's component (union-find)."""
    parent = list(range(g.n))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    half = g.s < g.d
    for a, b in zip(g.s[half].tolist(), g.d[half].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(a) for a in range(g.n)], dtype=np.int64)


def label_propagation(g: Graph, iters: int) -> np.ndarray:
    """Synchronous LP: each vertex takes the neighbour label with the
    largest summed weight, ties to the smallest label; returns indices."""
    n = g.n
    labels = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        key, inv = np.unique(g.d * n + labels[g.s], return_inverse=True)
        score = np.bincount(inv, weights=g.w)
        dd, ll = key // n, key % n
        order = np.lexsort((ll, -score, dd))
        dd, ll = dd[order], ll[order]
        first = np.concatenate([[True], dd[1:] != dd[:-1]])
        labels = labels.copy()
        labels[dd[first]] = ll[first]
    return labels


def triangles(g: Graph) -> int:
    """Exact triangle count of the undirected simple graph, by DuckDB."""
    half = g.s < g.d
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        con.register("e", pa.table({"u": g.s[half], "v": g.d[half]}))
        return int(
            con.execute(
                "SELECT count(*) FROM e a JOIN e b ON a.v = b.u "
                "JOIN e c ON c.u = a.u AND c.v = b.v"
            ).fetchone()[0]
        )
    finally:
        con.close()


def degree_ordered(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """Each undirected edge once, directed from the lower (degree, id)
    endpoint to the higher."""
    half = g.s < g.d
    u, v = g.s[half], g.d[half]
    deg = np.bincount(np.concatenate([u, v]), minlength=g.n)
    flip = (deg[u] > deg[v]) | ((deg[u] == deg[v]) & (u > v))
    return np.where(flip, v, u), np.where(flip, u, v)


def wedges(g: Graph) -> int:
    """Two-paths a->b->c in the degree-ordered orientation, i.e. the rows
    the triangle kernel's L*L product aggregates."""
    a, b = degree_ordered(g)
    return int((np.bincount(b, minlength=g.n) * np.bincount(a, minlength=g.n)).sum())
