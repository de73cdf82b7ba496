"""Independent numpy oracles for the benchmark's correctness checks.

They read the generator's ``truth`` table (repo and imported repo ids per
file), never the source text, so mining, graph build and every algorithm
are checked end to end.  Results the engine wrote are read back with
pyarrow, without Spark.

- PageRank: pagerank.rs semantics (damping 0.85, sink mass spread over all
  nodes, L1 stop ``sum|d| <= tol * n``); compared allclose 1e-6.
- WCC: union-find, component label = smallest node id; exact.
- Triangles: degree-ordered forward sets, each triangle once; exact.
- LPA: replay of the sync schedule (half the nodes per sweep, picked by
  the md5 parity of ``lpa:<seed>:<id>``, most frequent neighbour label,
  ties to the larger label) for a fixed even number of sweeps; exact.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAMPING = 0.85


@dataclass
class Truth:
    repo: np.ndarray  # per file
    n_imports: np.ndarray  # per file
    dsts: np.ndarray  # imported repo ids, files concatenated


@dataclass
class Graph:
    nodes: np.ndarray  # sorted node ids
    src: np.ndarray  # simple directed edges, as indices into nodes
    dst: np.ndarray

    @property
    def n(self) -> int:
        return len(self.nodes)


def load_truth(path: str) -> Truth:
    tbl = pq.read_table(path, columns=["repo", "dsts"])
    dsts = tbl["dsts"].combine_chunks()
    return Truth(
        repo=tbl["repo"].to_numpy().astype(np.int64),
        n_imports=pc.list_value_length(dsts).to_numpy(zero_copy_only=False).astype(np.int64),
        dsts=pc.list_flatten(dsts).to_numpy().astype(np.int64),
    )


def simple_graph(truth: Truth) -> Graph:
    """The simple directed graph: every file's repo plus every imported repo
    is a node; parallel imports collapse to one edge, self-imports stay."""
    src = np.repeat(truth.repo, truth.n_imports)
    dst = truth.dsts
    nodes = np.unique(np.concatenate([truth.repo, dst]))
    pairs = np.unique((src << 32) | dst)
    return Graph(
        nodes,
        np.searchsorted(nodes, pairs >> 32),
        np.searchsorted(nodes, pairs & 0xFFFFFFFF),
    )


def pagerank(g: Graph, tol: float, max_iter: int) -> tuple[np.ndarray, int]:
    """Scores per node (aligned with ``g.nodes``) and supersteps run."""
    n = g.n
    out_deg = np.bincount(g.src, minlength=n).astype(np.float64)
    sinks = out_deg == 0
    score = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        share = np.where(sinks, 0.0, score / np.where(sinks, 1.0, out_deg))
        msum = np.bincount(g.dst, weights=share[g.src], minlength=n)
        new = DAMPING * msum + (1.0 - DAMPING) / n + DAMPING * score[sinks].sum() / n
        diff = np.abs(new - score).sum()
        score = new
        if diff <= tol * n:
            break
    return score, it


def wcc(g: Graph) -> np.ndarray:
    """Component label (smallest member id) per node, by union-find."""
    parent = list(range(g.n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(g.src.tolist(), g.dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return g.nodes[[find(i) for i in range(g.n)]]


def _undirected(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """Distinct undirected neighbour pairs without self-loops, both ways."""
    lo = np.minimum(g.src, g.dst)
    hi = np.maximum(g.src, g.dst)
    keys = np.unique((lo[lo != hi] << 32) | hi[lo != hi])
    a, b = keys >> 32, keys & 0xFFFFFFFF
    return np.concatenate([a, b]), np.concatenate([b, a])


def triangles(g: Graph) -> int:
    a, b = _undirected(g)
    one_way = a < b
    a, b = a[one_way], b[one_way]
    deg = np.bincount(np.concatenate([a, b]), minlength=g.n)
    rank = np.empty(g.n, np.int64)
    rank[np.lexsort((np.arange(g.n), deg))] = np.arange(g.n)
    fwd_src = np.where(rank[a] < rank[b], a, b)
    fwd_dst = np.where(rank[a] < rank[b], b, a)
    out: list[set] = [set() for _ in range(g.n)]
    for u, v in zip(fwd_src.tolist(), fwd_dst.tolist()):
        out[u].add(v)
    return sum(len(out[u] & out[v]) for u, v in zip(fwd_src.tolist(), fwd_dst.tolist()))


def lpa_sync(g: Graph, seed: int, sweeps: int) -> np.ndarray:
    """Label per node after ``sweeps`` sync half-sweeps."""
    a, b = _undirected(g)
    parity = np.array(
        [int(hashlib.md5(f"lpa:{seed}:{v}".encode()).hexdigest()[14], 16) & 1
         for v in g.nodes.tolist()]
    )
    label = g.nodes.copy()
    for s in range(sweeps):
        nl = label[b]
        # (node, neighbour label) counts, then per node the max (count, label)
        order = np.lexsort((nl, a))
        na, nlab = a[order], nl[order]
        start = np.flatnonzero(np.r_[True, (na[1:] != na[:-1]) | (nlab[1:] != nlab[:-1])])
        counts = np.diff(np.r_[start, len(na)])
        pa, plab = na[start], nlab[start]
        best = np.lexsort((plab, counts, pa))
        last = best[np.r_[pa[best][1:] != pa[best][:-1], True]]
        cand = label.copy()
        cand[pa[last]] = plab[last]
        upd = np.zeros(g.n, bool)
        upd[pa[last]] = True
        upd &= parity == s % 2
        label = np.where(upd, cand, label)
    return label


def read_result(path: str, column: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(name, id, value) of a written result, sorted by id."""
    tbl = pq.read_table(path, columns=["name", "id", column])
    ids = tbl["id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    names = np.asarray(tbl["name"].to_pylist(), dtype=object)[order]
    return names, ids[order], tbl[column].to_numpy()[order]


def check_result(path: str, column: str, g: Graph, want: np.ndarray, exact: bool) -> str | None:
    """None when the written result matches; else a one-line reason."""
    names, ids, got = read_result(path, column)
    if not np.array_equal(ids, g.nodes):
        return f"{path}: node set differs ({len(ids)} rows, oracle {g.n})"
    if not all(nm == str(i) for nm, i in zip(names.tolist(), ids.tolist())):
        return f"{path}: names do not match ids"
    if exact:
        bad = int(np.count_nonzero(got != want))
    else:
        bad = int(np.count_nonzero(~np.isclose(got, want, rtol=0.0, atol=1e-6)))
    return f"{path}: {bad} of {g.n} {column} values differ" if bad else None
