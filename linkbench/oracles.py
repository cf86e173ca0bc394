"""Independent reference answers for every operation the benchmark times.

Nothing here imports the engine: PageRank is a numpy power iteration,
components a union-find, BSP betweenness networkx, and the CSR betweenness
check a BFS identity.  Each ``check_*`` raises ``OracleMismatch`` on a wrong
answer so the caller can count the operation as failed.
"""

from __future__ import annotations

import numpy as np


class OracleMismatch(AssertionError):
    """An operation's output disagrees with its reference answer."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise OracleMismatch(what)


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def pagerank_reference(
    src: np.ndarray, dst: np.ndarray, *, alpha: float = 0.85, iterations: int = 10
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted vertex ids, ranks) after exactly ``iterations`` power steps.

    Same semantics as the engine: duplicate edges collapse, the teleport
    vector is uniform 1/n over vertices that appear in an edge, and the
    rank of dangling vertices is spread by the teleport vector.
    """
    pairs = np.unique(np.stack([src, dst], axis=1).astype(np.int64), axis=0)
    verts = np.unique(pairs)
    s = np.searchsorted(verts, pairs[:, 0])
    d = np.searchsorted(verts, pairs[:, 1])
    n = len(verts)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.bincount(d, weights=pr[s] / outdeg[s], minlength=n)
        pr = (1.0 - alpha) / n + alpha * (contrib + pr[dangling].sum() / n)
    return verts, pr


def check_pagerank(vertices: np.ndarray, ranks: np.ndarray, ref) -> None:
    ref_v, ref_pr = ref
    order = np.argsort(vertices)
    v, pr = np.asarray(vertices)[order], np.asarray(ranks)[order]
    _require(np.array_equal(v, ref_v), "pagerank: vertex set differs")
    _require(abs(pr.sum() - 1.0) < 1e-9, f"pagerank: sum {pr.sum()!r} != 1")
    _require(
        np.allclose(pr, ref_pr, rtol=1e-6, atol=1e-12),
        f"pagerank: max abs error {np.abs(pr - ref_pr).max():.3e}",
    )


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------

def components_reference(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sorted vertex ids, component label) by union-find over undirected edges."""
    verts = np.unique(np.concatenate([src, dst]).astype(np.int64))
    parent = list(range(len(verts)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(np.searchsorted(verts, src).tolist(), np.searchsorted(verts, dst).tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(verts))], dtype=np.int64)
    return canonical_labels(verts, verts[roots])


def canonical_labels(vertices: np.ndarray, labels: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Rename every component to its smallest member, ordered by vertex id,
    so two labelings of the same partition compare equal."""
    order = np.argsort(vertices)
    v = np.asarray(vertices, dtype=np.int64)[order]
    lab = np.asarray(labels)[order]
    _, inv = np.unique(lab, return_inverse=True)
    smallest = np.full(inv.max() + 1 if len(inv) else 0, np.iinfo(np.int64).max)
    np.minimum.at(smallest, inv, v)
    return v, smallest[inv]


def check_components(vertices: np.ndarray, labels: np.ndarray, ref) -> None:
    ref_v, ref_lab = ref
    v, lab = canonical_labels(vertices, labels)
    _require(np.array_equal(v, ref_v), "components: vertex set differs")
    _require(
        np.array_equal(lab, ref_lab),
        f"components: {int((lab != ref_lab).sum())} vertices in the wrong component",
    )


# ---------------------------------------------------------------------------
# Betweenness
# ---------------------------------------------------------------------------

def undirected_csr(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(indptr, indices) of the symmetrized, deduplicated, loop-free graph."""
    a = np.concatenate([src, dst]).astype(np.int64)
    b = np.concatenate([dst, src]).astype(np.int64)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, pairs[:, 0] + 1, 1)
    np.cumsum(indptr, out=indptr)
    return indptr, pairs[:, 1].copy()


def bfs_distances(indptr: np.ndarray, indices: np.ndarray, source: int) -> np.ndarray:
    """Hop distance from ``source`` to every vertex (-1 when unreachable)."""
    dist = np.full(len(indptr) - 1, -1, dtype=np.int64)
    dist[source] = 0
    frontier = np.array([source], dtype=np.int64)
    level = 0
    while frontier.size:
        level += 1
        starts = indptr[frontier]
        counts = indptr[frontier + 1] - starts
        # positions of every frontier vertex's adjacency slice, concatenated
        pos = np.repeat(starts - np.cumsum(counts) + counts, counts) + np.arange(counts.sum())
        nbrs = indices[pos]
        nbrs = np.unique(nbrs[dist[nbrs] == -1])
        dist[nbrs] = level
        frontier = nbrs
    return dist


def dependency_total(indptr: np.ndarray, indices: np.ndarray, source: int) -> float:
    """Σ_v δ_s(v) for one source: every shortest s→t path has d(s,t)−1
    interior vertices and the pair dependencies of t sum to one path's
    worth, so the total is Σ_t (d(s,t) − 1) over reachable t ≠ s."""
    d = bfs_distances(indptr, indices, source)
    return float((d[d > 0] - 1).sum())


def check_dependency_total(bc_total: float, expected_total: float, what: str) -> None:
    _require(
        abs(bc_total - expected_total) <= 1e-6 * max(1.0, abs(expected_total)),
        f"{what}: Σ bc {bc_total!r} != Σ_t (d-1) {expected_total!r}",
    )


def betweenness_subset_reference(src: np.ndarray, dst: np.ndarray, sources: list[int]) -> dict:
    """networkx Brandes partial sums over ``sources`` (undirected, unnormalized)."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    return nx.betweenness_centrality_subset(g, sources=sources, targets=list(g), normalized=False)


def check_betweenness(vertices: np.ndarray, bc: np.ndarray, ref: dict) -> None:
    order = np.argsort(vertices)
    v, got = np.asarray(vertices)[order], np.asarray(bc)[order]
    ref_v = np.array(sorted(ref), dtype=np.int64)
    _require(np.array_equal(v, ref_v), "betweenness: vertex set differs")
    want = np.array([ref[int(x)] for x in ref_v], dtype=np.float64)
    _require(
        np.allclose(got, want, rtol=1e-6, atol=1e-6),
        f"betweenness: max abs error {np.abs(got - want).max():.3e}",
    )


# ---------------------------------------------------------------------------
# Edge derivation
# ---------------------------------------------------------------------------

def check_counts(what: str, got: int, want: int) -> None:
    _require(got == want, f"{what}: {got} != expected {want}")
