"""``graph._kcore_peel``, the driver-side peel of ``graph_kcore_peeling``,
against a brute-force dict-and-set reference. No Spark session."""

from __future__ import annotations

import numpy as np

from spark_rapids_ml_spark.operators.graph import _KCORE_ROUNDS, _kcore_peel


def _reference(edges):
    """The oracle's peel spelled out on a set of (a, b) edges."""
    edges = set(edges)
    k = None
    traj = []
    for r in range(_KCORE_ROUNDS + 1):
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        vr, er = len(deg), len(edges)
        if k is None:
            k = (2 * er) // vr + 1 if vr else 1
        traj.append((r, k, vr, er))
        edges = {(a, b) for a, b in edges if deg[a] >= k and deg[b] >= k}
    return traj


def _peel(edges):
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    return _kcore_peel(a, b, _KCORE_ROUNDS)


def _ladder_and_k4():
    """A 6-rung ladder (its end nodes have degree 2, the rest 3) beside a
    K4. 16 nodes, 22 edges, so k = 44 // 16 + 1 = 3: each round strips
    the ladder's two end rungs until only the K4 is left."""
    u = [100 + i for i in range(6)]
    v = [200 + i for i in range(6)]
    edges = [(u[i], v[i]) for i in range(6)]
    edges += [(u[i], u[i + 1]) for i in range(5)] + [(v[i], v[i + 1]) for i in range(5)]
    edges += [(i, j) for i in range(4) for j in range(i + 1, 4)]
    return edges


def test_multi_round_trajectory():
    edges = _ladder_and_k4()
    want = [(0, 3, 16, 22), (1, 3, 12, 16), (2, 3, 8, 10), (3, 3, 4, 6), (4, 3, 4, 6)]
    assert _reference(edges) == want
    assert _peel(edges) == want


def test_graph_that_empties_at_round_1():
    edges = [(1, 2), (2, 3)]  # a path: k = 4 // 3 + 1 = 2, the ends have degree 1
    want = [(0, 2, 3, 2)] + [(r, 2, 0, 0) for r in range(1, _KCORE_ROUNDS + 1)]
    assert _reference(edges) == want
    assert _peel(edges) == want


def test_empty_slice():
    # the oracle's NULLIF/COALESCE branch: k = 1 and all-zero rows
    want = [(r, 1, 0, 0) for r in range(_KCORE_ROUNDS + 1)]
    assert _peel([]) == want
    assert _reference([]) == want


def test_edge_order_does_not_matter():
    rng = np.random.default_rng(7)
    edges = _ladder_and_k4()
    want = _peel(edges)
    for _ in range(5):
        assert _peel([edges[i] for i in rng.permutation(len(edges))]) == want


def test_random_graphs_match_reference():
    rng = np.random.default_rng(11)
    for n, m in [(5, 6), (30, 60), (200, 900), (1000, 2500)]:
        pairs = rng.integers(0, n, size=(m, 2)) * 7919 + 1
        edges = sorted({(min(p), max(p)) for p in pairs.tolist() if p[0] != p[1]})
        assert _peel(edges) == _reference(edges)
        shuffled = [edges[i] for i in rng.permutation(len(edges))]
        assert _peel(shuffled) == _reference(edges)
