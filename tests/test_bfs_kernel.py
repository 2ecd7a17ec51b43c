"""Every caller of the frontier-expansion kernel (``traversal.bfs_levels``)
against a pure-Python BFS, on one small directed graph with the
degenerate shapes a frontier loop can trip on: an isolated node, a
self-loop, a parallel edge, a back edge, and a node past ``max_hops``.
Repeated seeds must not duplicate any row or count."""

from collections import deque

import pytest

# 0 ⇉ 1 (parallel), 1 ↺ (self-loop), path 1→2→3→4→5→6, back edge 2→0,
# 7→2 feeds in from outside; 9 is isolated (no edges at all). From 0,
# node 6 sits at hop 6 — past MAX_HOPS.
EDGES = [(0, 1), (0, 1), (1, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (2, 0), (7, 2)]
MAX_HOPS = 3


def _bfs(arcs, seed, max_hops):
    """Pure-Python BFS oracle → {node: hop distance} within max_hops."""
    adj = {}
    for u, v in arcs:
        adj.setdefault(u, []).append(v)
    dist = {seed: 0}
    todo = deque([seed])
    while todo:
        u = todo.popleft()
        if dist[u] == max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                todo.append(v)
    return dist


def _sym(arcs):
    return arcs + [(v, u) for u, v in arcs]


def test_bfs_kernel_callers_match_python_bfs(spark):
    from icebug_spark.operators import pointtopoint as pp
    from icebug_spark.operators.flow import edmonds_karp
    from icebug_spark.operators.reachability import reachable_nodes
    from icebug_spark.operators.scd import random_bfs_community
    from icebug_spark.operators.traversal import multi_source_bfs
    from icebug_spark.streaming.dynamic2 import affected_nodes

    e = spark.createDataFrame(EDGES, "src BIGINT, dst BIGINT")

    # multi_source_bfs: repeated and isolated sources
    got = sorted(tuple(r) for r in multi_source_bfs(e, [0, 7, 0, 9], MAX_HOPS).collect())
    want = sorted(
        (s, v, d) for s in (0, 7, 9) for v, d in _bfs(EDGES, s, MAX_HOPS).items()
    )
    assert got == want

    # reachable_nodes: a repeated source is counted once
    got = sorted(tuple(r) for r in reachable_nodes(e, [0, 0, 9, 3], MAX_HOPS).collect())
    assert got == sorted((s, len(_bfs(EDGES, s, MAX_HOPS))) for s in (0, 9, 3))

    # random_bfs_community: a repeated seed yields no duplicate rows
    got = sorted(tuple(r) for r in random_bfs_community(e, [5, 0, 0], hops=2).collect())
    assert got == sorted((s, v) for s in (0, 5) for v in _bfs(EDGES, s, 2))

    # affected_nodes: the 2-ball around the batch endpoints in the
    # symmetrized updated graph; 9 is an endpoint with no edge left
    batch = spark.createDataFrame(
        [("EDGE_REMOVAL", 6, 9), ("EDGE_ADDITION", 0, 3)],
        "type STRING, u BIGINT, v BIGINT",
    )
    got = sorted(r["id"] for r in affected_nodes(e, batch, hops=2).collect())
    want = set()
    for s in (6, 9, 0, 3):
        want |= set(_bfs(_sym(EDGES), s, 2))
    assert got == sorted(want)
    empty = spark.createDataFrame([], "type STRING, u BIGINT, v BIGINT")
    assert affected_nodes(e, empty, hops=2).collect() == []

    # multi_target_bfs: 6 lies past max_hops, 9 is unreachable
    full = _bfs(EDGES, 0, MAX_HOPS)
    for targets in ([1, 3, 6, 9], [2, 1], [0]):
        got = sorted(tuple(r) for r in pp.multi_target_bfs(e, 0, targets, MAX_HOPS).collect())
        assert got == sorted((t, full[t]) for t in set(targets) if t in full)

    # bidirectional_bfs: exact s→t hop distance, or no row if unreachable
    for s, t in ((0, 6), (5, 0), (0, 9), (1, 1)):
        d = _bfs(EDGES, s, 60).get(t)
        got = [tuple(r) for r in pp.bidirectional_bfs(e, s, t).collect()]
        assert got == ([] if d is None else [(s, t, d)])

    # edmonds_karp source set = the nodes reachable from the source in
    # the residual graph rebuilt from the returned flow
    caps = {(0, 1): 3.0, (0, 2): 1.0, (1, 3): 1.0, (1, 2): 1.0, (2, 3): 2.0,
            (3, 4): 5.0, (5, 4): 1.0}
    g = spark.createDataFrame(
        [(u, v, c) for (u, v), c in caps.items()],
        "src BIGINT, dst BIGINT, capacity DOUBLE",
    )
    res = edmonds_karp(g, 0, 4)
    assert res["max_flow"] == pytest.approx(3.0)
    flow = {(r["src"], r["dst"]): r["flow"] for r in res["flow"].collect()}
    residual = {}
    for (u, v), c in caps.items():
        residual[(u, v)] = residual.get((u, v), 0.0) + c - flow[(u, v)]
        residual[(v, u)] = residual.get((v, u), 0.0) + flow[(u, v)]
    arcs = [a for a, r in residual.items() if r > 1e-12]
    got = sorted(r["id"] for r in res["source_set"].collect())
    assert got == sorted(_bfs(arcs, 0, 64))
