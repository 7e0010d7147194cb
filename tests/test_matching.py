"""Maximal independent set + maximal matching: validity and maximality."""

from __future__ import annotations

from collections import defaultdict

import pytest

from tests.conftest import ALL_FIXTURES, make_graph, p2p_mid


def _und(edges):
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def test_mis_valid_and_maximal(spark):
    from graphscope_spark.algorithms.matching import maximal_independent_set

    vertices, edges = p2p_mid(n=120, m=700, seed=3)
    adj = _und(edges)
    g = make_graph(spark, edges, vertices)
    mis = {r["id"] for r in maximal_independent_set(g).collect()}
    # independence
    for v in mis:
        assert not (adj[v] & mis), v
    # maximality: every non-member has a member neighbor
    for v in vertices:
        if v not in mis:
            assert adj[v] & mis, v
    # determinism
    mis2 = {r["id"] for r in maximal_independent_set(g).collect()}
    assert mis2 == mis
    g.unpersist()


def test_maximal_matching_valid_and_maximal(spark):
    from graphscope_spark.algorithms.matching import maximal_matching

    vertices, edges = p2p_mid(n=100, m=420, seed=8)
    adj = _und(edges)
    g = make_graph(spark, edges, vertices)
    m = {(r["src"], r["dst"]) for r in maximal_matching(g).collect()}
    used = [v for e in m for v in e]
    # validity: vertex-disjoint edges of the graph
    assert len(used) == len(set(used))
    pairs = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    assert m <= pairs
    # maximality: no remaining edge with both endpoints free
    free = set(vertices) - set(used)
    for a, b in pairs:
        assert not (a in free and b in free), (a, b)
    g.unpersist()


def test_mis_star(spark):
    from graphscope_spark.algorithms.matching import maximal_independent_set

    vertices, edges = ALL_FIXTURES["star_hub"]
    g = make_graph(spark, edges, vertices)
    mis = {r["id"] for r in maximal_independent_set(g).collect()}
    # either the hub alone, or all leaves
    assert mis == {0} or mis == set(range(1, 51))
    g.unpersist()


def _kruskal(vertices, wedges):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = set()
    for w, a, b in sorted((w, min(a, b), max(a, b)) for a, b, w in wedges
                          if a != b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            forest.add((a, b, w))
    return forest


def test_minimum_spanning_forest(spark):
    from graphscope_spark.algorithms.msf import minimum_spanning_forest

    vertices, edges = p2p_mid(n=90, m=300, seed=17)
    wedges = [(a, b, float(1 + (a * 13 + b * 7) % 97)) for a, b in edges]
    g = make_graph(spark, wedges, vertices, weights=True)
    got = {(r["src"], r["dst"], r["weight"])
           for r in minimum_spanning_forest(g).collect()}
    want = _kruskal(vertices, wedges)
    # same total weight and same forest under the shared (w, a, b) total order
    assert sum(w for _, _, w in got) == sum(w for _, _, w in want)
    assert got == want
    g.unpersist()


def test_min_edge_cover(spark):
    """Mutual min-(deg,id) proposal rounds + fallback covering — validity
    (every non-isolated vertex covered by an incident edge) and exact match
    vs the Python replay of min-edge-cover.h (symmetric-mutual
    determinization)."""
    import random

    from graphscope_spark.algorithms.matching import min_edge_cover

    random.seed(6)
    n = 50
    edges = set()
    while len(edges) < 120:
        a, b = random.randrange(n), random.randrange(n)
        if a != b:
            edges.add((a, b))
    verts = list(range(n))
    adj = {v: set() for v in verts}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(adj[v]) for v in verts}

    s = {v: -1 for v in verts}
    p = {v: -1 for v in verts}
    active = {v for v in verts if deg[v] > 0}
    while active:
        for v in active:
            best = None
            for nb in adj[v]:
                if s[nb] == -1 and (best is None or (deg[nb], nb) < (deg[best], best)):
                    best = nb
            p[v] = best if best is not None else -1
        active = {v for v in active if p[v] >= 0}
        newly = set()
        for v in list(active):
            t = p[v]
            if t >= 0 and p.get(t) == v and s[v] == -1 and s[t] == -1:
                s[v] = t
                s[t] = v
                newly |= {v, t}
        touched = active | newly
        cleared = {d for d in verts if s[d] == -1 and p[d] in touched and p[d] >= 0}
        for d in cleared:
            p[d] = -1
        active = cleared
    want = {}
    for v in verts:
        if s[v] >= 0:
            want[v] = (s[v], True)
        elif deg[v] > 0:
            want[v] = (min(adj[v], key=lambda nb: (deg[nb], nb)), False)

    g = make_graph(spark, sorted(edges), vertices=verts)
    got = {r["id"]: (r["partner"], r["matched"]) for r in min_edge_cover(g).collect()}
    assert got == want
    covered = set()
    for v, (pt, _m) in got.items():
        assert pt in adj[v]
        covered |= {v, pt}
    assert all(v in covered for v in verts if deg[v] > 0)


def test_min_dominating_set_dominates_and_is_stable(spark):
    """Every vertex is in the set or next to it; the set repeats across runs
    and across fragment counts."""
    from graphscope_spark.algorithms.matching import min_dominating_set

    vertices, edges = p2p_mid(n=100, m=300, seed=11)
    adj = _und(edges)
    sets = {}
    for p in (8, 1):
        g = make_graph(spark, edges, vertices, num_partitions=p)
        sets[p] = {r["id"] for r in min_dominating_set(g).collect()}
        if p == 8:
            assert {r["id"] for r in min_dominating_set(g).collect()} == sets[8]
        g.unpersist()
    ds = sets[8]
    for v in vertices:
        assert v in ds or adj[v] & ds, v
    assert sets[1] == ds


def test_maximal_matching_partition_invariant(spark):
    from graphscope_spark.algorithms.matching import maximal_matching

    vertices, edges = p2p_mid(n=100, m=420, seed=8)
    got = {}
    for p in (8, 1):
        g = make_graph(spark, edges, vertices, num_partitions=p)
        got[p] = {(r["src"], r["dst"]) for r in maximal_matching(g).collect()}
        g.unpersist()
    assert got[1] == got[8]


GREEDY_LOOPS = [
    "maximal_independent_set",
    "maximal_matching",
    "min_cover_greedy",
    "min_dominating_set",
    "min_edge_cover",
]


@pytest.mark.parametrize("name", GREEDY_LOOPS)
def test_greedy_loop_fails_loud_when_rounds_run_out(spark, name):
    """One round cannot finish this graph: the loop must raise instead of
    returning a partial (non-maximal) result."""
    from graphscope_spark.algorithms import matching

    vertices, edges = p2p_mid(n=80, m=240, seed=5)
    g = make_graph(spark, edges, vertices)
    with pytest.raises(RuntimeError, match="rounds exhausted"):
        getattr(matching, name)(g, max_rounds=1)
    g.unpersist()


def test_maximal_matching_never_matches_a_self_loop(spark):
    """An undirected input skips ``to_undirected``'s self-loop filter; the
    matching must still drop self-loops, and stay valid and maximal."""
    from graphscope_spark.algorithms.matching import maximal_matching
    from graphscope_spark.graph.graph import Graph

    n = 30
    edges = [(v, v) for v in range(n)] + [(v, v + 1) for v in range(n - 1)]
    g = Graph(
        spark.createDataFrame(edges, "src long, dst long"),
        vertices=spark.createDataFrame([(v,) for v in range(n)], "id long"),
        num_partitions=4,
        directed=False,
    )
    m = {(r["src"], r["dst"]) for r in maximal_matching(g).collect()}
    assert all(a != b for a, b in m), m
    used = [v for e in m for v in e]
    assert len(used) == len(set(used))
    free = set(range(n)) - set(used)
    assert not any(v in free and v + 1 in free for v in range(n - 1))
    g.unpersist()
