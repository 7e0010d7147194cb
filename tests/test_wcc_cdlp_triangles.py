from __future__ import annotations

import pytest

from tests.conftest import ALL_FIXTURES, make_graph, p2p_mid
from tests.oracles import cdlp_oracle, triangles_oracle, wcc_oracle


def _collect_map(df, val):
    return {r["id"]: r[val] for r in df.collect()}


@pytest.mark.parametrize("name", ["two_components", "diamond", "dangling_chain", "star_hub"])
def test_wcc_fixtures(spark, name):
    from graphscope_spark.algorithms.wcc import wcc

    vertices, edges = ALL_FIXTURES[name]
    g = make_graph(spark, edges, vertices)
    got = _collect_map(wcc(g), "component")
    assert got == wcc_oracle(vertices, edges)
    g.unpersist()


@pytest.mark.parametrize("mode", ["csr", "bogus"])
def test_wcc_rejects_unknown_mode(spark, mode):
    from graphscope_spark.algorithms.wcc import wcc

    vertices, edges = ALL_FIXTURES["diamond"]
    g = make_graph(spark, edges, vertices)
    with pytest.raises(ValueError, match="'dataframe' or 'logstar'"):
        wcc(g, mode=mode)
    g.unpersist()


def test_wcc_p2p_mid_sparse(spark):
    # sparse → multiple components
    from graphscope_spark.algorithms.wcc import wcc

    vertices, edges = p2p_mid(n=400, m=420)
    g = make_graph(spark, edges, vertices)
    got = _collect_map(wcc(g), "component")
    assert got == wcc_oracle(vertices, edges)
    g.unpersist()


@pytest.mark.parametrize("name", ["ring_ties", "two_components", "star_hub"])
def test_cdlp_fixtures(spark, name):
    from graphscope_spark.algorithms.cdlp import cdlp

    vertices, edges = ALL_FIXTURES[name]
    g = make_graph(spark, edges, vertices)
    got = _collect_map(cdlp(g, max_iter=10), "label")
    assert got == cdlp_oracle(vertices, edges, rounds=10)
    g.unpersist()


def test_cdlp_p2p_mid(spark):
    from graphscope_spark.algorithms.cdlp import cdlp

    vertices, edges = p2p_mid(n=200, m=800)
    g = make_graph(spark, edges, vertices)
    got = _collect_map(cdlp(g, max_iter=5), "label")
    # fixed 5 synchronous rounds must match the oracle exactly
    want_label = {v: v for v in vertices}
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for s, d in edges:
        nbrs[s].append(d)
        nbrs[d].append(s)
    label = dict(want_label)
    for _ in range(5):
        new = {}
        for v in vertices:
            if not nbrs[v]:
                new[v] = label[v]
            else:
                c = Counter(label[u] for u in nbrs[v])
                new[v] = max(c.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        label = new
    assert got == label
    g.unpersist()


@pytest.mark.parametrize("name", ["tri_cluster", "two_components", "diamond", "star_hub"])
def test_triangles_fixtures(spark, name):
    from graphscope_spark.algorithms.triangles import triangles

    vertices, edges = ALL_FIXTURES[name]
    g = make_graph(spark, edges, vertices)
    got = _collect_map(triangles(g), "triangles")
    assert got == triangles_oracle(vertices, edges)
    g.unpersist()


def test_triangles_k4_values(spark):
    # K4 + pendant: every K4 vertex in 3 triangles, pendant in 0
    from graphscope_spark.algorithms.triangles import triangles

    vertices, edges = ALL_FIXTURES["tri_cluster"]
    g = make_graph(spark, edges, vertices)
    got = _collect_map(triangles(g), "triangles")
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}
    g.unpersist()


def test_triangles_p2p_mid(spark):
    from graphscope_spark.algorithms.triangles import triangles

    vertices, edges = p2p_mid(n=150, m=1500)
    g = make_graph(spark, edges, vertices)
    got = _collect_map(triangles(g), "triangles")
    assert got == triangles_oracle(vertices, edges)
    g.unpersist()


def test_lcc_and_global_metrics(spark):
    from graphscope_spark.algorithms.triangles import avg_clustering, lcc, transitivity

    vertices, edges = ALL_FIXTURES["tri_cluster"]
    g = make_graph(spark, edges, vertices)
    got = _collect_map(lcc(g), "lcc")
    # degrees: 1,2,3 → 3; 4 → 4; 5 → 1
    assert abs(got[1] - 1.0) < 1e-12  # 3 triangles / C(3,2)=3
    assert abs(got[4] - 0.5) < 1e-12  # 3 / C(4,2)=6
    assert got[5] == 0.0
    t = transitivity(g)
    # triples: deg 3,3,3 → 3 each =9, deg4 → 6, deg1 → 0; total 15; 4 triangles
    assert abs(t - (3 * 4 / 15.0)) < 1e-12
    a = avg_clustering(g)
    assert abs(a - ((1 + 1 + 1 + 0.5 + 0) / 5.0)) < 1e-12
    g.unpersist()


def test_cdlp_p2p_mid_five_rounds(spark):
    from graphscope_spark.algorithms.cdlp import cdlp

    vertices, edges = p2p_mid(n=150, m=600)
    g = make_graph(spark, edges, vertices)
    got = _collect_map(cdlp(g, max_iter=5), "label")
    assert got == cdlp_oracle(vertices, edges, rounds=5)
    g.unpersist()


def test_wcc_logstar_mode(spark):
    """Pointer-jumping mode (cc-log.h): identical labels, O(log n) rounds on
    a high-diameter chain where the frontier mode needs diameter rounds."""
    import random

    from graphscope_spark.algorithms.wcc import wcc

    edges = [(i, i + 1) for i in range(400)]
    random.seed(2)
    for _ in range(100):
        a, b = random.randrange(200), random.randrange(200)
        if a != b:
            edges.append((1000 + a, 1000 + b))
    verts = sorted({v for e in edges for v in e})
    g = make_graph(spark, edges, vertices=verts)

    res_f = wcc(g, max_iter=500, return_result=True)
    res_l = wcc(g, mode="logstar", return_result=True)
    a = sorted(tuple(r) for r in res_f.state.select("id", "label").collect())
    b = sorted(tuple(r) for r in res_l.state.select("id", "label").collect())
    assert a == b
    assert res_f.rounds > 350  # diameter-bound
    assert res_l.rounds <= 12  # doubling-bound
    g.unpersist()
