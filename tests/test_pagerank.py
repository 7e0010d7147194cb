from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import ALL_FIXTURES, make_graph, p2p_mid
from tests.oracles import pagerank_oracle


def _check(spark, vertices, edges, **kw):
    from graphscope_spark.algorithms.pagerank import pagerank

    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["pagerank"] for r in pagerank(g, **kw).collect()}
    want = pagerank_oracle(vertices, edges, **{k: kw[k] for k in ("alpha", "tol", "max_iter") if k in kw})
    assert set(got) == set(want)
    ids = sorted(want)
    np.testing.assert_allclose(
        [got[i] for i in ids], [want[i] for i in ids], atol=1e-6
    )
    assert abs(sum(got.values()) - 1.0) < 1e-6
    g.unpersist()


@pytest.mark.parametrize("name", ["diamond", "dangling_chain", "star_hub", "two_components"])
def test_pagerank_fixtures(spark, name):
    vertices, edges = ALL_FIXTURES[name]
    _check(spark, vertices, edges)


def test_pagerank_p2p_mid(spark):
    vertices, edges = p2p_mid()
    _check(spark, vertices, edges)


@pytest.mark.parametrize(
    "graph, rounds",
    [
        pytest.param(ALL_FIXTURES["dangling_chain"], 7, id="dangling_chain"),
        pytest.param(p2p_mid(n=200, m=1500), 10, id="p2p_mid"),
    ],
)
def test_pagerank_ldbc_fixed_rounds(spark, graph, rounds):
    from graphscope_spark.algorithms.pagerank import pagerank_ldbc

    vertices, edges = graph
    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["pagerank"] for r in pagerank_ldbc(g, rounds=rounds).collect()}
    want = pagerank_oracle(vertices, edges, fixed_rounds=rounds)
    ids = sorted(want)
    np.testing.assert_allclose([got[i] for i in ids], [want[i] for i in ids], atol=1e-12)
    g.unpersist()


def test_pagerank_weighted(spark):
    vertices = [1, 2, 3, 4]
    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 4, 2.0), (3, 4, 5.0), (4, 1, 1.0)]
    from graphscope_spark.algorithms.pagerank import pagerank

    g = make_graph(spark, edges, vertices, weights=True)
    got = {r["id"]: r["pagerank"] for r in pagerank(g, weight_col="weight").collect()}
    want = pagerank_oracle(vertices, edges)
    ids = sorted(want)
    np.testing.assert_allclose([got[i] for i in ids], [want[i] for i in ids], atol=1e-6)
    g.unpersist()


def test_pagerank_push_matches_full_recompute(spark):
    from graphscope_spark.algorithms.pagerank import pagerank_ldbc, pagerank_push

    from tests.conftest import make_graph, p2p_mid

    vertices, edges = p2p_mid(n=150, m=900)
    g = make_graph(spark, edges, vertices)
    full = {r["id"]: r["pagerank"] for r in pagerank_ldbc(g, rounds=8).collect()}
    push = {r["id"]: r["pagerank"] for r in pagerank_push(g, rounds=8).collect()}
    for v in vertices:
        assert abs(full[v] - push[v]) < 1e-12, (v, full[v], push[v])
    g.unpersist()
