"""Small-graph fixed costs: the partition-sizing rule and the codegen cache."""

from __future__ import annotations

import pytest

from graphscope_spark.engine import tuning
from tests.conftest import make_graph, p2p_mid


@pytest.fixture
def estimate(monkeypatch):
    """Returns a setter that makes ``plan_size_bytes`` report a fixed size."""
    monkeypatch.setattr(tuning, "TARGET_BYTES", 16 << 20)

    def set_estimate(est):
        monkeypatch.setattr(tuning, "plan_size_bytes", lambda df: est)

    return set_estimate


@pytest.mark.parametrize(
    "est, default, want",
    [
        (27_000, 8, 1),  # greedy graph
        (227_040, 8, 3),  # corpus link graph
        (84_419, 8, 1),  # sf0.01 customer graph
        (817_129, 8, 8),  # sf0.1 customer graph keeps the floor of 8
        (817_129, 32, 8),
        (2_000_000_000, 32, 32),  # large graphs: 16 MiB target, capped
        (None, 8, 8),  # unknown estimate
        (None, 32, 32),
    ],
)
def test_adaptive_partitions(estimate, est, default, want):
    estimate(est)
    assert tuning.adaptive_partitions(None, default) == want


@pytest.mark.parametrize("est", [27_000, 227_040, 817_129, 2_000_000_000, None])
def test_adaptive_partitions_capped_by_default(estimate, est):
    estimate(est)
    assert 1 <= tuning.adaptive_partitions(None, 4) <= 4


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_loop(spark):
    """A second run of a greedy loop reuses every generated class."""
    from graphscope_spark.algorithms.matching import min_dominating_set

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    vertices, edges = p2p_mid(n=40, m=90, seed=5)
    g = make_graph(spark, edges, vertices, num_partitions=1)
    # Load both fragments first: a cached table's statistics, and with them
    # the chosen joins, change once it is materialized.
    g.num_edges
    first = sorted(r["id"] for r in min_dominating_set(g).collect())
    before = _compiles(spark)
    second = sorted(r["id"] for r in min_dominating_set(g).collect())
    assert _compiles(spark) - before == 0
    assert first == second
    g.unpersist()
