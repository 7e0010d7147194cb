from __future__ import annotations

import itertools
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphscope_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    sp = get_spark(
        app_name="graphscope_spark_tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield sp
    sp.stop()


_job_groups = itertools.count()


def job_names(spark, fn):
    """Run ``fn()`` under a job group of its own and return the names of the
    Spark jobs it ran, read from the status store (which runs no action).
    Broadcast builds (and, with AQE on, query-stage submissions) are the
    jobs named after ``withThreadLocalCaptured``."""
    sc = spark.sparkContext
    group = f"job-names-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return [store.job(j).name() for j in sorted(sc.statusTracker().getJobIdsForGroup(group))]


def make_graph(spark, edges, vertices=None, num_partitions=8, weights=False):
    from graphscope_spark.graph.graph import Graph

    if weights:
        edf = spark.createDataFrame(
            [(int(s), int(d), float(w)) for s, d, w in edges],
            "src long, dst long, weight double",
        )
    else:
        edf = spark.createDataFrame(
            [(int(e[0]), int(e[1])) for e in edges], "src long, dst long"
        )
    vdf = None
    if vertices is not None:
        vdf = spark.createDataFrame([(int(v),) for v in vertices], "id long")
    return Graph(edf, vertices=vdf, num_partitions=num_partitions)


# ---- FIXTURES.md §F3 named graphs -----------------------------------------

DIAMOND = ([1, 2, 3, 4], [(1, 2), (1, 3), (2, 4), (3, 4)])
TWO_COMPONENTS = (
    [1, 2, 3, 4, 5, 6, 7],
    [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)],
)
DANGLING_CHAIN = ([1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4)])
STAR_HUB = (
    list(range(51)),
    [(0, i) for i in range(1, 51)] + [(i, 0) for i in range(1, 51)],
)
RING_TIES = ([1, 2, 3, 4, 5, 6], [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)])
TRI_CLUSTER = (
    [1, 2, 3, 4, 5],
    [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
)


def p2p_mid(n=300, m=2400, seed=42):
    """Seeded Erdős–Rényi-ish directed graph (FIXTURES.md p2p_mid, scaled to
    keep the pure-Python oracles fast)."""
    rng = random.Random(seed)
    vertices = list(range(1, n + 1))
    edges = set()
    while len(edges) < m:
        s = rng.randint(1, n)
        d = rng.randint(1, n)
        if s != d:
            edges.add((s, d))
    return vertices, sorted(edges)


ALL_FIXTURES = {
    "diamond": DIAMOND,
    "two_components": TWO_COMPONENTS,
    "dangling_chain": DANGLING_CHAIN,
    "star_hub": STAR_HUB,
    "ring_ties": RING_TIES,
    "tri_cluster": TRI_CLUSTER,
}
