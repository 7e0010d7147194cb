"""Physical-plan regression tests — the plans we designed, not just the
first plans that passed (driver brief: `.explain` and iterate).

* the steady-state superstep has EXACTLY ONE data exchange per round (the
  message groupBy — grape's MPI all-to-all analog); the gather join and the
  update join reuse the persisted/co-partitioned layouts, and nothing
  broadcasts the state (a per-round broadcast rebuild serializes the loop).
* parquet scans receive pushed filters and pruned schemas.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tests.test_matching import GREEDY_LOOPS


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_superstep_plan_one_exchange_per_round(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        from graphscope_spark.sources.synthetic import power_law_edges

        edges = power_law_edges(spark, 10_000, 1_000)
        links = (
            edges.withColumn("share", F.lit(0.5))
            .repartition(8, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        links.count()
        state = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.lit(1.0).alias("rank"))
            .repartition(8, "id")
            .localCheckpoint(eager=True)
        )
        msgs = (
            links.join(state.hint("shuffle_hash"), links.src == F.col("id"))
            .select("dst", (F.col("share") * F.col("rank")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("msg"))
        )
        upd = state.join(
            msgs.hint("shuffle_hash"), state.id == msgs.dst, "left"
        ).select(state.id, "msg")
        plan = _executed_plan(upd)

        # exactly one runtime exchange: the message shuffle by dst
        runtime_exchanges = re.findall(r"Exchange hashpartitioning\([^)]*\), ENSURE_REQUIREMENTS", plan)
        assert len(runtime_exchanges) == 1, plan
        assert "dst" in runtime_exchanges[0]
        # never broadcast the state
        assert "BroadcastExchange" not in plan, plan
        # both joins are shuffled hash joins over co-partitioned inputs
        assert plan.count("ShuffledHashJoin") == 2, plan
        links.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 10)
        .select("doc_id")
    )
    plan = _executed_plan(df)
    assert "PushedFilters" in plan and "LessThan(doc_id,10)" in plan, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), plan  # column pruning reached the scan


def test_whole_stage_codegen_covers_extraction(spark):
    """The extraction expressions (sha2, regexp) stay inside codegen — no
    Python, no codegen fallback markers."""
    from graphscope_spark.corpus.extractor import with_sha256

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _executed_plan(with_sha256(docs, "text").select("doc_id", "sha256"))
    assert re.search(r"\*\(\d+\)", plan), plan  # *(n) = WholeStageCodegen stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_broadcast_used_for_small_dim_join(spark):
    """Relational joins against genuinely small dims SHOULD broadcast."""
    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.01/nation.parquet")
    j = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    plan = _executed_plan(j)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_match_and_wco_no_cartesian(spark):
    """Pattern plans must stay equijoins — a silent cartesian in the
    lowering would pass correctness on small graphs and explode at scale."""
    from graphscope_spark.operators.match import match

    from tests.conftest import make_graph, p2p_mid

    vertices, edges = p2p_mid(n=30, m=120, seed=2)
    g = make_graph(spark, edges, vertices)
    tri = [("a", "out", "b"), ("b", "out", "c"), ("a", "out", "c")]
    for w in (False, True):
        plan = _executed_plan(match(g, tri, wco=w))
        assert "CartesianProduct" not in plan, (w, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (w, plan)
    g.unpersist()


def test_multisource_bfs_no_cartesian_and_single_agg(spark):
    from graphscope_spark.engine.multisource import multi_source_bfs

    from tests.conftest import make_graph, p2p_mid

    vertices, edges = p2p_mid(n=40, m=160, seed=4)
    g = make_graph(spark, edges, vertices)
    out = multi_source_bfs(g, [1, 2, 3])
    plan = _executed_plan(out)
    assert "CartesianProduct" not in plan
    g.unpersist()


def test_ngram_df_cap_is_semi_join(spark):
    """The hot-shingle cap must prune via a semi join BEFORE the
    pair-producing self-join, not filter afterwards."""
    from graphscope_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"a b c d{i} e{i}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = _executed_plan(
        ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=5)
    )
    assert "LeftSemi" in plan


def test_cypher_exists_plans_semi_anti_join(spark):
    """[NOT] EXISTS(pattern) must lower to LeftSemi/LeftAnti joins — the
    reference's documented lowering (supported_cypher.md 'implements as
    anti join'), never a filtered cartesian/inner join."""
    from graphscope_spark.graph.property_graph import PropertyGraph
    from graphscope_spark.operators.cypher import cypher_property

    v = spark.createDataFrame([(i, i) for i in range(6)], "id long, p long")
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    pg = PropertyGraph().add_vertices("n", v).add_edges("r", "n", "n", e)
    plan = _executed_plan(
        cypher_property(
            pg,
            "MATCH (a:n)-[:r]->(b:n) WHERE NOT EXISTS((b)-[:r]->(a)) "
            "RETURN a AS a, b AS b",
        )
    )
    assert "LeftAnti" in plan
    plan = _executed_plan(
        cypher_property(
            pg,
            "MATCH (a:n) WHERE EXISTS((a)-[:r]->(x)) RETURN a AS a",
        )
    )
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan


def test_gremlin_existence_plans_semi_anti_join(spark):
    from tests.conftest import make_graph

    from graphscope_spark.operators.gremlin import gremlin

    g = make_graph(spark, [(0, 1), (1, 2)], vertices=[0, 1, 2])
    plan = _executed_plan(gremlin(g, "g.V().where(out())"))
    assert "LeftSemi" in plan
    plan = _executed_plan(gremlin(g, "g.V().not(__.in())"))
    assert "LeftAnti" in plan


def test_weighted_neighbor_sample_plan_no_cartesian(spark):
    """The interval probe must stay a bucketed equijoin — a range-join
    lowering would surface as CartesianProduct/BroadcastNestedLoop."""
    from graphscope_spark.algorithms.sampling import weighted_neighbor_sample
    from tests.conftest import make_graph

    g = make_graph(
        spark, [(0, 1, 2.0), (0, 2, 3.0), (1, 2, 1.0)], weights=True
    )
    plan = _executed_plan(weighted_neighbor_sample(g, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_wcc_delta_delete_plan_semi_anti_joins(spark):
    """Touched-component filtering must lower to semi/anti joins (no
    full-table rebuild paths)."""
    from graphscope_spark.algorithms.wcc import wcc
    from graphscope_spark.engine.ingress import wcc_delta_delete
    from tests.conftest import make_graph

    g = make_graph(spark, [(0, 1), (2, 3), (4, 5)], vertices=list(range(6)))
    prev = wcc(g)
    dels = spark.createDataFrame([(0, 1)], "src long, dst long")
    plan = _executed_plan(wcc_delta_delete(g, dels, prev))
    # the kept-labels branch is the visible anti join; the semi-join
    # induced-subgraph filters live in the sub-WCC's own (already
    # materialized) jobs and don't appear in the final union plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan

    # the induced-subgraph edge filter itself lowers to semi joins
    from pyspark.sql import functions as F  # noqa: F811

    prev2 = prev.select("id", F.col("component").cast("long").alias("component"))
    touched = (
        dels.select(F.col("src").alias("id"))
        .join(prev2, "id")
        .select("component")
        .distinct()
    )
    sub_edges = (
        g.edges.join(prev2.withColumnRenamed("id", "src"), "src")
        .join(touched, "component", "left_semi")
    )
    assert "LeftSemi" in _executed_plan(sub_edges)


def _greedy_graph(spark):
    from tests.conftest import make_graph, p2p_mid

    vertices, edges = p2p_mid(n=80, m=240, seed=5)
    g = make_graph(spark, edges, vertices)
    g.num_edges  # load the fragments outside the measured jobs
    return g


@pytest.mark.parametrize("name", GREEDY_LOOPS)
def test_greedy_loop_builds_no_broadcast(spark, name):
    """Every join in a greedy loop, set-up joins included, shuffles its
    small side: a broadcast build is a driver collect and a ship per join
    per round, the layer that dominated these loops."""
    from graphscope_spark.algorithms import matching
    from tests.conftest import job_names

    g = _greedy_graph(spark)
    names = job_names(spark, lambda: getattr(matching, name)(g).collect())
    assert names
    assert not [n for n in names if "withThreadLocalCaptured" in n], names
    g.unpersist()


@pytest.mark.parametrize("name", ["maximal_matching", "min_dominating_set"])
def test_greedy_loop_job_budget(spark, name):
    """Two jobs per round (the round's two checkpoints, the second also
    observing the loop's row count), plus the initial active set and the
    caller's collect. A probe or a broadcast would add jobs per round.
    The round count is the smallest ``max_rounds`` that does not raise."""
    from graphscope_spark.algorithms import matching
    from tests.conftest import job_names

    g = _greedy_graph(spark)
    fn = getattr(matching, name)
    for rounds in range(1, 17):
        try:
            names = job_names(spark, lambda: fn(g, max_rounds=rounds).collect())
            break
        except RuntimeError:
            continue
    else:
        pytest.fail(f"{name} did not finish in 16 rounds")
    assert rounds > 1
    assert len(names) <= 2 * rounds + 2, (rounds, names)
    g.unpersist()
