"""Streaming edge additions drive incremental fixpoint maintenance."""

from __future__ import annotations

import os

import pytest

from tests.conftest import job_names, make_graph


def _write_batches(spark, base_dir, batches):
    os.makedirs(base_dir, exist_ok=True)
    for i, edges in enumerate(batches):
        spark.createDataFrame(edges, "src long, dst long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(base_dir, f"b{i}"))


def _stream(spark, base_dir):
    return (
        spark.readStream.schema("src long, dst long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base_dir, "b*"))
    )


def test_streaming_wcc_matches_cold(spark, tmp_path):
    from graphscope_spark.algorithms.wcc import wcc
    from graphscope_spark.streaming.graph_stream import StreamingWCC

    base = [(0, 1), (2, 3), (4, 5), (6, 7)]
    b1 = [(1, 2)]            # merges {0,1}+{2,3}
    b2 = [(5, 6), (8, 9)]    # merges {4,5}+{6,7}; new vertices 8,9
    g = make_graph(spark, base, vertices=list(range(8)))

    d = str(tmp_path / "edges")
    _write_batches(spark, d, [b1, b2])
    s = StreamingWCC(g)
    q = s.start(_stream(spark, d), str(tmp_path / "ckpt"))
    q.awaitTermination()

    assert s.batches_applied >= 1  # maxFilesPerTrigger may still coalesce
    got = sorted(tuple(r) for r in s.components.collect())
    g_all = make_graph(spark, base + b1 + b2, vertices=list(range(10)))
    want = sorted(tuple(r) for r in wcc(g_all).collect())
    assert got == want


def test_streaming_pagerank_matches_cold(spark, tmp_path):
    from graphscope_spark.algorithms.pagerank import pagerank
    from graphscope_spark.streaming.graph_stream import StreamingPageRank

    base = [(0, 1), (1, 2), (2, 0), (2, 3)]
    b1 = [(3, 4), (4, 0)]
    g = make_graph(spark, base, vertices=list(range(4)))

    d = str(tmp_path / "edges")
    _write_batches(spark, d, [b1])
    s = StreamingPageRank(g, tol=1e-10)
    q = s.start(_stream(spark, d), str(tmp_path / "ckpt"))
    q.awaitTermination()

    warm = {r["id"]: r["pagerank"] for r in s.scores.collect()}
    g_all = make_graph(spark, base + b1, vertices=list(range(5)))
    cold = {r["id"]: r["pagerank"] for r in pagerank(g_all, tol=1e-10).collect()}
    assert set(warm) == set(cold)
    for v in warm:
        assert abs(warm[v] - cold[v]) < 1e-6


def test_streaming_wcc_mixed_ops_matches_cold(spark, tmp_path):
    """Batches carrying add AND delete rows: the maintained labeling must
    equal a cold wcc on the net edge set (adds applied before dels within
    a batch)."""
    from graphscope_spark.algorithms.wcc import wcc
    from graphscope_spark.streaming.graph_stream import StreamingWCC

    base = [(0, 1), (1, 2), (3, 4), (5, 6)]
    # b1: bridge 2-3, then cut 1-2 (splits {0,1} from {2,3,4})
    b1 = [(2, 3, "add"), (1, 2, "del")]
    # b2: cut 3-4, add 4-5 (joins 4 to {5,6})
    b2 = [(3, 4, "del"), (4, 5, "add")]
    g = make_graph(spark, base, vertices=list(range(7)))

    d = str(tmp_path / "edges")
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(
            rows, "src long, dst long, op string"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"b{i}")
        )
    s = StreamingWCC(g)
    stream = (
        spark.readStream.schema("src long, dst long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*"))
    )
    q = s.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination()

    net = [(0, 1), (5, 6), (2, 3), (4, 5)]
    g_net = make_graph(spark, net, vertices=list(range(7)))
    got = sorted(tuple(r) for r in s.components.collect())
    want = sorted(tuple(r) for r in wcc(g_net).collect())
    assert got == want


def test_streaming_wcc_rejects_unknown_op(spark):
    """A bad ``op`` (unknown or null) raises from the batch's one validating
    aggregation: its exchange and its result are the only jobs (AQE runs
    the exchange as a job of its own). Separate emptiness and validity
    ``take(1)`` probes ran 5 jobs on such a batch."""
    from graphscope_spark.streaming.graph_stream import StreamingWCC

    g = make_graph(spark, [(0, 1)], vertices=[0, 1])
    s = StreamingWCC(g)
    for op in ("upsert", None):
        batch = spark.createDataFrame(
            [(0, 1, "add"), (1, 2, op)], "src long, dst long, op string"
        )

        def run():
            with pytest.raises(ValueError, match=f"unexpected op value {op!r}"):
                s.process_batch(batch, 0)

        assert len(job_names(spark, run)) <= 2
    assert s.batches_applied == 0


def test_streaming_wcc_empty_batch_is_one_aggregation(spark):
    """An empty batch costs the one aggregation and changes nothing (the
    ``take(1)`` probe scanned the partitions in 3 jobs)."""
    from graphscope_spark.streaming.graph_stream import StreamingWCC

    g = make_graph(spark, [(0, 1)], vertices=[0, 1])
    s = StreamingWCC(g)
    before = sorted(tuple(r) for r in s.components.collect())
    for batch in (
        spark.createDataFrame([], "src long, dst long"),
        spark.createDataFrame([], "src long, dst long, op string"),
    ):
        assert len(job_names(spark, lambda: s.process_batch(batch, 0))) <= 2
    assert s.batches_applied == 0
    assert sorted(tuple(r) for r in s.components.collect()) == before
