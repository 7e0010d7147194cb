"""CDLP — community detection by synchronous label propagation.

Semantics of ``grape::CDLP`` (reference run_app.h:254-263, fixed 10 rounds;
vendored sync variant apps/flash/clustering/lpa.h:42-78) with the LDBC
Graphalytics tie rule the p2p-31-CDLP goldens encode: each round every vertex
adopts the *smallest label among the most frequent* labels of its neighbors.
Directed graphs are treated per LDBC: both edge directions contribute, and a
reciprocal edge counts its endpoint's label twice (SURVEY.md §7.3 risk 1 —
min-label, never arrival-order).

Plan per superstep:

    msgs  = edges_und ⋈ labels            -- zero-shuffle against persisted
                                          --   hash(src) edge layout
    freq  = msgs.groupBy(dst, label).count    -- shuffle 1 (two-level by
                                          --   construction: (dst,label) keys
                                          --   split hub fan-in like a salt)
    best  = freq.groupBy(dst).agg(max_by(...))-- shuffle 2 (one row per
                                          --   (dst,label) — already combined)

The (dst, label) grouping is itself the skew splitter for hub vertices: a
hub's fan-in is partitioned across its distinct neighbor labels before the
single-key reduction, the same two-level combine engine/aggregate.py does
with an artificial salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.engine.superstep import SuperstepResult, run_supersteps
from graphscope_spark.graph.graph import Graph

__all__ = ["cdlp", "lpa"]


def cdlp(
    graph: Graph,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
    return_result: bool = False,
) -> DataFrame | SuperstepResult:
    """Returns ``(id, label)`` after ``max_iter`` synchronous rounds (or
    earlier if labels stabilize — same result, fewer jobs)."""
    P = graph.num_partitions
    # dedup=False: LDBC counts each direction of a reciprocal edge.
    cols = ["src", "dst"]
    rev = graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = (
        graph.edges.select(*cols)
        .unionAll(rev)
        .filter(F.col("src") != F.col("dst"))
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def init() -> DataFrame:
        return graph.vertices.select("id", F.col("id").alias("label")).repartition(
            P, "id"
        )

    def body(state: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        msgs = edges.join(state.hint("shuffle_hash"), edges.src == state.id).select("dst", "label")
        freq = msgs.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("cnt"))
        # smallest label among most frequent: max over (cnt, -label)
        best = freq.groupBy("dst").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top")
        ).select("dst", (-F.col("top.neg")).alias("cand"))
        plan = state.join(best.hint("shuffle_hash"), state.id == best.dst, "left").select(
            state.id.alias("id"),
            F.coalesce("cand", "label").alias("label"),
            (F.coalesce("cand", "label") != F.col("label")).alias("_changed"),
        )

        def finalize(st: DataFrame) -> dict:
            changed = st.filter("_changed").count()
            return {"converged": changed == 0, "changed": changed}

        return plan, finalize

    try:
        res = run_supersteps(
            init,
            body,
            max_rounds=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            resume=resume,
        )
    finally:
        edges.unpersist()
    if return_result:
        return res
    return res.state.select("id", "label")


# GraphScope aliases cdlp as lpa (python/graphscope/analytical/app/lpa.py:86).
lpa = cdlp
