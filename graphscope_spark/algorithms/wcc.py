"""Weakly connected components — min-label frontier propagation.

Semantics of the reference's ``apps/projected/wcc_projected.h:70-182``:
every vertex starts labeled with its own id; each round, *changed* vertices
(the frontier, ``curr_modified`` gating at :140-144) push their label to all
undirected neighbors; a vertex adopts the minimum label it hears; convergence
when no label changes. The final label of a component is the minimum vertex
id in it — exact-match comparable (test_app.py:189-197).

Plan per superstep: frontier ⋈ edges → groupBy(dst).min (the one shuffle) →
left-join update. Rounds = component diameter; for web/link graphs that is
O(log n) in practice.

``mode="logstar"`` is the reference's ``apps/flash/connectivity/cc-log.h``
rendered relationally: min-label hooking PLUS pointer jumping
(L ← L[L], the Shiloach–Vishkin doubling step — public) each round, so the
label reach doubles per round and high-diameter graphs converge in
O(log n) rounds instead of O(diameter). Cost: one extra label-table
self-join shuffle per round — the scale path for long-chain graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.engine.superstep import SuperstepResult, run_supersteps
from graphscope_spark.graph.graph import Graph

__all__ = ["wcc"]


def wcc(
    graph: Graph,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
    return_result: bool = False,
    mode: str = "dataframe",
    warm_start: DataFrame | None = None,
) -> DataFrame | SuperstepResult:
    """Returns ``(id, component)`` — component = min vertex id reachable.

    ``mode="dataframe"`` is the frontier join; ``mode="logstar"`` adds
    pointer jumping (O(log n) rounds, cc-log.h). Any other mode raises
    ``ValueError``. ``warm_start`` seeds iteration from a prior state
    ``(id, label, changed)`` instead of the identity labeling — the Ingress
    delta-recompute entry (engine/ingress.wcc_delta)."""
    if mode not in ("dataframe", "logstar"):
        raise ValueError(
            f"wcc: unknown mode {mode!r}; expected 'dataframe' or 'logstar'"
        )
    P = graph.num_partitions
    und = graph.to_undirected(dedup=True)
    edges = und.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)

    def init() -> DataFrame:
        if warm_start is not None:
            return warm_start.select("id", "label", "changed").repartition(P, "id")
        return graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(True).alias("changed")
        ).repartition(P, "id")

    def body_logstar(state: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        # hook: min over own label and neighbors' labels (all vertices —
        # jumping invalidates the frontier gate: a vertex's label can
        # change without any neighbor changing)
        msgs = (
            edges.join(
                state.select("id", "label").hint("shuffle_hash"),
                edges.src == F.col("id"),
            )
            .groupBy("dst")
            .agg(F.min("label").alias("cand"))
        )
        hooked = state.join(
            msgs.hint("shuffle_hash"), state.id == msgs.dst, "left"
        ).select(
            state.id.alias("id"),
            F.least(F.col("label"), F.coalesce("cand", F.col("label"))).alias(
                "lab1"
            ),
            F.col("label").alias("old"),
        )
        # jump: L <- L[L] (label table self-join on the label's own row)
        parents = hooked.select(
            F.col("id").alias("pid"), F.col("lab1").alias("plabel")
        )
        plan = hooked.join(
            parents.hint("shuffle_hash"), hooked.lab1 == parents.pid, "left"
        ).select(
            "id",
            F.least(F.col("lab1"), F.coalesce("plabel", F.col("lab1"))).alias(
                "label"
            ),
            (
                F.least(F.col("lab1"), F.coalesce("plabel", F.col("lab1")))
                < F.col("old")
            ).alias("changed"),
        )

        def finalize(st: DataFrame) -> dict:
            active = st.filter("changed").count()
            return {"converged": active == 0, "active": active}

        return plan, finalize

    def body(state: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        if mode == "logstar":
            return body_logstar(state, rnd)
        frontier = state.filter("changed").select("id", "label")
        # shuffle_hash (guide §3.1): without it Catalyst sort-merges,
        # re-sorting the persisted edge table every round.
        msgs = (
            edges.join(frontier.hint("shuffle_hash"), edges.src == frontier.id)
            .groupBy("dst")
            .agg(F.min("label").alias("cand"))
        )
        new_label = F.when(
            F.col("cand").isNotNull() & (F.col("cand") < F.col("label")),
            F.col("cand"),
        ).otherwise(F.col("label"))
        plan = state.join(
            msgs.hint("shuffle_hash"), state.id == msgs.dst, "left"
        ).select(
            state.id.alias("id"),
            new_label.alias("label"),
            (F.col("cand").isNotNull() & (F.col("cand") < F.col("label"))).alias(
                "changed"
            ),
        )

        def finalize(st: DataFrame) -> dict:
            active = st.filter("changed").count()
            return {"converged": active == 0, "active": active}

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
        und.unpersist()
    if not res.converged:
        import warnings

        warnings.warn(
            f"wcc: max_iter={max_iter} exhausted before the label fixpoint "
            "(high-diameter graph?) — labels are NOT final; raise max_iter "
            "or use mode='logstar' (O(log n) rounds)",
            stacklevel=2,
        )
    if return_result:
        return res
    return res.state.select("id", F.col("label").alias("component"))
