"""Maximal independent set and maximal matching — Luby-style rounds.

Reference inventory: ``apps/flash/matching/mis.h`` and
``apps/flash/matching/mm-opt.h`` (SURVEY §2.2 FLASH suite). Both use the
classic deterministic-random rounds (Luby 1986, public): per round every
active element draws a hash priority; local minima (smaller than every
active neighbor) enter the result; their neighborhood deactivates. O(log n)
rounds with high probability; each round is one shuffle.

Priorities come from the engine-portable md5 hash (operators/dedup.
portable_str_hash) so the whole iteration has an exact DuckDB twin — the
driver oracle replays the same rounds bit-for-bit.

Every loop here runs many small rounds, so it pays per-round overhead
(jobs and plan building), not data; each round's plan is kept small:

* every join against a per-round side is ``hint("shuffle_hash")``-ed
  (:func:`_small`): a broadcast would cost a driver collect and a ship
  per join per round;
* an intermediate used twice in a round is a ``localCheckpoint`` leaf,
  and a filter that a later join on the same key repeats is left out;
* the loop test is the active row count observed on the round's own
  checkpoint (:func:`~graphscope_spark.engine.tuning.materialize`), never
  a separate ``isEmpty()`` probe;
* per-round results are kept in a list and unioned once at the end.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph.graph import Graph
from graphscope_spark.engine.tuning import materialize, tuned_loop

__all__ = [
    "maximal_independent_set",
    "maximal_matching",
    "min_cover_greedy",
    "min_dominating_set",
    "min_edge_cover",
]


def _check_maximal(rows: int, what: str, max_rounds: int) -> None:
    """ADVICE r2: a '*maximal*' contract must fail loudly, not silently
    return a partial result, when the round budget is exhausted. ``rows``
    is the active row count of the last round's checkpoint."""
    if rows:
        raise RuntimeError(
            f"{what}: {max_rounds} rounds exhausted with active elements "
            "remaining — result would not be maximal; raise max_rounds"
        )


def _small(df: DataFrame) -> DataFrame:
    """A join's per-round side: shuffled on the key and hashed, never
    broadcast, whatever the session's broadcast threshold says."""
    return df.hint("shuffle_hash")


def _union_rounds(graph: Graph, parts: list[DataFrame], schema: str) -> DataFrame:
    if not parts:
        return graph.spark.createDataFrame([], schema)
    return reduce(DataFrame.unionByName, parts)


def _prio(expr, rnd: int):
    from graphscope_spark.operators.dedup import portable_str_hash

    return portable_str_hash(F.concat(F.lit(f"{rnd}:"), expr.cast("string")))


@tuned_loop
def maximal_independent_set(graph: Graph, max_rounds: int = 64) -> DataFrame:
    """(id) — a maximal independent set of the undirected simple graph;
    deterministic (hash priorities, min-(prio, id) wins).

    Two barriers per round: the winners, and the active set, which carries
    the next round's priorities so each is hashed once per vertex."""
    und = graph.to_undirected(dedup=True)
    edges = und.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)

    def with_prio(ids: DataFrame, rnd: int) -> DataFrame:
        return ids.select("id", _prio(F.col("id"), rnd).alias("p"))

    active, rows = materialize(with_prio(graph.vertices.select("id"), 1))
    winners_per_round: list[DataFrame] = []
    for rnd in range(1, max_rounds + 1):
        if not rows:
            break
        # neighbor minimum over ACTIVE neighbors; the left join below keeps
        # active ids only, so the edges need no filter on src
        nbr_min = (
            edges.join(
                _small(active.select(F.col("id").alias("dst"), F.col("p").alias("pd"))),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min(F.struct("pd", "dst")).alias("nm"))
        )
        winners = (
            active.join(_small(nbr_min), "id", "left")
            .filter(
                F.col("nm").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.struct(
                    F.col("nm.pd"), F.col("nm.dst")))
            )
            .select("id")
            .localCheckpoint(eager=True)
        )
        winners_per_round.append(winners)
        dropped = (
            edges.join(_small(winners.withColumnRenamed("id", "src")), "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .unionByName(winners)
        )
        active, rows = materialize(
            with_prio(active.join(_small(dropped), "id", "left_anti"), rnd + 1)
        )
    _check_maximal(rows, "maximal_independent_set", max_rounds)
    edges.unpersist()
    und.unpersist()
    return _union_rounds(graph, winners_per_round, "id long")


@tuned_loop
def maximal_matching(graph: Graph, max_rounds: int = 64) -> DataFrame:
    """(src, dst) — a maximal matching (src < dst) of the undirected simple
    graph; deterministic (per-round edge hash priorities, local minima over
    edges sharing an endpoint win).

    An edge wins iff it is the minimum ``(p, a, b)`` at both of its
    endpoints, i.e. iff it is the per-vertex minimum of two vertices:
    ``vmin.groupBy(m.a, m.b).count() == 2``, with no join back to the edges.
    Self-loops are dropped first (as the DuckDB twin's ``src <> dst``); one
    would count twice at its single vertex. Two barriers per round: the
    winners, and the active edges, which carry the next round's priorities.
    """
    und = graph.to_undirected(dedup=True)

    def with_prio(pairs: DataFrame, rnd: int) -> DataFrame:
        key = F.concat(F.col("a").cast("string"), F.lit("_"), F.col("b").cast("string"))
        return pairs.select("a", "b", _prio(key, rnd).alias("p"))

    pairs = (
        und.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    active, rows = materialize(with_prio(pairs, 1))
    und.unpersist()
    winners_per_round: list[DataFrame] = []
    for rnd in range(1, max_rounds + 1):
        if not rows:
            break
        ends = active.select(F.col("a").alias("v"), "p", "a", "b").unionByName(
            active.select(F.col("b").alias("v"), "p", "a", "b")
        )
        winners = (
            ends.groupBy("v")
            .agg(F.min(F.struct("p", "a", "b")).alias("m"))
            .groupBy("m.a", "m.b")
            .count()
            .filter(F.col("count") == 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        winners_per_round.append(winners)
        mv = winners.select(F.explode(F.array("a", "b")).alias("v"))
        active, rows = materialize(with_prio(
            active.join(_small(mv.withColumnRenamed("v", "a")), "a", "left_anti")
            .join(_small(mv.withColumnRenamed("v", "b")), "b", "left_anti"),
            rnd + 1,
        ))
    _check_maximal(rows, "maximal_matching", max_rounds)
    matched = _union_rounds(graph, winners_per_round, "a long, b long")
    return matched.select(F.col("a").alias("src"), F.col("b").alias("dst"))


@tuned_loop
def min_cover_greedy(graph: Graph, max_rounds: int = 256) -> DataFrame:
    """(id) — a small vertex cover via parallel greedy, the exact semantics
    of the reference's ``apps/flash/matching/min-cover-greedy.h:31-96``:
    every round, each still-active vertex whose (residual-degree, id) beats
    every uncovered neighbor's enters the cover; its uncovered neighbors
    subtract the number of newly-covered neighbors from their residual
    degree; vertices drop out when covered or residual degree hits 0.
    Deterministic (ties broken by id — ``nb_id > id`` in filter1).

    Two barriers per round (winners, active update); rounds = the greedy
    peeling depth of the degree distribution (~30 on the link-graph
    fixtures), independent of |V|.
    """
    P = graph.num_partitions
    und = graph.to_undirected(dedup=True)
    edges = (
        und.edges.select("src", "dst")
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # active = uncovered with residual degree > 0 (isolated verts never join)
    active, rows = materialize(deg)
    winners_per_round: list[DataFrame] = []
    rounds_left = max_rounds
    while rounds_left > 0 and rows:
        rounds_left -= 1
        # nb_best(v) = lexmax (d, id) over ACTIVE neighbors — inactive
        # uncovered neighbors have d <= 0 < v.d and can never beat (filter1);
        # the left join below keeps active ids only, so src needs no filter
        a_dst = active.select(F.col("id").alias("dst"), F.col("d").alias("dd"))
        nb_best = (
            edges.join(_small(a_dst), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.max(F.struct(F.col("dd"), F.col("dst"))).alias("best"))
        )
        winners = (
            active.join(_small(nb_best), "id", "left")
            .filter(
                F.col("best").isNull()
                | (F.struct(F.col("d"), F.col("id"))
                   > F.struct(F.col("best.dd"), F.col("best.dst")))
            )
            .select("id")
            .localCheckpoint(eager=True)
        )
        winners_per_round.append(winners)
        cnt = (
            edges.join(_small(winners.withColumnRenamed("id", "src")), "src", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("hit"))
        )
        active, rows = materialize(
            active.join(_small(winners), "id", "left_anti")
            .join(_small(cnt), "id", "left")
            .select("id", (F.col("d") - F.coalesce("hit", F.lit(0))).alias("d"))
            .filter(F.col("d") > 0)
        )
    _check_maximal(rows, "min_cover_greedy", max_rounds)
    edges.unpersist()
    und.unpersist()
    return _union_rounds(graph, winners_per_round, "id long")


@tuned_loop
def min_dominating_set(graph: Graph, max_rounds: int = 256) -> DataFrame:
    """(id) — a small dominating set via the reference's 2-hop-argmax greedy
    (``apps/flash/matching/min-dominating-set.h:30-95``): each round every
    undominated vertex propagates the lexicographic max of
    (undominated-neighbor-count, id) two hops through undominated neighbors;
    vertices that are their own 2-hop argmax join the set and dominate their
    neighborhood. Deterministic.

    Each round costs two barriers, one job each: ``best`` and the active
    update, whose observed row count is the loop test. The two propagation
    hops are fused into one plan (the second hop recomputes the first; a
    checkpoint between them measured no faster). Each hop ends in
    ``best ⟕ nbr`` on id, which keeps active ids only, so neither the hop's
    messages nor ``newcnt`` semi-join their other endpoint against the
    active set.
    """
    und = graph.to_undirected(dedup=True)
    edges = (
        und.edges.select("src", "dst")
        .repartition(graph.num_partitions, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # active = undominated; cnt = #undominated neighbors
    active, rows = materialize(
        graph.vertices.select("id")
        .join(_small(deg), "id", "left")
        .select("id", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    winners_per_round: list[DataFrame] = []
    rounds_left = max_rounds

    def _propagate(best: DataFrame) -> DataFrame:
        nbr = (
            edges.join(
                _small(best.select(F.col("id").alias("src"), F.col("best").alias("nb"))),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("nb").alias("nbmax"))
        )
        return best.join(_small(nbr), "id", "left").select(
            "id",
            F.when(
                F.col("nbmax").isNotNull() & (F.col("nbmax") > F.col("best")),
                F.col("nbmax"),
            ).otherwise(F.col("best")).alias("best"),
        )

    while rounds_left > 0 and rows:
        rounds_left -= 1
        best = active.select(
            "id",
            F.struct(F.col("cnt"), F.col("id").alias("bid")).alias("best"),
        )
        # min-dominating-set.h:66-67 — local applied twice (2-hop argmax)
        best = _propagate(_propagate(best)).localCheckpoint(eager=True)
        winners = best.filter(F.col("id") == F.col("best.bid")).select("id")
        winners_per_round.append(winners)
        dominated = (
            edges.join(
                _small(winners.withColumnRenamed("id", "src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("id"))
            .unionByName(winners)
        )
        survivors = active.join(_small(dominated), "id", "left_anti").select("id")
        # recompute cnt = #still-undominated neighbors (filter2/local2)
        newcnt = (
            edges.join(
                _small(survivors.withColumnRenamed("id", "dst")), "dst", "left_semi"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        active, rows = materialize(
            survivors.join(_small(newcnt), "id", "left")
            .select("id", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        )
    _check_maximal(rows, "min_dominating_set", max_rounds)
    edges.unpersist()
    und.unpersist()
    return _union_rounds(graph, winners_per_round, "id long")


@tuned_loop
def min_edge_cover(graph: Graph, max_rounds: int = 256) -> DataFrame:
    """(id, partner, matched) — an edge cover built the reference's way
    (``apps/flash/matching/min-edge-cover.h:42-93``): rounds of mutual
    min-(degree, id) proposals form a maximal matching (each round: active
    vertices propose to their lightest unmatched neighbor; mutual proposals
    match; proposals aimed at vertices touched this round are cleared and
    re-proposed); every remaining unmatched non-isolated vertex is then
    covered by its min-(degree, id) incident edge. Deterministic
    (the reference's own tie-break is already (nb.d, nb_id)).

    Measured negative results on barrier reduction (r4, sf0.1 A/B, same
    session): (a) a fused single-state (id, prop, partner) loop with 2
    checkpoints/round hits exponentially growing localCheckpoint times
    after ~8 rounds (0.7s → 121s/round at sf0.001) despite truncated
    plans and constant row counts; (b) keeping this layout but leaving
    `newly`/`cleared` lazy (3 checkpoints/round) measured 81.6s vs 66.6s
    for this 5-checkpoint version. The 5 materializations stand — each
    intermediate here is referenced 2+ times per round, and on this
    engine recomputing them costs more than checkpointing them."""
    P = graph.num_partitions
    und = graph.to_undirected(dedup=True)
    edges = (
        und.edges.select("src", "dst")
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg.count()

    # global state: proposals (id, prop) and matches (id, partner)
    props = graph.spark.createDataFrame([], "id long, prop long")
    matched = graph.spark.createDataFrame([], "id long, partner long")
    active, rows = materialize(deg.select("id"))  # non-isolated
    rounds_left = max_rounds
    while rounds_left > 0 and rows:
        rounds_left -= 1
        unmatched_dst = (
            deg.select(F.col("id").alias("dst"), F.col("d").alias("dd"))
            .join(_small(matched.select(F.col("id").alias("dst"))), "dst", "left_anti")
        )
        new_props = (
            edges.join(_small(active.withColumnRenamed("id", "src")), "src", "left_semi")
            .join(_small(unmatched_dst), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min(F.struct("dd", "dst")).alias("m"))
            .select("id", F.col("m.dst").alias("prop"))
        )
        props = (
            props.join(_small(active), "id", "left_anti")
            .unionByName(new_props)
            .localCheckpoint(eager=True)
        )
        proposers = new_props.select("id")
        # mutual proposals → matches (both endpoints unmatched by invariant)
        mutual = (
            props.alias("x")
            .join(
                _small(props.alias("y")),
                (F.col("x.prop") == F.col("y.id"))
                & (F.col("y.prop") == F.col("x.id")),
            )
            .select(F.col("x.id").alias("id"), F.col("x.prop").alias("partner"))
        )
        newly = mutual.join(_small(matched), "id", "left_anti").localCheckpoint(eager=True)
        matched = matched.unionByName(newly).localCheckpoint(eager=True)
        touched = proposers.unionByName(newly.select("id")).distinct()
        # clear proposals aimed at touched vertices (check3): owners re-enter
        cleared, rows = materialize(
            props.join(_small(matched.select("id")), "id", "left_anti")
            .join(_small(touched.withColumnRenamed("id", "prop")), "prop", "left_semi")
            .select("id")
        )
        props = props.join(_small(cleared), "id", "left_anti").localCheckpoint(eager=True)
        active = cleared
    _check_maximal(rows, "min_edge_cover", max_rounds)
    # cover the unmatched non-isolated by their min-(d, id) incident edge
    unm = deg.select("id").join(_small(matched.select("id")), "id", "left_anti")
    fallback = (
        edges.join(_small(unm.withColumnRenamed("id", "src")), "src", "left_semi")
        .join(
            _small(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd"))), "dst"
        )
        .groupBy(F.col("src").alias("id"))
        .agg(F.min(F.struct("dd", "dst")).alias("m"))
        .select("id", F.col("m.dst").alias("partner"), F.lit(False).alias("matched"))
    )
    out = matched.select("id", "partner", F.lit(True).alias("matched")).unionByName(
        fallback
    )
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    deg.unpersist()
    und.unpersist()
    return out
