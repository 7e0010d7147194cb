"""FLASH client facade — the reference's flash app names, name for name.

The reference exposes its FLASH suite to Python as flat wrappers
(python/graphscope/analytical/app/flash/*.py: traversal, connectivity,
core, centrality, ranking, clustering, matching, measurement, subgraph).
This module mirrors that surface 1:1 over the engines in
``graphscope_spark.algorithms`` so the mapping is auditable by name:

* ``*_2`` / ``*_3`` names are the reference's alternate implementations of
  the SAME semantics (e.g. mm.h / mm-opt.h / mm-opt-2.h) — they alias one
  engine here; Spark's optimizer plays the role of picking the physical
  strategy.
* push/pull variants (cc-push.h, bfs-pull.h, …) are scheduling choices of
  the same kernel — Catalyst's join-side/exchange planning subsumes them.
* ``*_undirected`` variants run the same kernel over ``to_undirected()``.

Every facade function returns a DataFrame (or the engine's native scalar),
matching the underlying engine's schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph.graph import Graph

# --- traversal -------------------------------------------------------------
from graphscope_spark.algorithms.traversal import bfs as _bfs
from graphscope_spark.algorithms.traversal import random_multi_bfs
from graphscope_spark.algorithms.traversal import sssp as _sssp
from graphscope_spark.algorithms.traversal import sssp_delta_stepping


def bfs(graph: Graph, source: int = 1) -> DataFrame:
    return _bfs(graph, source)


def bfs_push(graph: Graph, source: int = 1) -> DataFrame:
    return _bfs(graph, source)


def bfs_pull(graph: Graph, source: int = 1) -> DataFrame:
    return _bfs(graph, source)


def bfs_undirected(graph: Graph, source: int = 1) -> DataFrame:
    return _bfs(graph.to_undirected(dedup=True), source)


def sssp(graph: Graph, source: int = 1) -> DataFrame:
    return _sssp(graph, source)


def sssp_undirected(graph: Graph, source: int = 1) -> DataFrame:
    return _sssp(graph.to_undirected(dedup=True), source)


def sssp_dlt_step(graph: Graph, source: int = 1) -> DataFrame:
    return sssp_delta_stepping(graph, source)


def sssp_dlt_step_undirected(graph: Graph, source: int = 1) -> DataFrame:
    return sssp_delta_stepping(graph.to_undirected(dedup=True), source)


# --- connectivity ----------------------------------------------------------
from graphscope_spark.algorithms.biconnectivity import articulation_points as _cut
from graphscope_spark.algorithms.biconnectivity import bcc_edges
from graphscope_spark.algorithms.biconnectivity import bridges as _bridges
from graphscope_spark.algorithms.scc import scc as _scc
from graphscope_spark.algorithms.wcc import wcc as _wcc


def cc(graph: Graph) -> DataFrame:
    return _wcc(graph)


# cc-block.h / cc-union.h (intra-partition union-find) compute the same
# labels; the frontier kernel serves them too.
cc_opt = cc_push = cc_pull = cc_block = cc_union = cc


def cc_log(graph: Graph) -> DataFrame:
    return _wcc(graph, mode="logstar")


def scc(graph: Graph) -> DataFrame:
    return _scc(graph)


scc_2 = scc


def bcc(graph: Graph) -> DataFrame:
    return bcc_edges(graph)


bcc_2 = bcc


def bridge(graph: Graph) -> DataFrame:
    return _bridges(graph)


bridge_2 = bridge


def cut_point(graph: Graph) -> DataFrame:
    return _cut(graph)


cut_point_2 = cut_point


# --- core ------------------------------------------------------------------
from graphscope_spark.algorithms.flash_extras import degeneracy_ordering
from graphscope_spark.algorithms.flash_extras import onion_layer_ordering
from graphscope_spark.algorithms.kcore import core_numbers as _core_numbers
from graphscope_spark.algorithms.kcore import k_core_search


def kcore_decomposition(graph: Graph) -> DataFrame:
    return _core_numbers(graph)


kcore_decomposition_2 = kcore_decomposition


def kcore_searching(graph: Graph, k: int = 5) -> DataFrame:
    return k_core_search(graph, k)


# --- centrality ------------------------------------------------------------
from graphscope_spark.algorithms.betweenness import (
    betweenness_centrality as _betweenness,
)
from graphscope_spark.algorithms.centrality import (
    closeness_centrality as _closeness,
)
from graphscope_spark.algorithms.centrality import eigenvector_centrality
from graphscope_spark.algorithms.centrality import harmonic_centrality
from graphscope_spark.algorithms.centrality import katz_centrality


def betweenness_centrality(graph: Graph, source: int = 1) -> DataFrame:
    return _betweenness(graph, sources=[source])


def closeness_centrality(graph: Graph) -> DataFrame:
    return _closeness(graph)


# --- ranking ---------------------------------------------------------------
from graphscope_spark.algorithms.hits import hits as _hits
from graphscope_spark.algorithms.pagerank import pagerank_ldbc
from graphscope_spark.algorithms.ranking import articlerank as _articlerank
from graphscope_spark.algorithms.ranking import ppr as _ppr


def pagerank(graph: Graph, delta: float = 0.85, max_round: int = 10) -> DataFrame:
    return pagerank_ldbc(graph, damping=delta, rounds=max_round)


def articlerank(graph: Graph, delta: float = 0.85, max_round: int = 10) -> DataFrame:
    return _articlerank(graph, max_iters=max_round, damping=delta)


def personalized_pagerank(
    graph: Graph, source: int = 1, max_round: int = 10
) -> DataFrame:
    return _ppr(graph, source, max_iters=max_round)


def hyperlink_induced_topic_search(graph: Graph, max_round: int = 10) -> DataFrame:
    return _hits(graph, max_round=max_round)


# --- clustering ------------------------------------------------------------
from graphscope_spark.algorithms.cdlp import cdlp as _cdlp
from graphscope_spark.algorithms.flash_extras import (
    densest_subgraph_2approx as _densest,
)
from graphscope_spark.algorithms.flash_extras import graph_coloring
from graphscope_spark.algorithms.fluid import fluid_communities
from graphscope_spark.algorithms.lpa_color import lpa_by_color
from graphscope_spark.algorithms.triangles import avg_clustering as _avg_clustering
from graphscope_spark.algorithms.triangles import lcc as _lcc


def label_propagation(graph: Graph) -> DataFrame:
    return _cdlp(graph)


def label_propagation_2(graph: Graph) -> DataFrame:
    """lpa-by-color.h: deterministic async LPA scheduled by color class."""
    return lpa_by_color(graph)


def fluid_community(graph: Graph, seeds: list[int] | None = None) -> DataFrame:
    """fluid-community.h seeds randomly; the deterministic rendering seeds
    with the smallest vertex ids unless given explicitly."""
    if seeds is None:
        seeds = [
            r["id"]
            for r in graph.vertices.orderBy("id").limit(8).collect()
        ]
    return fluid_communities(graph, seeds)


fluid_community_2 = fluid_community


def clustering_coefficient(graph: Graph) -> DataFrame:
    return _lcc(graph)


def densest_subgraph_2_approximation(graph: Graph, d: int = 10) -> DataFrame:
    return _densest(graph)


# --- matching --------------------------------------------------------------
from graphscope_spark.algorithms.matching import (
    maximal_independent_set as _mis,
)
from graphscope_spark.algorithms.matching import (
    maximal_matching as _mm,
)
from graphscope_spark.algorithms.matching import min_cover_greedy
from graphscope_spark.algorithms.matching import min_dominating_set
from graphscope_spark.algorithms.matching import min_edge_cover
from graphscope_spark.algorithms.msf import minimum_spanning_forest as _msf


def maximal_independent_set(graph: Graph) -> DataFrame:
    return _mis(graph)


maximal_independent_set_2 = maximal_independent_set


def maximal_matching(graph: Graph) -> DataFrame:
    return _mm(graph)


maximal_matching_2 = maximal_matching_3 = maximal_matching


def minimal_vertex_cover(graph: Graph) -> DataFrame:
    return min_cover_greedy(graph)


minimal_vertex_cover_2 = minimal_vertex_cover_3 = minimal_vertex_cover


def minimal_dominating_set(graph: Graph) -> DataFrame:
    return min_dominating_set(graph)


minimal_dominating_set_2 = minimal_dominating_set


def minimal_edge_cover(graph: Graph) -> DataFrame:
    return min_edge_cover(graph)


def minimum_spanning_forest(graph: Graph) -> DataFrame:
    return _msf(graph)


minimum_spanning_forest_2 = minimum_spanning_forest


# --- measurement -----------------------------------------------------------
from graphscope_spark.algorithms.diameter import diameter_approx
from graphscope_spark.algorithms.flash_extras import k_center as _k_center


def diameter_approximation(graph: Graph) -> DataFrame:
    return diameter_approx(graph)


diameter_approximation_2 = diameter_approximation


def k_center(graph: Graph, k: int = 5) -> DataFrame:
    return _k_center(graph, k)


# --- subgraph --------------------------------------------------------------
from graphscope_spark.algorithms.cliques import k_cliques
from graphscope_spark.algorithms.subgraph_counts import (
    cyclic_triangles as _cyclic,
)
from graphscope_spark.algorithms.subgraph_counts import (
    directed_triangle_census as _census,
)
from graphscope_spark.algorithms.subgraph_counts import rectangles as _rect
from graphscope_spark.algorithms.subgraph_counts import (
    tailed_triangles as _tailed,
)
from graphscope_spark.algorithms.triangles import triangles as _tri


def triangle_counting(graph: Graph) -> DataFrame:
    return _tri(graph)


def rectangle_counting(graph: Graph) -> DataFrame:
    return _rect(graph)


def cyclic_triangle_counting(graph: Graph) -> DataFrame:
    return _cyclic(graph)


def tailed_triangle_counting(graph: Graph) -> DataFrame:
    return _tailed(graph)


def acyclic_triangle_counting(graph: Graph) -> DataFrame:
    return _census(graph).select("acyclic_tri")


def in_plus_triangle_counting(graph: Graph) -> DataFrame:
    return _census(graph).select("in_tri")


def out_plus_triangle_counting(graph: Graph) -> DataFrame:
    return _census(graph).select("out_tri")


def cycle_plus_triangle_counting(graph: Graph) -> DataFrame:
    return _census(graph).select("cycle_plus_tri")


def k_clique_counting(graph: Graph, k: int = 5) -> DataFrame:
    return k_cliques(graph, k).agg(F.count(F.lit(1)).alias("n"))


k_clique_counting_2 = k_clique_counting


def three_path_counting(graph: Graph) -> DataFrame:
    """3-path.h: homomorphic 3-edge path count (the match_3path oracle
    semantics)."""
    from graphscope_spark.operators.match import match

    m = match(graph, [("a", "out", "b"), ("b", "out", "c"), ("c", "out", "d")])
    return m.agg(F.count(F.lit(1)).alias("n"))


def diamond_counting(graph: Graph) -> DataFrame:
    """diamond.h: homomorphic diamond count (the match_diamond oracle
    semantics)."""
    from graphscope_spark.operators.match import match

    m = match(
        graph,
        [("a", "out", "b"), ("a", "out", "c"), ("b", "out", "d"), ("c", "out", "d")],
    )
    return m.agg(F.count(F.lit(1)).alias("n"))


# sampling / degeneracy etc. already carry the reference names
__all__ = sorted(
    n
    for n in dir()
    if not n.startswith("_") and n not in {"annotations", "DataFrame", "F", "Graph"}
)
