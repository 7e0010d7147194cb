"""The workloads: one timed pass each, built only from public calls.

A pass generates its inputs from the seed, runs every operation, and writes
each result to Spark's ``noop`` sink. It fills ``out`` with the handles the
output checks read, as it goes, so a pass that raises still leaves what it
made; ``out["release"]`` drops what the benchmark itself persisted.
"""

from __future__ import annotations

import os
import shutil

from graphscope_spark import Graph
from graphscope_spark.algorithms.cdlp import cdlp
from graphscope_spark.algorithms.matching import maximal_matching, min_dominating_set
from graphscope_spark.algorithms.pagerank import pagerank
from graphscope_spark.algorithms.triangles import triangles
from graphscope_spark.algorithms.wcc import wcc
from graphscope_spark.corpus import extract_file_deps, repo_link_edges, synth_corpus
from graphscope_spark.sources.synthetic import power_law_edges

# Input sizes, the same for the warm pass and the timed passes.
CORPUS = {"n_files": 10_000, "n_repos": 200}
# CDLP converges after 4-7 rounds at this corpus size, depending on the seed;
# a cap of 4 keeps the amount of work the same for every seed.
CORPUS_PR_ROUNDS, CORPUS_PR_SPLIT, CORPUS_CDLP_ROUNDS = 10, 6, 4
GREEDY = {"n_edges": 2_250, "n_vertices": 1_500, "skew": 1.0}

OPS = {
    "corpus_pipeline": [
        "corpus.synth", "corpus.extract", "graph.build", "algorithms.pagerank",
        "engine.checkpoint.resume", "algorithms.wcc", "algorithms.cdlp",
        "algorithms.triangles",
    ],
    "greedy_loops": [
        "graph.build", "algorithms.maximal_matching", "algorithms.min_dominating_set",
    ],
}


def sink(df) -> None:
    """Run ``df``'s plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _build(tr, edges):
    with tr.span("graph.build"):
        g = Graph(edges)
        g.num_edges  # loads both fragments
    return g


def corpus_pipeline(spark, tr, seed: int, workdir: str, out: dict) -> None:
    with tr.span("corpus.synth"):
        files = synth_corpus(spark, seed=seed, **CORPUS).persist()
        sink(files)
    out["files"] = files
    out["release"].append(files.unpersist)
    with tr.span("corpus.extract"):
        links = repo_link_edges(files, extract_file_deps(files)).persist()
        sink(links)
    out["links"] = links
    out["release"].append(links.unpersist)
    g = out["graph"] = _build(tr, links)
    out["release"].append(g.unpersist)

    ckpt = os.path.join(workdir, "checkpoint")
    shutil.rmtree(ckpt, ignore_errors=True)
    out["checkpoint_dir"] = ckpt
    out["release"].append(lambda: shutil.rmtree(ckpt, ignore_errors=True))
    common = dict(tol=0.0, weight_col="weight", checkpoint_dir=ckpt,
                  checkpoint_every=3, return_result=True)
    with tr.span("algorithms.pagerank"):
        pr = pagerank(g, max_iter=CORPUS_PR_SPLIT, **common)
        sink(pr.state)
    tr.note_rounds(pr)
    out["pagerank_split"] = pr
    with tr.span("engine.checkpoint.resume"):
        pr = pagerank(g, max_iter=CORPUS_PR_ROUNDS, resume=True, **common)
        sink(pr.state)
    tr.note_rounds(pr)
    out["pagerank"] = pr
    with tr.span("algorithms.wcc"):
        out["wcc"] = wcc(g, return_result=True)
        sink(out["wcc"].state)
    tr.note_rounds(out["wcc"])
    with tr.span("algorithms.cdlp"):
        out["cdlp"] = cdlp(g, max_iter=CORPUS_CDLP_ROUNDS, return_result=True)
        sink(out["cdlp"].state)
    tr.note_rounds(out["cdlp"])
    with tr.span("algorithms.triangles"):
        out["triangles"] = triangles(g)
        sink(out["triangles"])


def greedy_loops(spark, tr, seed: int, workdir: str, out: dict) -> None:
    g = out["graph"] = _build(tr, power_law_edges(spark, seed=seed, **GREEDY))
    out["release"].append(g.unpersist)
    with tr.span("algorithms.maximal_matching"):
        out["matching"] = maximal_matching(g)
        sink(out["matching"])
    with tr.span("algorithms.min_dominating_set"):
        out["dominating"] = min_dominating_set(g)
        sink(out["dominating"])


WORKLOADS = {
    "corpus_pipeline": corpus_pipeline,
    "greedy_loops": greedy_loops,
}
