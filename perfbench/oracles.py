"""Output checks, run after the timed pass against independent computations.

Graph algorithms are recomputed with NumPy (PageRank, WCC, CDLP) and DuckDB
(triangles) on the edges the program's ``Graph`` holds; the corpus links are
recomputed from the generator's ground-truth imports. Each
``checks_<workload>`` returns ``{operation: thunk}``; a thunk returns whether
that operation's output is right.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from graphscope_spark.corpus.generator import intended_imports, repo_of
from graphscope_spark.engine.checkpoint import CheckpointManager
from graphscope_spark.sources.synthetic import power_law_edges
from workloads import (
    CORPUS, CORPUS_CDLP_ROUNDS, CORPUS_PR_ROUNDS, CORPUS_PR_SPLIT, GREEDY,
)

ALPHA = 0.85


class Arrays:
    """A graph as index arrays: ``ids`` sorted, so the smallest index is the
    smallest id; ``s``/``d``/``w`` one entry per edge row (multi-edges kept)."""

    def __init__(self, g, weight: str | None = None) -> None:
        self.ids = np.sort(g.vertices.select("id").toPandas()["id"].to_numpy(np.int64))
        cols = ["src", "dst"] + ([weight] if weight else [])
        e = g.edges.select(*cols).toPandas()
        src, dst = e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)
        self.s = np.searchsorted(self.ids, src)
        self.d = np.searchsorted(self.ids, dst)
        self.endpoints_ok = bool(
            len(self.ids) == len(np.unique(self.ids))
            and np.array_equal(np.unique(np.concatenate([src, dst])), self.ids)
        )
        self.w = e[weight].to_numpy(float) if weight else np.ones(len(e))
        self.n = len(self.ids)
        self.m = len(e)

    def index(self, pdf, id_col: str, val_col: str) -> np.ndarray | None:
        """``val_col`` ordered by vertex index, or None if ids differ."""
        got_ids = pdf[id_col].to_numpy(np.int64)
        if len(got_ids) != self.n:
            return None
        order = np.argsort(got_ids)
        if not np.array_equal(got_ids[order], self.ids):
            return None
        return pdf[val_col].to_numpy()[order]

    def undirected_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        keep = self.s != self.d
        lo = np.minimum(self.s[keep], self.d[keep])
        hi = np.maximum(self.s[keep], self.d[keep])
        pairs = np.unique(lo * self.n + hi)
        return pairs // self.n, pairs % self.n


def pagerank_oracle(a: Arrays, rounds: int) -> np.ndarray:
    """Fixed-round power iteration, NetworkX semantics, dangling mass spread
    uniformly."""
    out_w = np.bincount(a.s, weights=a.w, minlength=a.n)
    dangling = out_w == 0
    x = np.full(a.n, 1.0 / a.n)
    for _ in range(rounds):
        share = x[a.s] * a.w / out_w[a.s]
        msg = np.bincount(a.d, weights=share, minlength=a.n)
        x = ALPHA * msg + ALPHA * x[dangling].sum() / a.n + (1.0 - ALPHA) / a.n
    return x


def wcc_oracle(a: Arrays) -> np.ndarray:
    """Smallest vertex index of each weakly connected component."""
    lab = np.arange(a.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, a.s, lab[a.d])
        np.minimum.at(new, a.d, lab[a.s])
        new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def cdlp_oracle(a: Arrays, rounds: int) -> np.ndarray:
    """Synchronous label propagation: each vertex takes the most frequent
    label over its in- and out-edges (multi-edges count), smallest on ties."""
    keep = a.s != a.d
    recv = np.concatenate([a.d[keep], a.s[keep]])
    send = np.concatenate([a.s[keep], a.d[keep]])
    lab = np.arange(a.n)
    for _ in range(rounds):
        keys, cnt = np.unique(recv * a.n + lab[send], return_counts=True)
        v, label = keys // a.n, keys % a.n
        order = np.lexsort((label, -cnt, v))
        v, label = v[order], label[order]
        first = np.r_[True, v[1:] != v[:-1]]
        new = lab.copy()
        new[v[first]] = label[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return lab


def triangles_oracle(a: Arrays) -> np.ndarray:
    """Per-vertex triangle counts of the simple undirected graph (DuckDB)."""
    lo, hi = a.undirected_pairs()
    con = duckdb.connect()
    try:
        con.register("u", pd.DataFrame({"a": lo, "b": hi}))
        rows = con.execute(
            """
            WITH t AS (
              SELECT x.a AS a, x.b AS b, y.b AS c
              FROM u x JOIN u y ON x.a = y.a AND x.b < y.b
                       JOIN u z ON z.a = x.b AND z.b = y.b)
            SELECT v, count(*) FROM (
              SELECT a AS v FROM t UNION ALL SELECT b FROM t
              UNION ALL SELECT c FROM t) GROUP BY v
            """
        ).fetchnumpy()
    finally:
        con.close()
    out = np.zeros(a.n, dtype=np.int64)
    vals = list(rows.values())
    out[vals[0].astype(np.int64)] = vals[1]
    return out


def _close(a: Arrays, res, rounds: int) -> bool:
    got = a.index(res.state.select("id", "rank").toPandas(), "id", "rank")
    return got is not None and bool(
        np.allclose(got.astype(float), pagerank_oracle(a, rounds), rtol=1e-6, atol=0)
    )


def _labels_equal(a: Arrays, res, want: np.ndarray) -> bool:
    got = a.index(res.state.select("id", "label").toPandas(), "id", "label")
    return got is not None and np.array_equal(got.astype(np.int64), a.ids[want])


def _build_ok(a: Arrays, expected_edges: int) -> bool:
    return a.endpoints_ok and a.m == expected_edges and a.m > 0


class _Lazy:
    """Compute a shared value once, on first use by any check."""

    def __init__(self, fn) -> None:
        self.fn, self.done, self.value = fn, False, None

    def __call__(self):
        if not self.done:
            self.value, self.done = self.fn(), True
        return self.value


def corpus_links_oracle(spark, seed: int) -> dict[tuple[int, int], float]:
    """Repo-link edges ``(src_id, dst_id) -> weight`` from the generator's
    ground-truth imports; repo ids are Spark's xxhash64 of the repo name."""
    nf, nr = CORPUS["n_files"], CORPUS["n_repos"]
    repo = [repo_of(i, nf, nr, seed) for i in range(nf)]
    want = Counter()
    for i in range(nf):
        for j in intended_imports(i, nf, seed):
            if repo[i] != repo[j]:
                want[(repo[i], repo[j])] += 1
    names = spark.createDataFrame(
        [(r, f"org{r // 10}/repo{r}") for r in sorted(set(repo))], "r int, name string"
    ).select("r", F.xxhash64("name").alias("id")).toPandas()
    rid = dict(zip(names["r"], names["id"]))
    return {(rid[s], rid[d]): float(c) for (s, d), c in want.items()}


def checks_corpus_pipeline(spark, seed: int, out: dict) -> dict:
    links = _Lazy(lambda: corpus_links_oracle(spark, seed))
    a = _Lazy(lambda: Arrays(out["graph"], weight="weight"))

    def synth():
        row = out["files"].agg(F.count("*"), F.countDistinct("path")).collect()[0]
        return row[0] == row[1] == CORPUS["n_files"]

    def extract():
        got = out["links"].toPandas()
        return dict(zip(zip(got["src"], got["dst"]), got["weight"])) == links()

    def split():
        rounds = [m["round"] for m in CheckpointManager(out["checkpoint_dir"], spark).history()]
        return rounds[:2] == [3, CORPUS_PR_SPLIT] and _close(a(), out["pagerank_split"], CORPUS_PR_SPLIT)

    def resume():
        pr = out["pagerank"]
        return pr.resumed_from == CORPUS_PR_SPLIT and _close(a(), pr, CORPUS_PR_ROUNDS)

    def tri():
        got = a().index(out["triangles"].toPandas(), "id", "triangles")
        return got is not None and np.array_equal(got.astype(np.int64), triangles_oracle(a()))

    return {
        "corpus.synth": synth,
        "corpus.extract": extract,
        "graph.build": lambda: _build_ok(a(), len(links())),
        "algorithms.pagerank": split,
        "engine.checkpoint.resume": resume,
        "algorithms.wcc": lambda: _labels_equal(a(), out["wcc"], wcc_oracle(a())),
        "algorithms.cdlp": lambda: _labels_equal(
            a(), out["cdlp"], cdlp_oracle(a(), CORPUS_CDLP_ROUNDS)),
        "algorithms.triangles": tri,
    }


def _input_edges(spark, seed: int, sizes: dict) -> int:
    return power_law_edges(spark, seed=seed, **sizes).count()


def checks_greedy_loops(spark, seed: int, out: dict) -> dict:
    a = _Lazy(lambda: Arrays(out["graph"]))

    def matching():
        g = a()
        lo, hi = g.undirected_pairs()
        m = out["matching"].toPandas()
        ms = np.searchsorted(g.ids, m["src"].to_numpy(np.int64))
        md = np.searchsorted(g.ids, m["dst"].to_numpy(np.int64))
        ends = np.concatenate([ms, md])
        matched = np.zeros(g.n, dtype=bool)
        matched[ends] = True
        return bool(
            np.array_equal(g.ids[ms], m["src"].to_numpy(np.int64))
            and np.array_equal(g.ids[md], m["dst"].to_numpy(np.int64))
            and (ms < md).all()
            and np.isin(ms * g.n + md, lo * g.n + hi).all()  # edges of the graph
            and len(np.unique(ends)) == len(ends)  # no shared endpoint
            and (matched[lo] | matched[hi]).all()  # maximal
        )

    def dominating():
        g = a()
        lo, hi = g.undirected_pairs()
        ds = out["dominating"].toPandas()["id"].to_numpy(np.int64)
        idx = np.searchsorted(g.ids, ds)
        if not (idx < g.n).all() or not np.array_equal(g.ids[idx], ds):
            return False
        inset = np.zeros(g.n, dtype=bool)
        inset[idx] = True
        covered = inset.copy()
        covered[lo[inset[hi]]] = True
        covered[hi[inset[lo]]] = True
        return bool(covered.all())

    return {
        "graph.build": lambda: _build_ok(a(), _input_edges(spark, seed, GREEDY)),
        "algorithms.maximal_matching": matching,
        "algorithms.min_dominating_set": dominating,
    }


CHECKS = {
    "corpus_pipeline": checks_corpus_pipeline,
    "greedy_loops": checks_greedy_loops,
}
