"""Similarity search over embedding columns (``array<float>``).

* :func:`brute_force_topk` — exact cosine top-k: the baseline. Queries are
  broadcast (small side), the corpus is scanned once; all math is built-in
  higher-order functions (``zip_with`` + ``aggregate``), JVM-side, in
  float64 — no Python in the hot path.
* :func:`lsh_topk` — the scale path: random-hyperplane LSH. Each vector is
  bucketed by a ``b``-bit signature × ``t`` tables; candidates = bucket
  collisions only, then exact cosine re-rank. At 100 TB the bucket join
  replaces the O(|Q|·|C|) cross product with a key-equijoin whose right side
  prunes to colliding buckets.
* :func:`cosine_neardup_pairs` — all pairs above a cosine threshold via the
  same LSH bucketing (embedding near-dup dedup mode).

Determinism: hyperplanes are seeded with deterministic per-(table, bit, dim)
hashing, so signatures are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["brute_force_topk", "lsh_topk", "ivf_topk", "cosine_neardup_pairs",
           "with_cosine"]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _as_double(col):
    return F.col(col).cast("array<double>")


def with_cosine(
    df: DataFrame, a: str, b: str, out: str = "sim",
    ndigits: int | None = 5,
) -> DataFrame:
    """cosine(a, b) in float64: dot / sqrt(|a|²·|b|²). The dots are
    higher-order-function folds: a fully unrolled variant was measured
    OOM-prone under codegen and 3x slower interpreted."""
    ca, cb = _as_double(a), _as_double(b)
    sim = _dot(ca, cb) / F.sqrt(_dot(ca, ca) * _dot(cb, cb))
    if ndigits is not None:
        sim = F.round(sim, ndigits)
    return df.withColumn(out, sim)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: ``(query_id, neighbor_id, sim, rank)``.

    Rank is deterministic: (rounded sim desc, neighbor_id asc) — rounding
    first so last-ulp float noise can never flip an ordering.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = with_cosine(pairs, "_qv", "_cv", "sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def _plane_vals(dim: int, table: int, bit: int) -> list[float]:
    """Portable-mode hyperplane components as plain Python floats — the
    integer hash is evaluated once here instead of per row (the per-row
    expression tree was 64 hash evaluations per projection per row)."""
    base = table * 1_000_003 + bit * 10_007
    vals = []
    for d in range(dim):
        x = base + d
        u = (x * x) % 1_000_000_007
        w = (u * 2_654_435_761) % 1_000_000_007
        vals.append(float(w % 2_000_001 - 1_000_000))
    return vals


def _hyperplane(dim: int, table: int, bit: int, hash_fn: str = "xxhash64"):
    """Deterministic pseudo-random hyperplane as an array expression: component
    d = a centered hash of (table, bit, d) — seeded, reproducible.

    ``portable``: pure-integer squaring hash replicable verbatim in DuckDB
    (x² mod p breaks the linear lattice a multiplicative hash alone would
    put in the components); recall vs brute force is pytest-asserted."""
    if hash_fn == "portable":
        return F.array(*[F.lit(v) for v in _plane_vals(dim, table, bit)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(F.xxhash64(F.lit(table * 7919 + bit * 104729), d), F.lit(2_000_001))
            - F.lit(1_000_000)
        ).cast("double"),
    )


# Bytes of the (rows, dim, planes) float64 product array of one kernel chunk:
# 2048 rows at dim 64 × 64 planes, fewer rows for larger configurations.
_CHUNK_BYTES = 64 << 20


def _portable_signatures_arrow(dim: int, bits: int, tables: int):
    """Vectorized Arrow kernel for PORTABLE-mode LSH signatures (guide §4:
    heavyweight numeric kernel → pandas UDF, not per-row expressions).

    The portable hyperplanes are compile-time constants, so the whole
    signature pass is a fixed (dim × tables·bits) matrix product. The JVM
    rendering evaluated it as tables·bits interpreted ``aggregate(zip_with)``
    folds per row — measured 8-11 s of the embedding_lsh_topk query at
    sf0.1; a fully unrolled Catalyst expression was measured WORSE (codegen
    OOM at 16g / 3x slower interpreted). This kernel is bit-exact with the
    JVM fold: products are the same IEEE doubles, ``np.cumsum`` accumulates
    in the same sequential left-fold order, and the sign test mirrors Spark
    semantics (NaN ≥ 0 is true; ±0.0 both set the bit). Degenerate rows
    (null vector, length ≠ dim) get the all-zero-bit signature ``t·2³²``,
    exactly like the null-poisoned fold they would produce in the JVM;
    :func:`with_lsh_signature` nulls a vector with a null element before
    the call, since Arrow would hand that element over as NaN. Rows are
    projected in chunks whose product array stays within
    ``_CHUNK_BYTES``.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 — resolves the UDF type hints
    from pyspark.sql.functions import pandas_udf

    globals().setdefault("pd", pd)  # postponed annotations: hints resolve
    # against module globals, and pandas is only imported lazily here

    W = np.empty((dim, tables * bits), dtype=np.float64)
    for t in range(tables):
        for b in range(bits):
            W[:, t * bits + b] = _plane_vals(dim, t, b)
    bitw = np.array([1 << b for b in range(bits)], dtype=np.int64)
    base = np.array([t << 32 for t in range(tables)], dtype=np.int64)
    step = max(1, _CHUNK_BYTES // W.nbytes)

    @pandas_udf("array<long>")
    def _sig(vecs: pd.Series) -> pd.Series:
        res: list = [None] * len(vecs)
        good_idx: list = []
        good_rows: list = []
        for i, v in enumerate(vecs):
            if v is not None and not isinstance(v, float) and len(v) == dim:
                good_idx.append(i)
                good_rows.append(np.asarray(v, dtype=np.float64))
            else:
                res[i] = [int(x) for x in base]
        if good_rows:
            V = np.stack(good_rows)
            for s in range(0, len(V), step):
                chunk = V[s:s + step]
                # (rows, dim, planes): per-term products, then a cumulative
                # sum along dim — np.cumsum is sequential accumulation, the
                # same fold order as aggregate(..., 0.0, acc + x)
                terms = chunk[:, :, None] * W[None, :, :]
                proj = np.cumsum(terms, axis=1)[:, -1, :]
                bitset = np.isnan(proj) | (proj >= 0.0)
                sigs = (
                    bitset.reshape(len(chunk), tables, bits) * bitw
                ).sum(axis=2) + base
                for j in range(len(chunk)):
                    res[good_idx[s + j]] = [int(x) for x in sigs[j]]
        return pd.Series(res)

    return _sig


def with_lsh_signature(
    df: DataFrame,
    dim: int,
    bits: int = 16,
    tables: int = 4,
    vec_col: str = "embedding",
    out: str = "_sig",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Add ``out`` = array of ``tables`` signatures (one long per table),
    each the sign-pattern of ``bits`` random hyperplane projections."""
    # hoist the float→double array cast into its own column: inlined, the
    # cast would re-materialize the converted array once per projection
    # (tables×bits times per row) instead of once.
    if hash_fn == "portable":
        vec = F.col(vec_col)
        vec = F.when(F.exists(vec, lambda x: x.isNull()), F.lit(None)).otherwise(vec)
        return df.withColumn(out, _portable_signatures_arrow(dim, bits, tables)(vec))
    df = df.withColumn("_vd", _as_double(vec_col))
    v = F.col("_vd")
    sigs = []
    for t in range(tables):
        bitsum = None
        for b in range(bits):
            proj = _dot(v, _hyperplane(dim, t, b, hash_fn))
            bit = F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
            bitsum = bit if bitsum is None else (bitsum + bit)
        sigs.append((bitsum + F.lit(t * (1 << 32))).cast("long"))
    return df.withColumn(out, F.array(*sigs)).drop("_vd")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 12,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k via hyperplane-LSH bucket collisions + exact re-rank.

    Recall improves with ``tables`` and decreases with ``bits``; the
    candidate set is the union over tables of same-bucket vectors.
    """
    q = with_lsh_signature(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        dim, bits, tables, "_qv", hash_fn=hash_fn,
    ).select("query_id", "_qv", F.explode("_sig").alias("bucket"))
    c = with_lsh_signature(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        dim, bits, tables, "_cv", hash_fn=hash_fn,
    ).select("neighbor_id", "_cv", F.explode("_sig").alias("bucket"))
    cand = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = with_cosine(cand, "_qv", "_cv", "sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    bits: int = 10,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, sim) with id_a < id_b and sim ≥ threshold, candidates
    from LSH bucket collisions (approximate at scale; exact on collisions)."""
    sig = with_lsh_signature(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v")),
        dim, bits, tables, "_v",
    ).select("id", "_v", F.explode("_sig").alias("bucket"))
    left = sig.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), "bucket"
    )
    right = sig.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), "bucket"
    )
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sims = with_cosine(cand, "_va", "_vb", "sim")
    return sims.filter(F.col("sim") >= threshold).select("id_a", "id_b", "sim")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the classic
    coarse-quantizer scale path: k-means the corpus into ``n_centroids``
    cells, search only the ``n_probe`` cells nearest each query, exact
    re-rank inside. Fully deterministic: centroids seed from the
    ``n_centroids`` smallest ``xxhash64(id)`` corpus vectors and Lloyd
    updates are plain averages, so results are invariant across partition
    counts.

    At scale the corpus-side work is one broadcast-centroid argmin pass per
    Lloyd iteration (no shuffle of vectors; the per-dimension centroid
    update aggregates |corpus|·dim scalars map-side) and the probe join
    fans each query to n_probe cells — candidate volume |Q|·|C|·n_probe/
    n_centroids instead of |Q|·|C|.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_cv")
    ).persist()
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    )

    # deterministic seed: n_centroids corpus vectors with smallest hash(id)
    cents = (
        c.withColumn("_h", F.xxhash64("neighbor_id"))
        .orderBy("_h", "neighbor_id")  # distributed TakeOrdered
        .limit(n_centroids)
        # content-stable cell numbering (partition-count invariant); the
        # global window only ever sees n_centroids rows
        .withColumn(
            "cell", F.row_number().over(Window.orderBy("_h", "neighbor_id")) - 1
        )
        .select("cell", F.col("_cv").alias("cent"))
    )

    def _nearest(df: DataFrame, vcol: str, cents_df: DataFrame, nprobe: int):
        """Attach the nprobe nearest cells by cosine (rounded, id tiebreak)."""
        j = df.crossJoin(F.broadcast(cents_df))
        sim = F.round(
            _dot(F.col(vcol), F.col("cent"))
            / F.sqrt(_dot(F.col(vcol), F.col(vcol)) * _dot(F.col("cent"), F.col("cent"))),
            9,
        )
        j = j.withColumn("_csim", sim)
        w = Window.partitionBy(*df.columns[:1]).orderBy(
            F.col("_csim").desc(), F.col("cell").asc()
        )
        return (
            j.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= nprobe)
            .drop("cent", "_csim", "_r")
        )

    for _ in range(kmeans_iters):
        assigned = _nearest(c, "_cv", cents, 1)
        # per-dimension mean via posexplode → two-level agg (map-side combine)
        upd = (
            assigned.select("cell", F.posexplode("_cv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cell",
                F.transform("pm", lambda s: s["m"]).alias("cent"),
            )
        )
        # empty cells keep their previous centroid
        cents = (
            cents.join(upd.withColumnRenamed("cent", "newc"), "cell", "left")
            .select("cell", F.coalesce("newc", "cent").alias("cent"))
            .localCheckpoint(eager=True)
        )

    inv = _nearest(c, "_cv", cents, 1)  # inverted file: corpus vector → cell
    probes = _nearest(q, "_qv", cents, n_probe)
    cand = (
        probes.join(inv, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = with_cosine(cand, "_qv", "_cv", "sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    out = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
        )
    )
    c.unpersist()
    return out
