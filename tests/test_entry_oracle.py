"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark at sf0.01 and compare against oracle_sql() via DuckDB —
row count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rows(rows):
    return sorted(tuple(_norm(v) for v in r) for r in rows)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    res = ddb.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"

    # order-insensitive compare with columns sorted by name (driver behavior)
    sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
    didx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s = _rows([[r[i] for i in sidx] for r in spark_rows])
    d = _rows([[r[i] for i in didx] for r in duck_rows])
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_all_queries_have_callables():
    qs = entrymod.queries()
    for k in entrymod.oracle_sql():
        assert k in qs


def test_every_query_has_an_oracle():
    """Since r3 every queries() entry carries DuckDB oracle SQL — no
    rows-only (weaker-checked) queries remain."""
    assert sorted(set(entrymod.queries()) - set(entrymod.oracle_sql())) == []


def test_lsh_topk_recall_vs_brute_force(spark):
    """The LSH ANN path must recover most of the exact top-5 neighbors."""
    from graphscope_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    exact = brute_force_topk(q, emb, k=5)
    approx = lsh_topk(q, emb, dim=64, k=5, bits=4, tables=16)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_lsh_topk_recall_portable_planes(spark):
    """The portable (squaring-hash) hyperplanes must be as useful as the
    xxhash64 ones — guards against lattice-structured planes."""
    from graphscope_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id < 20")
    exact = brute_force_topk(q, emb, k=5)
    approx = lsh_topk(q, emb, dim=64, k=5, bits=4, tables=16,
                      hash_fn="portable")
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"portable-plane LSH recall too low: {recall}"


def test_ivf_topk_recall_vs_brute_force(spark):
    """The IVF ANN path must recover most of the exact top-5 neighbors and
    be partition-count invariant (deterministic centroids)."""
    from graphscope_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    exact = brute_force_topk(q, emb, k=5)
    approx = ivf_topk(q, emb, k=5, n_centroids=16, n_probe=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall too low: {recall}"

    again = ivf_topk(
        q.repartition(3), emb.repartition(7), k=5, n_centroids=16, n_probe=8
    )
    b = {(r["query_id"], r["neighbor_id"]) for r in again.collect()}
    assert a == b, "IVF result depends on partitioning"


def test_portable_lsh_signature_matches_jvm_fold(spark, monkeypatch):
    """The Arrow signature kernel must be bit-exact with the JVM
    aggregate/zip_with fold it replaced (same products, same sequential
    sum order, same sign test), including a vector with a null element
    (the fold's null poisons every bit) and when the rows are projected
    in several byte-budgeted chunks."""
    import random

    from pyspark.sql import functions as F

    import graphscope_spark.operators.similarity as S

    dim, bits, tables = 8, 4, 3
    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(50)
    ]
    rows.append((100, [0.0] * dim))
    rows.append((101, [-1e-12] * dim))
    rows.append((102, [0.5] * (dim - 1) + [None]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def portable():
        return {
            r["vec_id"]: list(r["_sig"])
            for r in S.with_lsh_signature(
                df, dim, bits, tables, "embedding", hash_fn="portable"
            ).collect()
        }

    arrow = portable()
    assert arrow[102] == [t << 32 for t in range(tables)]
    # 2 rows per chunk: every Arrow batch is projected in several chunks
    monkeypatch.setattr(S, "_CHUNK_BYTES", 2 * dim * tables * bits * 8)
    assert portable() == arrow
    dfd = df.withColumn("_vd", S._as_double("embedding"))
    v = F.col("_vd")
    sigs = []
    for t in range(tables):
        bitsum = None
        for b in range(bits):
            proj = S._dot(
                v, F.array(*[F.lit(x) for x in S._plane_vals(dim, t, b)])
            )
            bit = F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
            bitsum = bit if bitsum is None else (bitsum + bit)
        sigs.append((bitsum + F.lit(t * (1 << 32))).cast("long"))
    jvm = {
        r["vec_id"]: list(r["_sig"])
        for r in dfd.withColumn("_sig", F.array(*sigs)).collect()
    }
    assert arrow == jvm
