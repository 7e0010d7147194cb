"""Scale-adaptive partition sizing.

Guide §2 (spark_optimization_guide.md): partitioning must be derived from
input size, not a constant tuned for either local mode or the cluster. A
32-partition layout is right for the 100M-edge headline but pays ~32 tasks
per stage per superstep on a 15k-edge graph, where the per-round cost is
pure task-dispatch overhead.

``adaptive_partitions`` sizes a DataFrame's partition count from Catalyst's
estimated plan bytes: ~``SPARK_GRAFT_PARTITION_TARGET_BYTES`` (default
16 MiB) per partition, clamped to [1, default]. ``default`` stays the
configured cluster-scale count (``spark.sql.shuffle.partitions``), so at
scale the estimate exceeds ``default × target`` and behaviour is unchanged;
only provably-small inputs shrink. Unknown estimates keep ``default``.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "adaptive_partitions",
    "iterative_loop",
    "plan_size_bytes",
    "tuned_loop",
]

TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_PARTITION_TARGET_BYTES", str(16 << 20))
)
# Catalyst returns 2^63-ish sentinels when statistics are missing; anything
# this large is "unknown", not a real estimate.
_UNKNOWN = 1 << 60


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of the optimized plan, or None."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — sizing is best-effort, never fatal
        return None
    if est <= 0 or est >= _UNKNOWN:
        return None
    return est


def adaptive_partitions(df: DataFrame, default: int) -> int:
    """Partition count for ``df``: ceil(est_bytes / TARGET_BYTES) clamped to
    [min(8, default), default]. Falls back to ``default`` when the estimate
    is unknown.

    The floor of 8 is deliberate: iterative bodies do full-edge-table joins
    and windows every round, whose in-memory working set is several times
    the on-disk estimate — measured on the sf0.1 link graph (300k
    undirected edges, est 0.8 MB), P=1 serializes those joins onto one core
    (h-index rounds 2× slower) while P=8 keeps them parallel at ~zero extra
    dispatch cost. P=8 vs P=32 on the same loops measured 16.2s vs 26.0s
    per 8 rounds, so the cap still matters."""
    est = plan_size_bytes(df)
    floor = min(8, int(default))
    if est is None:
        return int(default)
    return max(floor, min(int(default), math.ceil(est / TARGET_BYTES)))


def tuned_loop(fn):
    """Decorator for algorithm entry points whose body is a hand-rolled
    driver loop (repeated localCheckpoint/collect actions): runs the body
    under :func:`iterative_loop` keyed on the input graph's scale-adaptive
    partition count. The returned plan itself still executes under the
    caller's session settings — only the loop's internal actions are
    pinned."""
    import functools

    @functools.wraps(fn)
    def wrapper(graph, *args, **kwargs):
        with iterative_loop(graph.spark, graph.num_partitions):
            return fn(graph, *args, **kwargs)

    return wrapper


@contextmanager
def iterative_loop(spark: SparkSession, p: int):
    """Driver-loop tuning for hand-rolled iteration (the same settings
    run_supersteps applies): AQE off — re-planning every tiny per-round
    query costs driver latency per exchange and the static plan with our
    co-partitioning is already right — and shuffle partitions pinned to the
    loop's scale-adaptive P. Both restored on exit."""
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(max(1, int(p))))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", sp_before)
