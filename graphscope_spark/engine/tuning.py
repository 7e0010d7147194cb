"""Scale-adaptive partition sizing.

Guide §2 (spark_optimization_guide.md): partitioning must be derived from
input size, not a constant tuned for either local mode or the cluster. A
32-partition layout is right for the 100M-edge headline but pays ~32 tasks
per stage per superstep on a 15k-edge graph, where the per-round cost is
pure task-dispatch overhead.

``adaptive_partitions`` sizes a DataFrame's partition count from Catalyst's
estimated plan bytes: ~``SPARK_GRAFT_PARTITION_TARGET_BYTES`` (default
16 MiB) per partition, never below a data-derived floor of one partition
per 96 KiB (at most 8), and never above ``default``. ``default`` stays the
configured cluster-scale count (``spark.sql.shuffle.partitions``), so at
scale the estimate exceeds ``default × target`` and behaviour is unchanged;
only provably-small inputs shrink. Unknown estimates keep ``default``.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "adaptive_partitions",
    "iterative_loop",
    "materialize",
    "plan_size_bytes",
    "tuned_loop",
]

TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_PARTITION_TARGET_BYTES", str(16 << 20))
)
# Below 8 partitions, a small input gets one partition per FLOOR_BYTES.
FLOOR_BYTES = 96 << 10
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
    [floor, default] with floor = min(8, default, ceil(est_bytes / 96 KiB)).
    Falls back to ``default`` when the estimate is unknown.

    The floor keeps mid-sized graphs parallel: iterative bodies do
    full-edge-table joins and windows every round, whose in-memory working
    set is several times the on-disk estimate. On the sf0.1 link graph
    (300k undirected edges, est 0.8 MB) P=1 serialized those joins onto one
    core (h-index rounds 2× slower) while P=8 kept them parallel, and P=8
    against P=32 measured 16.2 s against 26.0 s per 8 rounds. Below 8 ×
    96 KiB the floor shrinks with the data, because there each extra task
    per stage costs more in dispatch than it saves in compute:

    ====================  ==========  ==========  =====
    graph                 estimate    floor 8     P
    ====================  ==========  ==========  =====
    greedy graph          27,000 B    8           1
    corpus link graph     227,040 B   8           3
    sf0.01 customer       84,419 B    8           1
    sf0.1 customer        817,129 B   8           8
    ====================  ==========  ==========  =====

    At P=1 ``min_dominating_set`` on the greedy graph runs 197 tasks
    instead of 1,588 and the same 113 jobs."""
    est = plan_size_bytes(df)
    if est is None:
        return int(default)
    floor = min(8, int(default), math.ceil(est / FLOOR_BYTES))
    return max(floor, min(int(default), math.ceil(est / TARGET_BYTES)))


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` as an eager ``localCheckpoint`` leaf, plus its row count.

    The count is observed (``DataFrame.observe``) on the checkpoint's own
    job, so a loop reads its convergence test off the round's one
    materialization instead of probing the result again with ``isEmpty()``
    or ``count()``, each a further job and a further plan to analyse."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True
    )
    return out, int(obs.get["rows"])


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
