"""Scale-adaptive partition sizing (spark_optimization_guide §2.2).

The operators' iterative loops (graph Pregel loops, dedup connected
components) pin small pair relations with localCheckpoint and shuffle
them every round. The partition count of those relations must scale
with the DATA, not with a session constant: `spark.sql.shuffle.partitions`
is sized for the big scans, and AQE — which would normally coalesce a
211-row exchange down to one partition — cannot see checkpointed RDDs
and is off in the bench session. A fixed small count would be just as
wrong at 100 TB as the session's 2x-cores count is at sandbox scale.

``adaptive_partitions`` derives the count from Catalyst's own size
estimate of the relation's optimized plan (the same statistic AQE's
coalescing uses), targeting ``BYTES_PER_PARTITION`` per task — so a
0.5 MB synthetic host graph iterates on 1-partition relations while a
multi-TB edge list gets thousands, from the same code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ~64 MB per partition: the low end of the guide's 100 MB - 1 GB band,
# chosen because loop relations are re-shuffled every iteration (smaller
# partitions bound per-task state for the in-loop sorts/aggregations).
BYTES_PER_PARTITION = 64 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized logical plan, or
    None when the estimate is unusable (unknown sources default to
    ``spark.sql.defaultSizeInBytes`` = Long.Max-ish sentinels)."""
    try:
        # py4j maps the scala BigInt straight to a Python int
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # py4j / analysis errors: fall back to caller default
        return None
    # treat absurd sentinel estimates (defaultSizeInBytes propagation) as
    # unknown rather than "huge"
    if size <= 0 or size >= (1 << 60):
        return None
    return size


def adaptive_partitions(df: DataFrame) -> int:
    """Partition count for a relation derived from its estimated size,
    at least 1.

    Falls back to ``defaultParallelism`` when stats are unavailable, so
    an unknown-size relation never collapses to one partition.
    """
    size = plan_size_bytes(df)
    if size is None:
        return df.sparkSession.sparkContext.defaultParallelism
    return max(1, (size + BYTES_PER_PARTITION - 1) // BYTES_PER_PARTITION)
