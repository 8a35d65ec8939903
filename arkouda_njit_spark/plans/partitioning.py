"""Partitioning utilities: scalable dense-rank ids, hub salting.

The reference remaps vertex labels to dense 0..n-1 ids with a sort-based
GroupBy + broadcast (graphclass.py:213-223). A naive Spark translation is
``row_number() over (order by label)`` — a single-partition window that
serializes the whole vertex set through one task and cannot work at
10^12-document scale. Instead we use the classic two-pass scheme:

  1. range-partition the distinct labels by label (global order across
     partitions, local order within),
  2. count rows per partition (one small job), prefix-sum the counts on the
     driver (P integers),
  3. assign ``offset[pid] + local_index`` per partition in one projection
     over the cached partitions: the offsets ride in as a literal array
     indexed by ``spark_partition_id()``, and the local index is
     ``monotonically_increasing_id()`` minus its ``pid << 33`` partition
     prefix — JVM expressions only, no Python worker task per partition.

This yields exactly the reference's ascending-label dense numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dense_rank_ids(df: DataFrame, col: str, num_partitions: int, out_col: str = "vid") -> DataFrame:
    """Assign dense ids 0..n-1 in ascending ``col`` order, scalably.

    ``df`` must contain distinct values of ``col``. Returns (out_col, col).

    The ids are computed from a persisted range-partitioned copy of ``df``
    (a recompute over a fresh range sample would not fit the prefix
    offsets), and the returned frame owns that cache: keep it while the
    ids, or anything lazily derived from them, may still be computed, then
    call ``unpersist()`` on the returned frame to release it.
    """
    return dense_rank_ids_counted(df, col, num_partitions, out_col)[0]


def dense_rank_ids_counted(
    df: DataFrame, col: str, num_partitions: int, out_col: str = "vid"
) -> tuple[DataFrame, int]:
    """:func:`dense_rank_ids` plus the total row count, which the two-pass
    scheme computes anyway (sum of the per-partition counts) — callers that
    need n for a broadcast-vs-shuffle decision get it for free instead of
    paying a separate count action. Same cache ownership: the returned
    frame's ``unpersist()`` releases the range-partitioned cache."""
    ordered = (
        df.select(col)
        .repartitionByRange(num_partitions, F.col(col))
        .sortWithinPartitions(col)
        .persist()
    )
    # Pass 1: per-partition counts (tiny result: one row per partition).
    counts = (
        ordered.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets = [0] * (max(sizes, default=-1) + 1)
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    # Pass 2: offset[pid] + position within the cached partition (its
    # scan order is the sorted order); pids without rows are never read
    pid = F.spark_partition_id()
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    base = F.element_at(F.array(*[F.lit(o).cast("long") for o in offsets or [0]]), pid + 1)
    result = ordered.select((base + local).alias(out_col), col)

    def unpersist(blocking: bool = False) -> DataFrame:
        ordered.unpersist(blocking)
        return result

    result.unpersist = unpersist  # type: ignore[method-assign]
    return result, acc


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism when its plan currently has fewer partitions.

    Guide §2.5 (input skew): a small table read from a single parquet
    file is ONE scan split, so any CPU-heavy per-row stage downstream
    (shingle explode + K md5s per shingle, token hashing) runs serially
    on one core regardless of cluster size — measured 22.9 s wall /
    30.8 s task time on one task for the sf0.1 MinHash signature pass.
    Scale-adaptive by construction: at real corpus sizes the scan has
    more splits than cores and this is a no-op; only the pathological
    fewer-splits-than-cores case pays the (tiny) extra shuffle."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - connect-mode plans have no rdd
        return df
    if current >= target:
        return df
    return df.repartition(target)


def with_salt(df: DataFrame, key: str, salt_buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt column for skewed-key mitigation (north rule):
    spread a hot ``key`` over ``salt_buckets`` sub-keys. Pair with a
    two-stage aggregation (partial agg on (key, salt), final on key)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(key, F.monotonically_increasing_id()), F.lit(salt_buckets))
    )


def two_stage_min(df: DataFrame, key: str, value: str, salt_buckets: int) -> DataFrame:
    """Salted two-stage min-aggregation: groupBy(key, salt) partial min,
    then groupBy(key) final min. Spark already map-side-combines min, but
    the explicit form bounds reducer skew for power-law hubs where one key
    holds a large fraction of all rows (SURVEY.md §4)."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(value), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(F.min(value).alias(value))
    return partial.groupBy(key).agg(F.min(value).alias(value))
