"""Scale-adaptive scan-parallelism floor.

A small single-file parquet input (one row group, well under
``spark.sql.files.maxPartitionBytes``) plans as ONE scan task, so any
expensive narrow computation chained onto the scan — shingle arrays,
md5 minhash hashing, pandas-UDF parses — runs on a single core no
matter how many the session has.  At production scale inputs span many
files and this never fires; the guard is the input's *planned*
partition count, not a constant, so the same code is a no-op on a real
corpus (guide §2: scale-adaptive partitioning, derived from the input,
not tuned to local core counts).

``spread`` is semantically the identity: a round-robin repartition
only changes row placement, never values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def barrier(df: DataFrame, *key_cols: str) -> DataFrame:
    """Materialization barrier with a parallelism floor: an explicit
    hash repartition on ``key_cols`` sized to the session's default
    parallelism.  Used where a subtree feeds several plan branches
    (ReusedExchange) — a plain ``repartition(cols)`` barrier would be
    AQE-coalesced BY BYTES down to one post-shuffle partition on
    small-byte/high-CPU intermediates, serializing every operator
    between the barrier and the next exchange (windows, explodes,
    partial aggregations).  The explicit count keeps those stages on
    all cores; it scales with defaultParallelism (the cores), not a
    constant."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *key_cols)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of ``df`` up to the session's default
    parallelism iff its planned partition count is below it; otherwise
    return it unchanged.

    Round-robin, not hash on a key: no caller groups by a key right
    after ``spread``, and a hash exchange here would leave the data
    already partitioned the way a later ``barrier`` on the same key and
    count asks for, so Spark would drop that barrier's exchange as
    redundant and every branch reading it would recompute the subtree.

    A streaming frame is returned unchanged: the partition count comes
    from ``df.rdd.getNumPartitions()``, which plans the frame physically
    and raises on a streaming frame."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    # explicit partition COUNT (REPARTITION_BY_NUM): AQE's
    # coalescePartitions sizes post-shuffle partitions by BYTES
    # (advisoryPartitionSizeInBytes) and would merge a small-byte /
    # high-CPU input right back into one partition; Spark honours a
    # user-specified count and skips coalescing for it.
    return df.repartition(target)
