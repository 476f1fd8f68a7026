"""Scale-adaptive scan-parallelism floor.

A small single-file parquet input (one row group, well under
``spark.sql.files.maxPartitionBytes``) plans as ONE scan task, so any
expensive narrow computation chained onto the scan — shingle arrays,
md5 minhash folds, pandas-UDF parses — runs on a single core no matter
how many the session has.  At production scale inputs span many files
and this never fires; the guard is the input's *planned* partition
count, not a constant, so the same code is a no-op on a real corpus
(guide §2: scale-adaptive partitioning, derived from the input, not
tuned to local core counts).

``spread`` is semantically the identity: a hash repartition on the
given key columns (or round-robin when none) only changes row
placement, never values.
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
    constant.

    The reuse needs the exchange to survive planning.  Downstream of a
    ``spread`` that fired on the same key, the data is already
    hash-partitioned with this count, Spark drops the barrier's
    exchange as redundant, and each branch recomputes the subtree."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *key_cols)


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism iff
    its planned partition count is below it; otherwise return it
    unchanged.  Key columns make the exchange deterministic (hash) and
    reusable by downstream same-key operations."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    # explicit partition COUNT (REPARTITION_BY_NUM), not just columns:
    # AQE's coalescePartitions sizes post-shuffle partitions by BYTES
    # (advisoryPartitionSizeInBytes) and would merge a small-byte /
    # high-CPU input right back into one partition; Spark honours a
    # user-specified count and skips coalescing for it.
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)
