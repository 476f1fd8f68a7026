"""Review-queue management (A5) + priority/pagination ordering (O6).

Batch analogue of the reference's review queue (review/queue.py):

  - ``route_to_review`` (queue.py:20-52): inserts one PENDING item per
    routed document with (reason, reason_details, priority).  Here the
    routing POLICY is made explicit and deterministic: a conversation
    is routed iff its ``final_status`` is not COMPLETED
    (orchestrator.py:406-417 — everything that is not
    PASS/PASS_WITH_WARNINGS needs a human), ``reason`` is the first
    hard-gate failure (the scorer emits gates in severity order,
    confidence_scorer.py:72-110) or LOW_CONFIDENCE when the thresholds
    alone demoted the document, ``reason_details`` carries the
    validation_status, and ``priority`` maps NEEDS_REVIEW -> 3
    (recoverable, review first) / FAIL -> 5 (the reference's default
    insert priority, queue.py:27).
  - ``pending_reviews`` (queue.py:55-69): PENDING items ordered by
    (priority, created_at) with OFFSET/LIMIT pagination.  The batch
    engine has no wall-clock insert order, so the deterministic
    tiebreak is conv_id; pagination is expressed as a distributed
    top-(offset+limit) (Spark plans ``orderBy().limit()`` as
    TakeOrderedAndProject — no global single-partition sort even at
    10^12 rows) followed by ranking of that tiny prefix.
  - ``review_queue_stats`` (queue.py:72-88): GROUP BY rollup of the
    queue.  The reference groups by mutable human-workflow status; a
    freshly-built batch queue is uniformly PENDING, so the rollup
    groups by (status, reason, validation_status, priority) to stay
    informative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

PENDING = "PENDING"            # ReviewStatus.PENDING (models/enums.py:47-51)
PRIORITY_NEEDS_REVIEW = 3
PRIORITY_DEFAULT = 5           # queue.py:27 insert default


def route_to_review(conversations: DataFrame) -> DataFrame:
    """Build review-queue items from a scored conversations frame.

    Expects columns: conv_id, validation_status, final_status,
    hard_gate_failures (array<string>); every other column is carried
    through.  Narrow (no shuffle): filter + projections only.
    """
    routed = conversations.where(F.col("final_status") != "COMPLETED")
    return (routed
            .withColumn("status", F.lit(PENDING))
            .withColumn("reason",
                        F.coalesce(
                            F.try_element_at("hard_gate_failures", F.lit(1)),
                            F.lit("LOW_CONFIDENCE")))
            .withColumn("reason_details", F.col("validation_status"))
            .withColumn(
                "priority",
                F.when(F.col("validation_status") == "NEEDS_REVIEW",
                       F.lit(PRIORITY_NEEDS_REVIEW))
                 .otherwise(F.lit(PRIORITY_DEFAULT)).cast("int")))


def pending_reviews(items: DataFrame, limit: int = 50,
                    offset: int = 0) -> DataFrame:
    """PENDING items ordered by (priority, conv_id), paginated
    (queue.py:55-69).  Emits a 1-based ``rank`` column (global queue
    position) with rows offset < rank <= offset + limit.

    Scale shape: ``orderBy().limit(offset+limit)`` is a distributed
    top-k (TakeOrderedAndProject) — each partition keeps at most
    offset+limit candidates, the driver merges; the subsequent
    row_number window runs on that <=offset+limit-row prefix only.
    """
    keys = [F.col("priority").asc(), F.col("conv_id").asc()]
    prefix = (items.where(F.col("status") == PENDING)
              .orderBy(*keys).limit(offset + limit))
    w = Window.orderBy(*keys)
    return (prefix.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") > offset))


def review_queue_stats(items: DataFrame) -> DataFrame:
    """Queue rollup (queue.py:72-88): item counts (and total records
    behind them, when present) per (status, reason, validation_status,
    priority) — one partial-agg shuffle."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_items")]
    if "n_records" in items.columns:
        aggs.append(F.sum("n_records").cast("long").alias("n_records"))
    return (items.groupBy("status", "reason",
                          F.col("reason_details").alias("validation_status"),
                          "priority")
            .agg(*aggs))
