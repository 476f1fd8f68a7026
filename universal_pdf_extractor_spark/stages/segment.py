"""Stage 2 — segment-boundary detection (one window).

Parity with app/pipeline/segmenter.py:49-96: per turn, the top-15%
band text is scored 1.0 per strong signal group (statement period /
opening balance / account header) + 0.4 for a page-1 reset; a turn is
a boundary when score >= 0.8, and the first turn of a conversation is
always one.  segment_index is then a running count of boundaries —
the reference's boundary->range conversion (segmenter.py:99-119)
expressed as a cumulative-sum window instead of a range join
(SURVEY.md §2.8 J2).

The score itself arrives with the turn: the tokenize stage's Arrow
UDF computes it with kernels.classify.boundary_score, in the same
pass that builds the top-band text.  This stage only adds the window,
whose hash exchange on conv_id the downstream per-conversation
grouped stages reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.classify import BOUNDARY_THRESHOLD


def segment_stage(turns: DataFrame) -> DataFrame:
    """turns (with boundary_score) -> + (is_boundary,
    boundary_confidence, segment_index)."""
    w_order = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_running = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    df = turns.withColumn("_pos", F.row_number().over(w_order))
    df = df.withColumn(
        "is_boundary",
        (F.col("_pos") == 1) | (F.col("boundary_score") >= F.lit(BOUNDARY_THRESHOLD)),
    )
    df = df.withColumn(
        "boundary_confidence",
        F.when(F.col("_pos") == 1, F.lit(1.0))
         .when(F.col("is_boundary"), F.least(F.col("boundary_score") / 2.0, F.lit(1.0)))
         .otherwise(F.lit(None).cast("double")),
    )
    df = df.withColumn(
        "segment_index",
        (F.sum(F.col("is_boundary").cast("int")).over(w_running) - F.lit(1)).cast("int"),
    )
    return df.drop("_pos")
