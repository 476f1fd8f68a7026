"""Stage 5 — conversation rollup: confidence scoring, hard gates,
warnings, statuses.

Native aggregations only.  Parity with the reference scorer
(confidence_scorer.py:26-148) applied at conversation level:

  document_confidence = round(0.35*recon + 0.25*mean_balance_conf
                            + 0.20*mean_direction + 0.10*mean_amount
                            + 0.10*mean_date, 4)
  with confidence_balance := 0.8 if balance_confirmed else 0.0
  (orchestrator.py:398).

Hard gates (confidence_scorer.py:72-110, Decision D-006) and warnings
(:112-121) are evaluated as native when()/sum() aggregates and emitted
as array<string> columns; gate-driven status overrides follow
confidence_scorer.py:123-133 exactly (BALANCE_MISMATCH -> NEEDS_REVIEW,
any other gate -> FAIL, else thresholds with PASS requiring zero
warnings).  Note the reference *orchestrator* integration
(orchestrator.py:391-417) drops the scorer's gates by passing
transaction dicts without direction/amount/balances and re-deriving
status from thresholds alone; this engine feeds the scorer its full
inputs, as the scorer API specifies — the stricter, safer contract.

final_status: COMPLETED iff validation_status is PASS or
PASS_WITH_WARNINGS (orchestrator.py:406-417 collapsed over the gate-
aware statuses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.classify import (
    CONFIDENCE_FAIL_THRESHOLD,
    CONFIDENCE_PASS_THRESHOLD,
    CONFIDENCE_WARN_THRESHOLD,
    DOCUMENT_WEIGHTS,
)


def conversations_table(conv_meta: DataFrame, records: DataFrame) -> DataFrame:
    """classification rollup x record aggregates -> conversations.

    ``records`` is the records-stage frame (extract.py), whose rows
    carry their segment's opening/closing markers: the mismatch gate's
    conversation balances are the first record-bearing segment's
    opening and the last record-bearing segment's closing — the latter
    only when flagged distinct (a first==last single-marker segment is
    not independent closing evidence).  ``conv_meta`` carries the
    classification columns plus ``n_segments``.
    """
    agg = records.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("row_count"),
        F.avg(F.col("confidence_amount").cast("double")).alias("_mean_amount"),
        F.avg(F.col("confidence_direction").cast("double")).alias("_mean_direction"),
        F.avg(F.col("confidence_date").cast("double")).alias("_mean_date"),
        F.avg(F.when(F.col("balance_confirmed"), F.lit(0.8)).otherwise(F.lit(0.0))).alias("_mean_balance"),
        F.avg(F.col("balance_confirmed").cast("double")).alias("_recon_rate"),
        F.sum(F.when(F.col("direction") == "UNKNOWN", 1).otherwise(0))
         .cast("int").alias("_unknown_count"),
        F.coalesce(F.sum(F.when((F.col("direction") == "DEBIT")
                                & F.col("amount").isNotNull(),
                                F.abs(F.col("amount")))),
                   F.lit(0).cast("decimal(15,2)")).alias("_total_debits"),
        F.coalesce(F.sum(F.when((F.col("direction") == "CREDIT")
                                & F.col("amount").isNotNull(),
                                F.abs(F.col("amount")))),
                   F.lit(0).cast("decimal(15,2)")).alias("_total_credits"),
        (F.max("segment_index") + 1).cast("int").alias("_n_rec_segments"),
        F.min_by("segment_opening_balance", "segment_index").alias("_opening"),
        F.when(F.max_by("segment_closing_distinct", "segment_index"),
               F.max_by("segment_closing_balance", "segment_index"))
         .alias("_closing"),
    )

    df = conv_meta.join(agg, "conv_id", "left")
    df = df.fillna({"row_count": 0, "_mean_amount": 0.0, "_mean_direction": 0.0,
                    "_mean_date": 0.0, "_mean_balance": 0.0, "_recon_rate": 0.0,
                    "_unknown_count": 0})

    weighted = (
        F.lit(DOCUMENT_WEIGHTS["reconciliation_rate"]) * F.col("_recon_rate")
        + F.lit(DOCUMENT_WEIGHTS["mean_balance_confidence"]) * F.col("_mean_balance")
        + F.lit(DOCUMENT_WEIGHTS["mean_direction_confidence"]) * F.col("_mean_direction")
        + F.lit(DOCUMENT_WEIGHTS["mean_amount_confidence"]) * F.col("_mean_amount")
        + F.lit(DOCUMENT_WEIGHTS["mean_date_confidence"]) * F.col("_mean_date")
    )
    # thresholds compare the UNROUNDED score (confidence_scorer.py:123-133
    # uses `weighted`, not the rounded output value)
    df = df.withColumn("_weighted", weighted)
    df = df.withColumn("document_confidence", F.round(weighted, 4))
    df = df.withColumn("reconciliation_rate", F.round(F.col("_recon_rate"), 4))

    n = F.col("row_count")
    has_rows = n > 0
    # expected closing = opening + credits - debits (confidence_scorer.py:95-110)
    balance_diff = F.abs(F.col("_opening") + F.col("_total_credits")
                         - F.col("_total_debits") - F.col("_closing"))
    gates = F.filter(F.array(
        F.when(~has_rows, F.lit("NO_TRANSACTIONS")),
        F.when(has_rows & (F.col("_unknown_count") == n),
               F.lit("HARD_GATE_ALL_DIRECTIONS_UNKNOWN")),
        F.when(has_rows & (F.col("_recon_rate") < 0.5) & (n > 5),
               F.lit("HARD_GATE_LOW_RECONCILIATION")),
        F.when(has_rows & (F.col("_mean_amount") < 0.5),
               F.lit("HARD_GATE_LOW_AMOUNT_CONFIDENCE")),
        F.when(has_rows & F.col("_opening").isNotNull()
               & F.col("_closing").isNotNull()
               & (balance_diff > F.lit("5.00").cast("decimal(15,2)")),
               F.concat(F.lit("HARD_GATE_BALANCE_MISMATCH_"),
                        balance_diff.cast("decimal(15,2)").cast("string"))),
    ), lambda x: x.isNotNull())
    warns = F.filter(F.array(
        F.when(has_rows & (F.col("_unknown_count") > 0)
               & (F.col("_unknown_count") < n),
               F.concat(F.lit("WARN_"), F.col("_unknown_count").cast("string"),
                        F.lit("_UNKNOWN_DIRECTIONS"))),
        F.when(has_rows & (F.col("_mean_date") < 0.7),
               F.lit("WARN_LOW_DATE_CONFIDENCE")),
        F.when(has_rows & (F.col("_recon_rate") >= 0.5)
               & (F.col("_recon_rate") < 0.8),
               F.lit("WARN_MODERATE_RECONCILIATION")),
    ), lambda x: x.isNotNull())
    df = df.withColumn("hard_gate_failures", gates).withColumn("warnings", warns)

    c = F.col("_weighted")
    has_gates = F.size("hard_gate_failures") > 0
    balance_gate = F.exists("hard_gate_failures",
                            lambda g: g.contains("BALANCE_MISMATCH"))
    df = df.withColumn(
        "validation_status",
        F.when(has_gates & balance_gate, "NEEDS_REVIEW")
         .when(has_gates, "FAIL")
         .when((c >= CONFIDENCE_PASS_THRESHOLD) & (F.size("warnings") == 0), "PASS")
         .when(c >= CONFIDENCE_WARN_THRESHOLD, "PASS_WITH_WARNINGS")
         .when(c >= CONFIDENCE_FAIL_THRESHOLD, "NEEDS_REVIEW")
         .otherwise("FAIL"),
    ).withColumn(
        "final_status",
        F.when(F.col("validation_status").isin("PASS", "PASS_WITH_WARNINGS"),
               "COMPLETED").otherwise("NEEDS_REVIEW"),
    )
    return df.select(
        "conv_id", "doc_family", "doc_family_confidence",
        "provider", "provider_confidence", "currency",
        "account_holder_name", "account_holder_address", "account_holder_postcode",
        "document_confidence", "reconciliation_rate",
        "validation_status", "final_status",
        "hard_gate_failures", "warnings", "row_count", "n_segments",
    )


def score_records_exact(records: DataFrame) -> DataFrame:
    """The same scoring ladder as ``conversations_table`` re-expressed
    in EXACT BIGINT arithmetic, for oracle-checked surfaces (the
    review queue): per-record confidences become basis points, the
    weighted document score becomes floor-micros

        confidence_micros = (550000*n_reconciled + 10*M) DIV n,
        M = sum(2*dir_bp + amt_bp + date_bp)

    (0.35*recon + 0.25*mean_balance with mean_balance = 0.8*recon
    collapses to 0.55*recon, orchestrator.py:398; the 0.20/0.10/0.10
    weights scale the bp sums by 2/1/1), and every gate / warning /
    threshold test is an integer comparison — floor preserves ``>=``
    against the integer thresholds 850000/700000/500000.  Intended for
    fallback-tier record slices, where confidences are exact
    hundredths (tier constants, segment_extract.py:497-602) so the bp
    conversion is lossless; convs absent from ``records`` (the
    NO_TRANSACTIONS gate) and the balance-mismatch gate (needs segment
    balances) are out of scope here by construction.  Agreement with
    the double ladder is pytest-gated (tests/test_review.py)."""
    def bp(c: str):
        return F.round(F.col(c) * 10000).cast("long")

    per = records.select(
        "conv_id",
        (2 * bp("confidence_direction") + bp("confidence_amount")
         + bp("confidence_date")).alias("m_bp"),
        bp("confidence_amount").alias("amt_bp"),
        bp("confidence_date").alias("date_bp"),
        (F.col("direction") == "UNKNOWN").cast("long").alias("unk"),
        F.col("balance_confirmed").cast("long").alias("recon"))
    agg = per.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.sum("unk").alias("n_unknown"),
        F.sum("recon").alias("_n_recon"),
        F.sum("m_bp").alias("_m"),
        F.sum("amt_bp").alias("_s_amt"),
        F.sum("date_bp").alias("_s_date"))
    n, unk, nr = F.col("n_records"), F.col("n_unknown"), F.col("_n_recon")
    scored = agg.withColumn(
        "confidence_micros",
        F.expr("(550000 * _n_recon + 10 * _m) DIV n_records").cast("long"))
    gates = F.filter(F.array(
        F.when(unk == n, F.lit("HARD_GATE_ALL_DIRECTIONS_UNKNOWN")),
        F.when((2 * nr < n) & (n > 5), F.lit("HARD_GATE_LOW_RECONCILIATION")),
        F.when(F.col("_s_amt") < 5000 * n,
               F.lit("HARD_GATE_LOW_AMOUNT_CONFIDENCE")),
    ), lambda x: x.isNotNull())
    scored = scored.withColumn("hard_gate_failures", gates)
    has_warn = (((unk > 0) & (unk < n))
                | (F.col("_s_date") < 7000 * n)
                | ((2 * nr >= n) & (5 * nr < 4 * n)))
    c = F.col("confidence_micros")
    scored = scored.withColumn(
        "validation_status",
        F.when(F.size("hard_gate_failures") > 0, "FAIL")
         .when((c >= 850000) & ~has_warn, "PASS")
         .when(c >= 700000, "PASS_WITH_WARNINGS")
         .when(c >= 500000, "NEEDS_REVIEW")
         .otherwise("FAIL"))
    scored = scored.withColumn(
        "final_status",
        F.when(F.col("validation_status").isin("PASS", "PASS_WITH_WARNINGS"),
               "COMPLETED").otherwise("NEEDS_REVIEW"))
    return scored.select("conv_id", "n_records", "n_unknown",
                         "confidence_micros", "hard_gate_failures",
                         "validation_status", "final_status")
