"""Review queue (A5) + priority/pagination ordering (O6).

Batch analogue of the reference's review/queue.py: routing policy,
(priority, tiebreak) ordering with OFFSET/LIMIT pagination, and the
group-by stats rollup — plus parity between the exact-integer scoring
ladder (oracle surface) and the production double ladder.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from universal_pdf_extractor_spark.io.review import (
    pending_reviews,
    review_queue_stats,
    route_to_review,
)
from universal_pdf_extractor_spark.stages.score import (
    conversations_table,
    score_records_exact,
)


@pytest.fixture(scope="module")
def conv_frame(spark):
    rows = [
        # conv_id, validation_status, final_status, gates
        ("c01", "PASS", "COMPLETED", []),
        ("c02", "PASS_WITH_WARNINGS", "COMPLETED", []),
        ("c03", "NEEDS_REVIEW", "NEEDS_REVIEW", []),
        ("c04", "FAIL", "NEEDS_REVIEW", ["HARD_GATE_LOW_RECONCILIATION"]),
        ("c05", "FAIL", "NEEDS_REVIEW",
         ["HARD_GATE_ALL_DIRECTIONS_UNKNOWN",
          "HARD_GATE_LOW_RECONCILIATION"]),
        ("c06", "NEEDS_REVIEW", "NEEDS_REVIEW",
         ["HARD_GATE_BALANCE_MISMATCH_7.00"]),
        ("c07", "FAIL", "NEEDS_REVIEW", []),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, validation_status string, "
              "final_status string, hard_gate_failures array<string>")


class TestRouting:
    def test_completed_not_routed(self, conv_frame):
        items = route_to_review(conv_frame).toPandas()
        assert sorted(items["conv_id"]) == ["c03", "c04", "c05", "c06", "c07"]
        assert (items["status"] == "PENDING").all()

    def test_reason_is_first_gate_or_low_confidence(self, conv_frame):
        items = route_to_review(conv_frame).toPandas().set_index("conv_id")
        assert items.loc["c03", "reason"] == "LOW_CONFIDENCE"
        assert items.loc["c04", "reason"] == "HARD_GATE_LOW_RECONCILIATION"
        # first element of the gate array, scorer severity order
        assert items.loc["c05", "reason"] == "HARD_GATE_ALL_DIRECTIONS_UNKNOWN"
        assert items.loc["c06", "reason"] == "HARD_GATE_BALANCE_MISMATCH_7.00"

    def test_priority_mapping(self, conv_frame):
        items = route_to_review(conv_frame).toPandas().set_index("conv_id")
        assert items.loc["c03", "priority"] == 3     # NEEDS_REVIEW first
        assert items.loc["c06", "priority"] == 3
        assert items.loc["c04", "priority"] == 5     # FAIL = default 5
        assert (items["reason_details"]
                == items["validation_status"]).all()


class TestPagination:
    def test_order_and_rank(self, conv_frame):
        page = pending_reviews(route_to_review(conv_frame),
                               limit=10, offset=0).toPandas()
        # priority ascending, then conv_id: c03,c06 (3) before 5s
        assert list(page["conv_id"]) == ["c03", "c06", "c04", "c05", "c07"]
        assert list(page["rank"]) == [1, 2, 3, 4, 5]

    def test_offset_limit_window(self, conv_frame):
        page = pending_reviews(route_to_review(conv_frame),
                               limit=2, offset=1).toPandas()
        assert list(page["conv_id"]) == ["c06", "c04"]
        assert list(page["rank"]) == [2, 3]

    def test_offset_past_end_is_empty(self, conv_frame):
        page = pending_reviews(route_to_review(conv_frame),
                               limit=10, offset=99)
        assert page.count() == 0

    def test_plan_is_distributed_topk(self, conv_frame):
        """queue.py:63-66's ORDER BY + OFFSET/LIMIT must plan as a
        top-k (TakeOrderedAndProject), never a global sort of the
        full queue."""
        plan = (pending_reviews(route_to_review(conv_frame),
                                limit=5, offset=2)
                ._jdf.queryExecution().executedPlan().toString())
        assert "TakeOrderedAndProject" in plan


class TestStats:
    def test_rollup_counts(self, conv_frame):
        stats = review_queue_stats(route_to_review(conv_frame)).toPandas()
        assert int(stats["n_items"].sum()) == 5
        by_status = stats.groupby("validation_status")["n_items"].sum()
        assert by_status["NEEDS_REVIEW"] == 2
        assert by_status["FAIL"] == 3

    def test_rollup_includes_n_records_when_present(self, conv_frame):
        items = route_to_review(
            conv_frame.withColumn("n_records", F.lit(4)))
        stats = review_queue_stats(items).toPandas()
        assert int(stats["n_records"].sum()) == 20


class TestExactLadderParity:
    """score_records_exact (the oracle-checked integer ladder) must
    agree with the production double ladder (conversations_table) on
    statuses, gates, and the scaled document score."""

    @pytest.fixture(scope="class")
    def record_frame(self, spark):
        # synthetic fallback-tier records sweeping the gate/warning
        # space: tier constants only (the lossless-bp precondition)
        tiers = {"delim_table": (0.82, 0.82, 0.90),
                 "row_pattern": (0.75, 0.75, 0.85)}
        rows = []
        specs = [  # conv, tier, n, n_unknown, n_dateless
            ("k01", "delim_table", 3, 0, 0),      # small, clean
            ("k02", "delim_table", 9, 0, 0),      # n>5 -> recon gate
            ("k03", "row_pattern", 4, 4, 0),      # all unknown
            ("k04", "row_pattern", 2, 1, 2),      # partial unknown + dateless
            ("k05", "delim_table", 5, 0, 5),      # all dateless (date warn)
            ("k06", "row_pattern", 7, 3, 1),      # gates + warnings mix
        ]
        from decimal import Decimal
        for conv, tier, n, unk, undated in specs:
            amt, dhi, dirhi = tiers[tier]
            for i in range(n):
                rows.append((conv, tier, amt,
                             dhi if i >= undated else 0.30,
                             dirhi if i >= unk else 0.40,
                             "UNKNOWN" if i < unk else "DEBIT", False,
                             Decimal(f"{10 + i}.50"), 0,
                             None, None, False))
        return spark.createDataFrame(
            rows, "conv_id string, direction_source string, "
                  "confidence_amount double, confidence_date double, "
                  "confidence_direction double, direction string, "
                  "balance_confirmed boolean, amount decimal(15,2), "
                  "segment_index int, "
                  "segment_opening_balance decimal(15,2), "
                  "segment_closing_balance decimal(15,2), "
                  "segment_closing_distinct boolean")

    def test_statuses_and_gates_match_double_ladder(self, spark, record_frame):
        exact = (score_records_exact(record_frame)
                 .toPandas().set_index("conv_id").sort_index())
        conv_meta = record_frame.select("conv_id").distinct().select(
            "conv_id",
            F.lit("bank_statement").alias("doc_family"),
            F.lit(0.9).alias("doc_family_confidence"),
            F.lit("x").alias("provider"), F.lit(0.5).alias("provider_confidence"),
            F.lit("GBP").alias("currency"),
            F.lit(None).cast("string").alias("account_holder_name"),
            F.lit(None).cast("string").alias("account_holder_address"),
            F.lit(None).cast("string").alias("account_holder_postcode"),
            F.lit(1).alias("n_segments"))
        prod = (conversations_table(conv_meta, record_frame)
                .toPandas().set_index("conv_id").sort_index())
        assert list(exact.index) == list(prod.index)
        for conv in exact.index:
            assert exact.loc[conv, "validation_status"] \
                == prod.loc[conv, "validation_status"], conv
            assert exact.loc[conv, "final_status"] \
                == prod.loc[conv, "final_status"], conv
            assert list(exact.loc[conv, "hard_gate_failures"]) \
                == [g for g in prod.loc[conv, "hard_gate_failures"]
                    if "BALANCE_MISMATCH" not in g], conv
            # floor-micros of the unrounded weighted score vs the
            # 4dp-rounded double: within a half-unit of the rounding
            assert abs(exact.loc[conv, "confidence_micros"]
                       - prod.loc[conv, "document_confidence"] * 1e6) <= 100, conv

    def test_expected_statuses(self, record_frame):
        exact = (score_records_exact(record_frame)
                 .toPandas().set_index("conv_id"))
        assert exact.loc["k02", "hard_gate_failures"].tolist() \
            == ["HARD_GATE_LOW_RECONCILIATION"]
        # k03: all-unknown fires; n=4 is under the recon gate's n>5
        assert exact.loc["k03", "hard_gate_failures"].tolist() \
            == ["HARD_GATE_ALL_DIRECTIONS_UNKNOWN"]
        # k06: n=7>5 with zero reconciliation -> both gates, scorer order
        assert exact.loc["k06", "hard_gate_failures"].tolist() \
            == ["HARD_GATE_LOW_RECONCILIATION"]
        # all fallback-tier convs score below the 0.50 FAIL floor
        # (recon contribution is zero) -> everything is routed
        assert (exact["final_status"] == "NEEDS_REVIEW").all()
        assert (exact["validation_status"] == "FAIL").all()
