"""Fallback cascade tiers (orchestrator.py pdfplumber -> tabula ->
camelot analogues) + detected_tables diagnostics.

Tier contract: text-grid (>=2-space cells) first, then delimiter-split
(pipes/semicolons), then token-pattern rows behind the camelot header
gate — each tagged with its own direction_source and confidences.
"""

from __future__ import annotations

import json
from datetime import date

import pytest

from universal_pdf_extractor_spark.kernels.layout import segment_lines
from universal_pdf_extractor_spark.kernels.segment_extract import analyse_segment


def _lines(text: str) -> list[dict]:
    return segment_lines([(0, text)])


PIPE_TABLE = """Date | Description | Amount | Balance
12/01/2024 | TESCO STORES 3141 | -10.00 | 1,190.00
13/01/2024 | SALARY ACME LTD | 250.00 | 1,440.00
 | REFUND AMAZON | 5.00 | 1,445.00
 | Balance carried forward | | 1,445.00"""

SPACE_TABLE = """Date Description Amount Balance
12/01/2024 TESCO STORES -10.00 1,190.00
13 Jan 2024 SALARY ACME LTD 250.00 1,440.00
COSTA COFFEE -4.50 1,435.50
Balance carried forward 1,435.50"""


class TestDelimTier:
    def test_pipe_table_rescued(self):
        r = analyse_segment(_lines(PIPE_TABLE))
        assert r["fallback_used"] is True
        assert r["diagnostics"]["engine"] == "delim_grid"
        assert [str(rec["amount"]) for rec in r["records"]] == [
            "10.00", "250.00", "5.00"]
        assert all(rec["direction_source"] == "delim_table"
                   for rec in r["records"])

    def test_sign_inference_and_balance_roles(self):
        r = analyse_segment(_lines(PIPE_TABLE))
        recs = r["records"]
        assert recs[0]["direction"] == "DEBIT"     # -10.00
        assert recs[1]["direction"] == "CREDIT"    # 250.00
        assert str(recs[1]["running_balance"]) == "1440.00"

    def test_last_date_carry_and_bf_skip(self):
        r = analyse_segment(_lines(PIPE_TABLE))
        recs = r["records"]
        # dateless REFUND row carries the previous row's date (tabula
        # analogue, orchestrator.py:1076-1086)
        assert recs[2]["posted_date"] == date(2024, 1, 13)
        # carried-forward marker row skipped by keyword
        assert all("carried" not in rec["description_raw"].lower()
                   for rec in recs)

    def test_tabula_confidences(self):
        rec = analyse_segment(_lines(PIPE_TABLE))["records"][0]
        assert float(rec["confidence_amount"]) == pytest.approx(0.82)
        assert float(rec["confidence_date"]) == pytest.approx(0.82)
        assert float(rec["confidence_direction"]) == pytest.approx(0.90)
        assert rec["balance_confirmed"] is False

    def test_empty_cells_keep_positions(self):
        # a row with an empty amount cell must not shift the balance
        # into the amount column
        text = ("Date | Paid Out | Paid In | Balance\n"
                "12/01/2024 | 20.00 | | 980.00\n"
                "13/01/2024 | | 50.00 | 1,030.00")
        recs = analyse_segment(_lines(text))["records"]
        assert [(r["direction"], str(r["amount"])) for r in recs] == [
            ("DEBIT", "20.00"), ("CREDIT", "50.00")]


class TestPatternTier:
    def test_single_space_table_rescued(self):
        r = analyse_segment(_lines(SPACE_TABLE))
        assert r["fallback_used"] is True
        assert r["diagnostics"]["engine"] == "row_pattern"
        recs = r["records"]
        assert [str(rec["amount"]) for rec in recs] == ["10.00", "250.00", "4.50"]
        assert all(rec["direction_source"] == "row_pattern" for rec in recs)

    def test_multi_token_date_and_no_carry(self):
        recs = analyse_segment(_lines(SPACE_TABLE))["records"]
        assert recs[1]["posted_date"] == date(2024, 1, 13)
        assert recs[1]["description_raw"] == "SALARY ACME LTD"
        # camelot analogue has NO last-date carry
        assert recs[2]["posted_date"] is None

    def test_camelot_confidences(self):
        recs = analyse_segment(_lines(SPACE_TABLE))["records"]
        assert float(recs[0]["confidence_amount"]) == pytest.approx(0.75)
        assert float(recs[2]["confidence_date"]) == pytest.approx(0.30)

    def test_header_gate_blocks_prose(self):
        # motor-finance-style prose with money tokens but no table
        # header must NOT produce records (the camelot header gate)
        text = ("Hire Purchase Agreement Schedule\n"
                "Total amount payable 18,540.00\n"
                "Optional final payment 6,200.00")
        r = analyse_segment(_lines(text))
        assert r["records"] == []
        assert r["diagnostics"]["engine"] == "none"

    def test_evidence_spans_point_into_text(self):
        recs = analyse_segment(_lines(SPACE_TABLE))["records"]
        ev = {e["field"]: e for e in recs[0]["evidence"]}
        assert SPACE_TABLE[ev["amount"]["start"]:ev["amount"]["end"]] == "-10.00"
        assert SPACE_TABLE[ev["date"]["start"]:ev["date"]["end"]] == "12/01/2024"


class TestTierOrdering:
    def test_grid_tier_wins_when_both_parse(self):
        # >=2-space gaps AND pipes: the grid tier runs first
        text = ("Date          Description         Amount\n"
                "12/01/2024    TESCO|STORES        10.00\n"
                "13/01/2024    COSTA|COFFEE        4.50")
        r = analyse_segment(_lines(text))
        if r["records"]:  # grid header maps -> tier 1 output
            assert r["records"][0]["direction_source"] in (
                "text_grid_table",)


class TestDiagnostics:
    def test_column_histogram_diagnostics(self):
        # fixed-width statement from the corpus generator hits the
        # main histogram path with full geometry diagnostics
        from universal_pdf_extractor_spark.io.fixtures import conversation_payload
        seg_lines = segment_lines((t["turn_idx"], t["text"] or t["tool"])
                                  for t in conversation_payload(0))
        d = analyse_segment(seg_lines)["diagnostics"]
        assert d["engine"] == "column_histogram"
        assert d["table_type"] == "TRANSACTION_TABLE"
        assert d["column_count"] >= 3
        assert d["bbox"] and all(0.0 <= c["x_start"] <= 1.0 for c in d["bbox"])
        assert d["column_mapping"]  # roles assigned
        json.dumps(d["bbox"])  # JSON-serializable

    def test_fallback_diagnostics(self):
        d = analyse_segment(_lines(PIPE_TABLE))["diagnostics"]
        assert d["engine"] == "delim_grid"
        assert d["row_count"] == 3
        assert d["column_count"] == 4
        assert d["column_mapping"]["date_col"] == 0


@pytest.mark.usefixtures("spark")
class TestDetectedTablesStage:
    def test_stage_output(self, spark):
        from universal_pdf_extractor_spark.io.fixtures import transcripts_sdf
        from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

        out = run_pipeline(transcripts_sdf(spark, 40, partitions=4))
        diag = out["detected_tables"].collect()
        segs = {(r["conv_id"], r["segment_index"]): r
                for r in out["segments"].collect()}
        assert len(diag) == len(segs)  # one diagnostics row per segment
        engines = {r["engine"] for r in diag}
        assert "column_histogram" in engines
        assert "delim_grid" in engines      # conv 7 and 30 are pipes-style
        assert "row_pattern" in engines     # conv 15 and 38 are spaces-style
        # row_count agrees with the records the extraction produced
        for r in diag:
            assert r["row_count"] == segs[(r["conv_id"], r["segment_index"])]["n_records"]
        # json columns parse
        for r in diag:
            if r["bbox_json"] is not None:
                json.loads(r["bbox_json"])

    def test_records_direction_sources(self, spark):
        from universal_pdf_extractor_spark.io.fixtures import transcripts_sdf
        from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

        out = run_pipeline(transcripts_sdf(spark, 40, partitions=4))
        sources = {r["direction_source"]
                   for r in out["records"].select("direction_source")
                   .distinct().collect()}
        assert "delim_table" in sources
        assert "row_pattern" in sources
