"""Column detection, row reconstruction, semantic mapping, and the
full per-segment analysis chain on a synthetic statement page."""

import copy
from decimal import Decimal

import numpy as np

from universal_pdf_extractor_spark.kernels.columns import (
    assign_line_to_cells,
    assign_token_to_column,
    detect_columns,
)
from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.kernels.layout import segment_lines, tokenize_turn
from universal_pdf_extractor_spark.kernels.peaks import (
    find_peaks_simple,
    gaussian_smooth_1d,
    local_maxima_plateau_mid,
)
from universal_pdf_extractor_spark.kernels.rows import (
    detect_header_line,
    extract_header_texts,
    reconstruct_rows,
)
from universal_pdf_extractor_spark.kernels.segment_extract import analyse_segment
from universal_pdf_extractor_spark.kernels.semantic import assign_column_roles

# Fixed-width synthetic statement: 4 whitespace-gap columns, enough
# rows that column peaks clear the absolute height floor of 2.0
# (table_extractor.py:142 — max(len(lines)*occupancy, 2.0)).
_ROWS = [
    ("02/01/2024", "TESCO STORES 3141", "50.00", "950.00"),
    ("03/01/2024", "SALARY ACME LTD", "200.00", "1150.00"),
    ("04/01/2024", "COFFEE SHOP", "75.25", "1074.75"),
    ("05/01/2024", "REFUND AMAZON", "25.00", "1099.75"),
    ("06/01/2024", "DIRECT DEBIT GYM", "30.00", "1069.75"),
    ("07/01/2024", "CARD PAYMENT 9921", "10.50", "1059.25"),
    ("08/01/2024", "GROCERY MART", "12.00", "1047.25"),
    ("09/01/2024", "BOOK SHOP", "8.99", "1038.26"),
    ("10/01/2024", "TRANSFER IN", "100.00", "1138.26"),
    ("11/01/2024", "PHONE BILL", "35.00", "1103.26"),
    ("12/01/2024", "STREAMING SVC", "9.99", "1093.27"),
    ("13/01/2024", "PETROL STATION", "40.00", "1053.27"),
]
PAGE = "\n".join(
    ["Date          Description                               Amount        Balance",
     "01/01/2024    OPENING BALANCE B/F                                     1000.00"]
    + [f"{d}    {desc:<38}{amt:>10}{bal:>15}" for d, desc, amt, bal in _ROWS]
)


def _lines():
    _, lines = tokenize_turn(PAGE)
    return lines


def test_peak_finder_basics():
    x = np.zeros(50)
    x[10] = 10.0
    x[30] = 8.0
    x[32] = 7.0  # within distance 4 of 30 -> pruned
    peaks = find_peaks_simple(x, height=1.0, distance=4)
    assert list(peaks) == [10, 30]


def test_plateau_midpoint():
    x = np.array([0, 1, 3, 3, 3, 1, 0], dtype=float)
    assert list(local_maxima_plateau_mid(x)) == [3]


def test_gaussian_smooth_preserves_mass():
    x = np.random.RandomState(0).poisson(3, 120).astype(float)
    sm = gaussian_smooth_1d(x, sigma=1.5)
    assert sm.shape == x.shape
    assert abs(sm.sum() - x.sum()) / x.sum() < 0.05  # reflect-pad edge loss only


def test_detect_columns_four_bands():
    columns = detect_columns(_lines())
    assert len(columns) >= 3
    assert columns[0]["x_start"] == 0.0
    # bands are ordered and non-overlapping
    for a, b in zip(columns, columns[1:]):
        assert a["x_end"] <= b["x_end"]
        assert a["x_start"] < b["x_start"]


def test_token_assignment_roundtrip():
    lines = _lines()
    columns = detect_columns(lines)
    cells = assign_line_to_cells(lines[2], columns)
    texts = {c["column_index"]: c["text"] for c in cells}
    assert any("02/01/2024" in t for t in texts.values())
    assert any("TESCO" in t for t in texts.values())


def test_header_detection_and_roles():
    lines = _lines()
    columns = detect_columns(lines)
    header_idx = detect_header_line(lines)
    assert header_idx == 0
    header_texts = extract_header_texts(lines[header_idx], columns)
    body = lines[1:]
    prelim = reconstruct_rows(body, columns, 0,
                              [c["column_index"] for c in columns if c["column_index"] > 0])
    roles = assign_column_roles(columns, header_texts, prelim)
    vals = set(roles.values())
    assert "DATE" in vals
    assert "SINGLE_AMOUNT" in vals
    assert "BALANCE" in vals


def test_reconstruct_rows_balance_marker():
    lines = _lines()
    columns = detect_columns(lines)
    rows = reconstruct_rows(lines[1:], columns, 0,
                            [c["column_index"] for c in columns if c["column_index"] > 0])
    markers = [r for r in rows if r["is_balance_marker"]]
    assert len(markers) == 1
    assert "B/F" in markers[0]["raw_text"]
    assert len([r for r in rows if not r["is_balance_marker"]]) == len(_ROWS)


def _role_row(date_s, *vals):
    cells = [{"column_index": 0, "text": date_s}]
    cells += [{"column_index": i + 1, "text": v} for i, v in enumerate(vals)]
    return {"is_balance_marker": False, "cells": cells, "raw_text": date_s}


_ROLE_COLS = [
    {"column_index": 0, "x_start": 0.00, "x_end": 0.20, "role": "UNKNOWN"},
    {"column_index": 1, "x_start": 0.40, "x_end": 0.60, "role": "UNKNOWN"},
    {"column_index": 2, "x_start": 0.75, "x_end": 1.00, "role": "UNKNOWN"},
]


def test_pass25_promotes_chain_consistent_balance():
    """Headerless amount+balance: the rightmost SINGLE_AMOUNT chains
    with the other column's deltas -> promoted to BALANCE."""
    rows = [
        _role_row("02/01/2024", "50.00", "950.00"),
        _role_row("03/01/2024", "200.00", "1150.00"),
        _role_row("04/01/2024", "75.00", "1075.00"),
        _role_row("05/01/2024", "125.00", "1200.00"),
    ]
    roles = assign_column_roles([dict(c) for c in _ROLE_COLS], None, rows)
    assert roles[2] == "BALANCE"
    assert roles[1] == "SINGLE_AMOUNT"


def test_pass25_keeps_two_amounts_without_chain_evidence():
    """Headerless two-amount layout (e.g. amount + fee, no balance):
    the rightmost column neither chains nor dominates in magnitude ->
    NOT reclassified as a balance (ADVICE round-3 finding)."""
    rows = [
        _role_row("02/01/2024", "50.00", "1.50"),
        _role_row("03/01/2024", "200.00", "2.00"),
        _role_row("04/01/2024", "75.00", "1.75"),
        _role_row("05/01/2024", "125.00", "3.00"),
    ]
    roles = assign_column_roles([dict(c) for c in _ROLE_COLS], None, rows)
    assert roles[1] == "SINGLE_AMOUNT"
    assert roles[2] == "SINGLE_AMOUNT"


def test_pass245_lone_stats_balance_demoted():
    """A stats-assigned BALANCE with no amount column routes the
    solver nowhere and drops every amount — demote to SINGLE_AMOUNT.
    Monotone-looking signed amounts (mostly debits) can clear the
    sign-change threshold by chance."""
    rows = [
        _role_row("02/01/2024", "-50.00"),
        _role_row("03/01/2024", "-60.00"),
        _role_row("04/01/2024", "-75.00"),
        _role_row("05/01/2024", "-80.00"),
        _role_row("06/01/2024", "-95.00"),
    ]
    cols = [dict(c) for c in _ROLE_COLS[:2]]
    roles = assign_column_roles(cols, None, rows)
    assert roles[1] == "SINGLE_AMOUNT"


def test_header_assigned_balance_not_demoted():
    """Header-assigned BALANCE stays even when no amount column maps
    (reference pass-1 semantics)."""
    cols = [dict(c) for c in _ROLE_COLS[:2]]
    roles = assign_column_roles(cols, ["Date", "Balance"], [])
    assert roles[1] == "BALANCE"


def test_pass25_magnitude_fallback_on_short_segments():
    """With <2 comparable delta pairs the gate falls back to the
    magnitude test: a dominating right column still promotes."""
    rows = [_role_row("02/01/2024", "50.00", "950.00")]
    roles = assign_column_roles([dict(c) for c in _ROLE_COLS], None, rows)
    assert roles[2] == "BALANCE"


def test_analyse_segment_end_to_end_case3():
    """Integrated semantics: unsigned SINGLE_AMOUNT rows keep their
    sign-based direction (positive -> CREDIT 0.90,
    orchestrator.py:761-780); the solver only fills UNKNOWN rows and
    contributes balance_confirmed (orchestrator.py:617-624)."""
    result = analyse_segment(segment_lines([(0, PAGE)]))
    records = result["records"]
    assert result["opening_balance"] == Decimal("1000.00")
    assert len(records) == len(_ROWS)
    assert all(r["direction"] == "CREDIT" for r in records)
    assert all(r["direction_source"] == "sign_positive" for r in records)
    assert all(r["confidence_direction"] == 0.9 for r in records)
    assert all(r["balance_confirmed"] for r in records)
    assert records[0]["amount"] == Decimal("50.00")
    assert records[0]["posted_date"].isoformat() == "2024-01-02"
    assert records[0]["running_balance"] == Decimal("950.00")


def test_analyse_segment_leaves_input_lines_unchanged():
    """The line dicts belong to the caller: the once-per-line marker
    memo must live beside the analysis, not in the shared line IR."""
    segments = [segment_lines([(0, PAGE)])]
    corpus = generate_transcripts(12)
    for _, conv in corpus.groupby("conv_id", sort=True):
        segments.append(segment_lines(
            (turn_idx, text or tool)
            for turn_idx, text, tool in zip(conv["turn_idx"], conv["text"],
                                            conv["tool"])))
    n_records = 0
    for lines in segments:
        before = copy.deepcopy(lines)
        n_records += len(analyse_segment(lines)["records"])
        assert lines == before
    assert n_records > 0
