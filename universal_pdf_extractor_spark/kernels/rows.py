"""Row reconstruction and per-row field extraction.

Parity with the reference's stateful row merge
(app/pipeline/table_extractor.py:243-354) and field projection
(app/pipeline/orchestrator.py:692-789):

Row rules, applied over a segment's lines in reading order:
  1. balance-marker line -> standalone row (flushes current)
  2. date token in the date column -> opens a new row
  3. amount-without-date -> merged into the current row
  4. neither -> merged iff vertically adjacent
     (gap <= 1.8 x previous line height)
  5. orphan lines (no current row) are skipped
"""

from __future__ import annotations

from typing import Optional

from .amounts import is_amount_like, parse_amount
from .columns import assign_line_to_cells
from .dates import DEFAULT_TODAY, is_date_like, parse_date
from .patterns import HEADER_KEYWORDS, is_balance_marker

HEADER_SCAN_LINES = 10
CONTINUATION_HEIGHT_RATIO = 1.8
CONTINUATION_FLAT_GAP = 0.02


def _is_continuation(prev_line: dict, curr_line: dict) -> bool:
    gap = curr_line["y0"] - prev_line["y1"]
    typical_height = prev_line["y1"] - prev_line["y0"]
    if typical_height <= 0:
        return gap < CONTINUATION_FLAT_GAP
    return gap <= typical_height * CONTINUATION_HEIGHT_RATIO


def precompute_cells(lines: list[dict], columns: list[dict]) -> list[list[dict]]:
    """Cell assignment for every line, via one memoized column lookup.

    The assignment depends only on (line tokens, columns), so the
    preliminary and final row passes share this result."""
    cache: dict = {}
    return [assign_line_to_cells(ln, columns, cache=cache) for ln in lines]


def reconstruct_rows(lines: list[dict],
                     columns: list[dict],
                     date_column_index: int = 0,
                     amount_column_indices: Optional[list[int]] = None,
                     cells_per_line: Optional[list[list[dict]]] = None,
                     marker_flags: Optional[list[Optional[bool]]] = None) -> list[dict]:
    """Merge lines into transaction rows (sequential per segment).

    Row: {line_indices, cells, is_balance_marker, raw_text}.

    marker_flags holds each line's balance-marker test, filled in on
    first use; passes that share one list evaluate the marker regex
    once per line.  The line dicts themselves are never written.
    """
    if not lines or not columns:
        return []

    if amount_column_indices is None:
        amount_column_indices = [c["column_index"] for c in columns if c["column_index"] > 0]
    amount_cols = set(amount_column_indices)

    if cells_per_line is None:
        cells_per_line = precompute_cells(lines, columns)
    if marker_flags is None:
        marker_flags = [None] * len(lines)

    rows: list[dict] = []
    current: Optional[dict] = None

    for i, line in enumerate(lines):
        cells = cells_per_line[i]

        is_marker = marker_flags[i]
        if is_marker is None:
            is_marker = marker_flags[i] = is_balance_marker(line["text"])
        if is_marker:
            if current:
                rows.append(current)
                current = None
            # copy: row cells are mutated by merges and must not alias
            # the shared precomputed per-line lists
            rows.append({"line_indices": [i], "cells": list(cells),
                         "is_balance_marker": True, "raw_text": line["text"]})
            continue

        # predicate results memoized on the shared cell dicts: the
        # preliminary and final passes would otherwise recompute them
        has_date = False
        has_amount = False
        for c in cells:
            if not has_date and c["column_index"] == date_column_index:
                flag = c.get("_date_like")
                if flag is None:
                    flag = c["_date_like"] = is_date_like(c["text"])
                has_date = has_date or flag
            if not has_amount and c["column_index"] in amount_cols:
                flag = c.get("_amount_like")
                if flag is None:
                    flag = c["_amount_like"] = is_amount_like(c["text"])
                has_amount = has_amount or flag

        if has_date:
            if current:
                rows.append(current)
            current = {"line_indices": [i], "cells": list(cells),
                       "is_balance_marker": False, "raw_text": line["text"]}
        elif has_amount and current:
            current["line_indices"].append(i)
            current["cells"].extend(cells)
            current["raw_text"] += " " + line["text"]
        elif current:
            prev_line = lines[current["line_indices"][-1]]
            if _is_continuation(prev_line, line):
                current["line_indices"].append(i)
                current["cells"].extend(cells)
                current["raw_text"] += " " + line["text"]
            else:
                rows.append(current)
                current = None
        # orphan line: skipped

    if current:
        rows.append(current)
    return rows


def detect_header_line(lines: list[dict]) -> Optional[int]:
    """First of the top lines matching >=2 header keywords."""
    for i, line in enumerate(lines[:HEADER_SCAN_LINES]):
        text_lower = line["text"].lower()
        if sum(1 for kw in HEADER_KEYWORDS if kw in text_lower) >= 2:
            return i
    return None


def extract_header_texts(line: dict, columns: list[dict]) -> list[str]:
    cells = assign_line_to_cells(line, columns)
    header = [""] * len(columns)
    for cell in cells:
        if cell["column_index"] < len(header):
            header[cell["column_index"]] = cell["text"].strip()
    return header


# evidence-emitting roles and their span field names (hoisted: the
# per-cell dict literal and tuple were rebuilt on every call)
_EVIDENCE_ROLES = frozenset(
    ("DATE", "DESCRIPTION", "DEBIT", "CREDIT", "SINGLE_AMOUNT", "BALANCE"))
_EVIDENCE_FIELD = {r: ("amount" if r == "SINGLE_AMOUNT" else r.lower())
                   for r in _EVIDENCE_ROLES}


def extract_fields_from_row(row: dict, roles: dict[int, str], today=DEFAULT_TODAY) -> dict:
    """Project a reconstructed row into typed fields by column role.

    Cells are deduplicated per column (first occurrence wins); DEBIT /
    CREDIT columns force direction at 0.95, SINGLE_AMOUNT infers it
    from sign (negative -> DEBIT 0.95, positive -> CREDIT 0.90, zero
    -> UNKNOWN 0.5), BALANCE parses the running balance.
    """
    result = {
        "description": "",
        "raw_date": "", "raw_debit": "", "raw_credit": "",
        "raw_amount": "", "raw_balance": "",
        "parsed_date": None, "parsed_amount": None, "parsed_balance": None,
        "direction": "UNKNOWN", "direction_source": "",
        "amount_confidence": 0.8, "date_confidence": 0.8,
        "direction_confidence": 0.5,
        # per-field provenance spans (transaction_evidence analogue,
        # tables.py:388-420): (field, turn_idx, start, end) per
        # consumed cell, offsets into the original turn text
        "evidence": [],
    }

    def _evidence(field: str, cell: dict) -> None:
        if cell.get("start") is None:
            return
        result["evidence"].append({
            "field": field,
            "turn_idx": int(cell.get("turn_idx") or 0),
            "start": int(cell["start"]),
            "end": int(cell["end"]),
        })

    seen_cols: set[int] = set()
    unique_cells = []
    for cell in row["cells"]:
        if cell["column_index"] not in seen_cols:
            seen_cols.add(cell["column_index"])
            unique_cells.append(cell)

    for cell in unique_cells:
        role = roles.get(cell["column_index"], "UNKNOWN")
        text = cell["text"].strip()
        if text and role in _EVIDENCE_ROLES:
            _evidence(_EVIDENCE_FIELD[role], cell)

        if role == "DATE":
            result["raw_date"] = text
            dp = parse_date(text, today=today)
            if dp.parsed_date:
                result["parsed_date"] = dp.parsed_date
                result["date_confidence"] = dp.confidence

        elif role == "DESCRIPTION":
            result["description"] = (result["description"] + " " + text).strip()

        elif role == "DEBIT" and text:
            result["raw_debit"] = text
            ap = parse_amount(text)
            if ap.amount is not None:
                result["parsed_amount"] = abs(ap.amount)
                result["direction"] = "DEBIT"
                result["direction_source"] = "column_debit"
                result["direction_confidence"] = 0.95
                result["amount_confidence"] = ap.confidence

        elif role == "CREDIT" and text:
            result["raw_credit"] = text
            ap = parse_amount(text)
            if ap.amount is not None:
                result["parsed_amount"] = abs(ap.amount)
                result["direction"] = "CREDIT"
                result["direction_source"] = "column_credit"
                result["direction_confidence"] = 0.95
                result["amount_confidence"] = ap.confidence

        elif role == "SINGLE_AMOUNT" and text:
            result["raw_amount"] = text
            ap = parse_amount(text)
            if ap.amount is not None:
                result["parsed_amount"] = abs(ap.amount)
                if ap.amount < 0:
                    result["direction"] = "DEBIT"
                    result["direction_source"] = "sign_negative"
                    result["direction_confidence"] = 0.95
                elif ap.amount > 0:
                    result["direction"] = "CREDIT"
                    result["direction_source"] = "sign_positive"
                    result["direction_confidence"] = 0.90
                else:
                    result["direction"] = "UNKNOWN"
                    result["direction_source"] = "single_amount_zero"
                    result["direction_confidence"] = 0.50
                result["amount_confidence"] = ap.confidence

        elif role == "BALANCE" and text:
            result["raw_balance"] = text
            bp = parse_amount(text)
            if bp.amount is not None:
                result["parsed_balance"] = bp.amount

    return result
