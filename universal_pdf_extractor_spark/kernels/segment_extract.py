"""Per-segment record extraction: the full analysis chain.

Mirrors the reference orchestrator's segment analysis
(app/pipeline/orchestrator.py:516-690) over the lines
``layout.segment_lines`` builds, whose x is already segment-wide:
detect columns, find + strip the header line, preliminary row pass,
role assignment, final row pass, per-row field projection, opening /
closing balance from marker rows, direction solving, merge, and the
no-amount/blank-description quality gate
(app/pipeline/orchestrator.py:367-385).

DOCUMENTED DIVERGENCE from the reference orchestrator: the reference
passes its field dicts straight into ``solve_directions`` although the
solver contract reads different keys (``amount``, ``running_balance``,
``debit_amount``, ``credit_amount``, ``amount_raw``,
``description_raw`` — app/pipeline/balance_solver.py:82-280 — while
``_extract_fields_from_row`` emits ``parsed_amount``,
``parsed_balance``, ``raw_debit``, ... — orchestrator.py:699-789).
The key mismatch makes every solver path return UNKNOWN/unconfirmed
in the integrated reference pipeline; its own unit tests
(tests/test_pipeline/test_balance_solver.py) call the solver with the
documented keys.  This engine feeds the solver the documented
contract via an explicit adapter, so balance-chain inference actually
runs; the solver kernel itself is parity-exact.
"""

from __future__ import annotations

from datetime import date
from decimal import Decimal
from typing import Optional

from .amounts import parse_amount
from .columns import detect_columns
from .dates import DEFAULT_TODAY, parse_date
from .patterns import is_summary_row
from .rows import (
    detect_header_line,
    extract_fields_from_row,
    extract_header_texts,
    precompute_cells,
    reconstruct_rows,
)
from .semantic import AMOUNT_ROLES, ROLE_BALANCE, ROLE_DATE, assign_column_roles
from .solver import solve_directions

# ── text-grid fallback (the transcripts analogue of the reference's
# pdfplumber native-table fallback, orchestrator.py:793-930) ─────────
#
# Keyword sets verbatim from the reference header mapper
# (orchestrator.py:1336-1377 `_map_table_columns`).
_FB_DATE_KW = ["date", "posted dte"]
_FB_DESC_KW = ["description", "details", "particulars", "narrative", "transaction"]
_FB_PAID_IN_KW = ["paid in", "credit", "money in", "deposit", "receipts"]
_FB_WITHDRAWN_KW = ["withdrawn", "debit", "money out", "paid out", "withdrawal", "payments"]
_FB_BALANCE_KW = ["balance"]
_FB_AMOUNT_KW = ["amount"]

import re as _re

_FB_CCY_PREFIX_RE = _re.compile(r"\([a-z]{3}\)\s*")
_FB_CCY_SYMBOL_RE = _re.compile("[" + chr(163) + chr(36) + chr(8364) + r"]\s*")


def _grid_cells(line: dict) -> list[dict]:
    """Split a tokenized line into cells on >=2-char gaps.

    Token ``start``/``end`` are char offsets into the original turn
    text, so a gap of >= 2 between consecutive tokens is exactly a
    multi-space run in the source — the character-grid analogue of
    pdfplumber's text-strategy vertical splits (snap/join tolerance,
    orchestrator.py:820-827).
    """
    cells: list[dict] = []
    cur: list[dict] = []
    prev_end = None
    for t in line["tokens"]:
        if prev_end is not None and t["start"] - prev_end >= 2:
            cells.append(cur)
            cur = []
        cur.append(t)
        prev_end = t["end"]
    if cur:
        cells.append(cur)
    return [
        {
            "text": " ".join(t["text"] for t in c),
            "x_mid": (c[0]["x0"] + c[-1]["x1"]) / 2.0,
            "start": c[0].get("start"),
            "end": c[-1].get("end"),
        }
        for c in cells
    ]


def _map_grid_columns(header_cells: list[dict]) -> dict:
    """Header cells -> column roles (orchestrator.py:1336-1377)."""
    result = {"date_col": None, "desc_col": None, "amount_cols": []}
    for i, cell in enumerate(header_cells):
        h = cell["text"].lower().strip()
        if not h:
            continue
        h = _FB_CCY_PREFIX_RE.sub("", h).strip()
        h = _FB_CCY_SYMBOL_RE.sub("", h).strip()
        if not h:
            continue
        if any(kw in h for kw in _FB_DATE_KW) and result["date_col"] is None:
            result["date_col"] = i
        elif any(kw in h for kw in _FB_DESC_KW) and result["desc_col"] is None:
            result["desc_col"] = i
        elif any(kw in h for kw in _FB_PAID_IN_KW):
            result["amount_cols"].append({"index": i, "role": "paid_in"})
        elif any(kw in h for kw in _FB_WITHDRAWN_KW):
            result["amount_cols"].append({"index": i, "role": "withdrawn"})
        elif any(kw in h for kw in _FB_BALANCE_KW):
            result["amount_cols"].append({"index": i, "role": "balance"})
        elif any(kw in h for kw in _FB_AMOUNT_KW):
            result["amount_cols"].append({"index": i, "role": "amount"})
    return result


def _grid_col_map_valid(col_map: dict) -> bool:
    """Reference acceptance rule (orchestrator.py:845-850): date column
    plus at least one non-balance amount column."""
    return bool(
        col_map.get("amount_cols")
        and col_map.get("date_col") is not None
        and any(ac["role"] != "balance" for ac in col_map["amount_cols"])
    )


def _assign_cells(header_cells: list[dict], row_cells: list[dict]) -> list[str]:
    """Assignment of data cells to header columns.

    pdfplumber hands the reference pre-aligned table columns; the text
    grid has to re-align ragged rows itself.  When a row has exactly
    one cell per header the mapping is positional (robust to rows
    whose x-geometry is distorted by long gap runs); otherwise each
    cell lands on the header column with the closest x-midpoint,
    collisions concatenating left to right.
    """
    if len(row_cells) == len(header_cells):
        return [dict(c) for c in row_cells]
    out = [None] * len(header_cells)
    for cell in row_cells:
        j = min(range(len(header_cells)),
                key=lambda i: abs(header_cells[i]["x_mid"] - cell["x_mid"]))
        if out[j] is None:
            out[j] = dict(cell)
        else:
            out[j]["text"] += " " + cell["text"]
            out[j]["end"] = cell.get("end", out[j]["end"])
    return [c if c is not None else {"text": "", "start": None, "end": None}
            for c in out]


# b/f-c/f marker keywords skipped by the tabula/camelot-analogue tiers
# (orchestrator.py:1073-1074, 1348-1349)
_BF_CF_KW = ["brought forward", "carried forward", "b/f", "c/f"]


def _cells_to_fields(row_cells: list[dict], col_map: dict, last_date,
                     today: date, turn: int):
    """Shared cells -> (date, desc, amount, direction, balance) field
    projection used by every fallback tier (the common body of the
    reference's pdfplumber/tabula/camelot row loops,
    orchestrator.py:860-930 / 1056-1110 / 1240-1281): date parse with
    last-date carry, role-driven amount/direction (paid_in ->
    CREDIT, withdrawn -> DEBIT, balance -> running balance, amount ->
    sign inference), with per-field evidence spans."""
    evidence: list[dict] = []

    def _ev(field: str, cell: dict) -> None:
        if cell.get("start") is not None:
            evidence.append({"field": field, "turn_idx": turn,
                             "start": int(cell["start"]),
                             "end": int(cell["end"])})

    date_val = None
    dc = col_map.get("date_col")
    if dc is not None and dc < len(row_cells):
        date_cell = row_cells[dc]
        if date_cell["text"]:
            parsed = parse_date(date_cell["text"], today=today)
            if parsed.parsed_date:
                date_val = parsed.parsed_date
                last_date = date_val
                _ev("date", date_cell)
    if date_val is None and last_date:
        date_val = last_date

    desc = ""
    if col_map.get("desc_col") is not None and col_map["desc_col"] < len(row_cells):
        desc_cell = row_cells[col_map["desc_col"]]
        desc = desc_cell["text"]
        if desc:
            _ev("description", desc_cell)

    amount = None
    direction = "UNKNOWN"
    balance = None
    for ac in col_map["amount_cols"]:
        idx, role = ac["index"], ac["role"]
        if idx < len(row_cells) and row_cells[idx]["text"]:
            ap = parse_amount(row_cells[idx]["text"])
            if ap.amount is None:
                continue
            if role == "paid_in":
                amount = abs(ap.amount)
                direction = "CREDIT"
                _ev("credit", row_cells[idx])
            elif role == "withdrawn":
                amount = abs(ap.amount)
                direction = "DEBIT"
                _ev("debit", row_cells[idx])
            elif role == "balance":
                balance = ap.amount
                _ev("balance", row_cells[idx])
            elif role == "amount" and amount is None:
                amount = abs(ap.amount)
                if ap.amount < 0:
                    direction = "DEBIT"
                elif ap.amount > 0:
                    direction = "CREDIT"
                _ev("amount", row_cells[idx])
    return date_val, last_date, desc, amount, direction, balance, evidence


# every direction_source a fallback tier can emit (main-path rows carry
# the solver's sources instead); the "_rescue" variants mark cascade
# rescues on segments where neither majority routing rule fired
# (analyse_segment's _fallback), which the structured-tier oracles must
# never alias into their slices
FALLBACK_SOURCES = ("text_grid_table", "delim_table", "row_pattern",
                    "delim_table_rescue", "row_pattern_rescue")


def _fallback_record(row_index: int, ln: dict, date_val, desc: str, amount,
                     direction: str, balance, evidence: list[dict],
                     source: str, conf_amount: float, conf_date_hi: float,
                     conf_dir_hi: float, conf_dir_lo: float) -> dict:
    """Fallback transaction row with the tier's fixed confidences
    (orchestrator.py:957-962 pdfplumber, :1155-1159 tabula,
    :1322-1326 camelot) and balance_confirmed=False."""
    return {
        "row_index": row_index,
        "turn_idx": int(ln.get("turn_idx", 0)),
        "line_indices": [ln.get("line_index", 0)],
        "posted_date": date_val,
        "description_raw": desc[:500] if desc else "",
        "description_clean": (desc[:500] if desc else "").strip(),
        "amount": Decimal(amount).quantize(Decimal("0.01")),
        "direction": direction,
        "direction_source": source,
        "running_balance": (Decimal(balance).quantize(Decimal("0.01"))
                            if balance is not None else None),
        "balance_confirmed": False,
        "balance_tolerance_used": Decimal("0").quantize(Decimal("0.0001")),
        "confidence_amount": conf_amount,
        "confidence_date": conf_date_hi if date_val else 0.30,
        "confidence_direction": conf_dir_hi if direction != "UNKNOWN" else conf_dir_lo,
        "evidence": evidence,
    }


def _scan_grid_header(grid: list[tuple]) -> tuple:
    """First line whose cells map to a valid column set.

    pdfplumber hands the reference an already-localized table, so it
    only probes table[0] / table[1] for the header
    (orchestrator.py:838-858); the text grid has no cropping step, so
    the header scan walks the segment."""
    for probe, (_, probe_cells) in enumerate(grid):
        candidate = _map_grid_columns(probe_cells)
        if _grid_col_map_valid(candidate):
            return probe_cells, candidate, probe + 1
    return None, None, None


def _fallback_grid_records(lines: list[dict], today: date) -> tuple[list[dict], dict]:
    """Tier 1: multi-space grid parse when column detection fails.

    Mirrors the reference pdfplumber fallback row loop
    (orchestrator.py:838-930): header mapped by keywords, last-date
    carry for dateless rows, rows without an amount or matching
    is_summary_row skipped, fixed confidences (0.80 amount, 0.80/0.30
    date, 0.90/0.40 direction, orchestrator.py:957-962).
    """
    grid = [(ln, _grid_cells(ln)) for ln in lines]
    grid = [(ln, cells) for ln, cells in grid if cells]
    if len(grid) < 2:
        return [], {}

    header_cells, col_map, data_start = _scan_grid_header(grid)
    if col_map is None:
        return [], {}

    records: list[dict] = []
    last_date = None
    for ln, cells in grid[data_start:]:
        row_cells = _assign_cells(header_cells, cells)
        turn = int(ln.get("turn_idx", 0))
        date_val, last_date, desc, amount, direction, balance, evidence = \
            _cells_to_fields(row_cells, col_map, last_date, today, turn)
        if amount is None:
            continue
        full_row_text = " ".join(c["text"] for c in cells)
        if is_summary_row(desc) or is_summary_row(full_row_text):
            continue
        records.append(_fallback_record(
            len(records), ln, date_val, desc, amount, direction, balance,
            evidence, "text_grid_table", 0.80, 0.80, 0.90, 0.40))
    return records, {"column_count": len(header_cells),
                     "header_line": data_start - 1,
                     "column_mapping": col_map}


_DELIM_RE = _re.compile(r"[|;]")


def _split_columns_by_header(columns: list[dict], header_line: dict) -> list[dict]:
    """Split detected columns whose header cell merges several amount
    headers ("Paid Out Paid In" in one window is proof the histogram
    under-split — adjacent right-justified columns have smeared start
    positions, so short values between them would otherwise land in
    whichever neighbour is nearest and merge with its cell).  Split
    boundaries come from the header's own word-group spans; the last
    sub-column extends at least to its header group's right edge.
    Columns are re-indexed left to right.  Applies only when the
    histogram produced a real multi-column layout: a single mega
    column means total histogram failure, where the grid fallback's
    per-row gap cells handle ragged data better than header-projected
    windows would.
    """
    from .columns import assign_token_to_column
    from .semantic import AMOUNT_ROLES, match_header

    if len(columns) < 2:
        return columns

    # word-groups FIRST (split at >=2-char gaps), then each whole
    # group lands on one column by its span center — a header phrase
    # straddling a detected boundary ("Paid In" half-in, half-out)
    # must not be torn apart by per-token assignment
    word_groups: list[list[dict]] = []
    prev_tok = None
    for tok in header_line["tokens"]:
        if (word_groups and prev_tok is not None
                and tok.get("start") is not None
                and prev_tok.get("end") is not None
                and tok["start"] - prev_tok["end"] < 2):
            word_groups[-1].append(tok)
        else:
            word_groups.append([tok])
        prev_tok = tok

    groups_per_col: dict[int, list[list[dict]]] = {}
    for g in word_groups:
        span = {"x0": g[0]["x0"], "x1": g[-1]["x1"]}
        ci = assign_token_to_column(span, columns)
        groups_per_col.setdefault(ci, []).append(g)

    out: list[dict] = []
    for col in columns:
        groups = groups_per_col.get(col["column_index"], [])
        n_amount = sum(1 for g in groups
                       if match_header(" ".join(t["text"] for t in g))
                       in AMOUNT_ROLES)
        if n_amount < 2:
            out.append(dict(col))
            continue
        # >=2 amount headers in one window prove under-splitting:
        # split by EVERY header word-group so non-amount sub-headers
        # (date/description) keep their regions too.  The first
        # sub-column extends to the leftmost of the window start and
        # its header group's left edge: when the histogram missed the
        # sparse columns entirely, the header groups sit LEFT of the
        # detected window, and clamping to the window start would
        # produce an inverted (x_start > x_end) sub-column whose role
        # map silently drops the credit column (found by the
        # balance-chain directions oracle).
        for k, g in enumerate(groups):
            x_start = (min(col["x_start"], g[0]["x0"]) if k == 0
                       else (groups[k - 1][-1]["x1"] + g[0]["x0"]) / 2.0)
            if k + 1 < len(groups):
                x_end = (g[-1]["x1"] + groups[k + 1][0]["x0"]) / 2.0
            else:
                x_end = max(col["x_end"], g[-1]["x1"])
            out.append({"column_index": -1, "x_start": x_start,
                        "x_end": x_end, "role": "UNKNOWN"})
    out.sort(key=lambda c: c["x_start"])
    for i, col in enumerate(out):
        col["column_index"] = i
    return out


def _has_internal_gap(line: dict) -> bool:
    """True iff any consecutive token pair is separated by >= 2 chars
    (i.e. the raw line has an internal multi-space run the grid
    splitter could use)."""
    toks = line["tokens"]
    return any(toks[k + 1]["start"] - toks[k]["end"] >= 2
               for k in range(len(toks) - 1))


def _delim_cells(line: dict) -> Optional[list[dict]]:
    """Split a tokenized line into cells on explicit delimiters
    (pipes/semicolons), the character-stream analogue of tabula's
    ruled-and-delimited table extraction (orchestrator.py:1007-1021
    stream/lattice read).  Returns None when the line carries no
    delimiter at all — the tier only engages on delimited rows.
    Delimiters are non-whitespace, so they arrive INSIDE token text;
    offsets of the split fragments are recovered from the token span.
    Empty cells between adjacent delimiters are kept: the mapping is
    positional, like the aligned frames tabula hands the reference.
    """
    cells: list[list[tuple]] = []
    cur: list[tuple] = []
    saw_delim = False
    for t in line["tokens"]:
        if _DELIM_RE.search(t["text"]):
            saw_delim = True
            pos = 0
            parts = _DELIM_RE.split(t["text"])
            for k, part in enumerate(parts):
                if part:
                    cur.append((part, t["start"] + pos, t["start"] + pos + len(part)))
                pos += len(part) + 1
                if k < len(parts) - 1:
                    cells.append(cur)
                    cur = []
        else:
            cur.append((t["text"], t["start"], t["end"]))
    cells.append(cur)
    if not saw_delim:
        return None
    return [{"text": " ".join(f[0] for f in c),
             "start": (c[0][1] if c else None),
             "end": (c[-1][2] if c else None)}
            for c in cells]


def _fallback_delim_records(lines: list[dict], today: date) -> tuple[list[dict], dict]:
    """Tier 2 (tabula analogue, orchestrator.py:982-1173): delimiter-
    split parse for pipe/semicolon tables the multi-space grid cannot
    segment (single-space-padded delimiters defeat the >=2-gap split).
    Cell-to-column mapping is positional with bounds checks, exactly
    the reference's guarded ``idx < len(cells)`` frame indexing;
    b/f-c/f marker rows are skipped by keyword
    (orchestrator.py:1073-1074); confidences 0.82 amount, 0.82/0.30
    date, 0.90/0.40 direction (orchestrator.py:1155-1159).
    """
    grid = [(ln, _delim_cells(ln)) for ln in lines]
    grid = [(ln, cells) for ln, cells in grid if cells]
    if len(grid) < 2:
        return [], {}

    header_cells, col_map, data_start = _scan_grid_header(grid)
    if col_map is None:
        return [], {}

    records: list[dict] = []
    last_date = None
    for ln, cells in grid[data_start:]:
        row_lower = " ".join(c["text"] for c in cells).lower()
        if any(kw in row_lower for kw in _BF_CF_KW):
            continue
        turn = int(ln.get("turn_idx", 0))
        date_val, last_date, desc, amount, direction, balance, evidence = \
            _cells_to_fields(cells, col_map, last_date, today, turn)
        if amount is None:
            continue
        if is_summary_row(desc) or is_summary_row(" ".join(c["text"] for c in cells)):
            continue
        records.append(_fallback_record(
            len(records), ln, date_val, desc, amount, direction, balance,
            evidence, "delim_table", 0.82, 0.82, 0.90, 0.40))
    return records, {"column_count": len(header_cells),
                     "header_line": data_start - 1,
                     "column_mapping": col_map}


# strictly money-shaped token (mandatory pence digits): the pattern
# tier has no column geometry, so bare integers (house numbers,
# merchant ids) must not qualify as amounts
_PATTERN_MONEY_RE = _re.compile(
    "^\\(?-?[" + chr(163) + chr(36) + chr(8364)
    + r"]?(?:\d{1,3}(?:,\d{3})+|\d+)\.\d{2}\)?-?$")
# camelot header gate: "date" + one table keyword (orchestrator.py:1333-1336)
_PATTERN_HEADER_KW = ["description", "paid in", "withdrawn", "balance",
                      "money in", "money out", "debit", "credit", "amount"]


def _fallback_pattern_records(lines: list[dict], today: date) -> tuple[list[dict], dict]:
    """Tier 3 (camelot analogue, orchestrator.py:1190-1330): token-
    pattern row parse for single-space tables no splitter can segment.
    Engages only after a header line containing 'date' plus a table
    keyword (the reference's camelot header gate — which is what keeps
    this tier from hallucinating rows out of chatter or motor-finance
    prose); rows are then leading date tokens + trailing money tokens
    (rightmost = balance when two are present) + middle description.
    No last-date carry (the reference camelot loop has none);
    confidences 0.75 amount, 0.75/0.30 date, 0.85/0.40 direction
    (orchestrator.py:1322-1326).
    """
    header_found = False
    header_line = None
    records: list[dict] = []
    for ln in lines:
        row_lower = ln["text"].lower()
        if not header_found:
            if "date" in row_lower and any(kw in row_lower for kw in _PATTERN_HEADER_KW):
                header_found = True
                header_line = ln.get("line_index", 0)
            continue
        if any(kw in row_lower for kw in _BF_CF_KW):
            continue
        toks = ln["tokens"]
        tail: list[dict] = []
        i = len(toks) - 1
        while i >= 0 and len(tail) < 2 and _PATTERN_MONEY_RE.match(toks[i]["text"]):
            tail.append(toks[i])
            i -= 1
        if not tail:
            continue
        turn = int(ln.get("turn_idx", 0))
        evidence: list[dict] = []

        # leading date: grow the candidate one token at a time and keep
        # an extension only when it CHANGES the parse (parse_date is
        # tolerant of trailing text, so '12/01/2024 TESCO' parses too —
        # an unchanged parse means the extra token added nothing and
        # belongs to the description; '12 Jan' -> '12 Jan 2024' changes
        # the inferred year, so genuine multi-token dates still grow)
        date_val = None
        date_end = 0
        for j in range(1, min(3, i + 1) + 1):
            parsed = parse_date(" ".join(t["text"] for t in toks[:j]),
                                today=today).parsed_date
            if parsed is not None and parsed != date_val:
                date_val = parsed
                date_end = j
            elif date_val is not None:
                break
        if date_val is not None:
            evidence.append({"field": "date", "turn_idx": turn,
                             "start": int(toks[0]["start"]),
                             "end": int(toks[date_end - 1]["end"])})

        desc_toks = toks[date_end:i + 1]
        desc = " ".join(t["text"] for t in desc_toks)
        if desc_toks:
            evidence.append({"field": "description", "turn_idx": turn,
                             "start": int(desc_toks[0]["start"]),
                             "end": int(desc_toks[-1]["end"])})

        tail = tail[::-1]  # left-to-right: [amount] or [amount, balance]
        amount_tok = tail[0]
        ap = parse_amount(amount_tok["text"])
        if ap.amount is None:
            continue
        amount = abs(ap.amount)
        direction = "DEBIT" if ap.amount < 0 else ("CREDIT" if ap.amount > 0 else "UNKNOWN")
        evidence.append({"field": "amount", "turn_idx": turn,
                         "start": int(amount_tok["start"]),
                         "end": int(amount_tok["end"])})
        balance = None
        if len(tail) == 2:
            bp = parse_amount(tail[1]["text"])
            if bp.amount is not None:
                balance = bp.amount
                evidence.append({"field": "balance", "turn_idx": turn,
                                 "start": int(tail[1]["start"]),
                                 "end": int(tail[1]["end"])})

        if is_summary_row(desc) or is_summary_row(ln["text"]):
            continue
        records.append(_fallback_record(
            len(records), ln, date_val, desc, amount, direction, balance,
            evidence, "row_pattern", 0.75, 0.75, 0.85, 0.40))
    return records, {"column_count": None,
                     "header_line": header_line,
                     "column_mapping": None}


def _solver_view(fields: dict) -> dict:
    """Adapter: field projection -> the solver's documented row keys."""
    debit_amount = None
    if fields["raw_debit"]:
        p = parse_amount(fields["raw_debit"])
        debit_amount = p.amount
    credit_amount = None
    if fields["raw_credit"]:
        p = parse_amount(fields["raw_credit"])
        credit_amount = p.amount
    return {
        "amount": fields["parsed_amount"],
        "running_balance": fields["parsed_balance"],
        "amount_raw": fields["raw_amount"],
        "debit_amount": debit_amount,
        "credit_amount": credit_amount,
        "description_raw": fields["description"],
    }


def analyse_segment(lines: list[dict], today: date = DEFAULT_TODAY) -> dict:
    """Segment lines -> {records, opening_balance, closing_balance}.

    ``lines`` come from ``layout.segment_lines``: x is already
    segment-wide, and the line and token dicts are only read.

    Each record carries the output-fields of the reference
    ``transactions`` row (tables.py:298-382) minus identifiers, which
    the caller attaches: row_index, turn_idx (of the row's first
    line), posted_date, description, amount, direction,
    direction_source, running_balance, balance_confirmed,
    tolerance_used, confidence_{amount,date,direction}.
    """
    def _diag(engine: str, records: list, column_count=None, bbox=None,
              header=None, column_mapping=None) -> dict:
        """detected_tables diagnostics row (tables.py:252-292 analogue):
        which engine produced the table, its geometry and role map."""
        return {"engine": engine,
                "table_type": "TRANSACTION_TABLE" if records else "UNKNOWN",
                "row_count": len(records),
                "column_count": column_count,
                "bbox": bbox,
                "header": header,
                "column_mapping": column_mapping}

    def _tier_result(tier_name: str, records: list, info: dict) -> dict:
        """A fallback tier's result: its records, no balances."""
        return {"records": records, "opening_balance": None,
                "closing_balance": None,
                "closing_balance_distinct": False,
                "fallback_used": True,
                "diagnostics": _diag(
                    tier_name, records,
                    column_count=info.get("column_count"),
                    header={"line_index": info.get("header_line")},
                    column_mapping=info.get("column_mapping"))}

    empty = {"records": [], "opening_balance": None, "closing_balance": None,
             "closing_balance_distinct": False, "fallback_used": False,
             "diagnostics": _diag("none", [])}
    if not lines:
        return empty

    all_lines = lines  # pre-header-strip view for the fallback parsers

    # Delimiter-dominant segments go straight to the delimiter parser:
    # explicit delimiters are stronger structural evidence than the
    # x-histogram, which sees delimiter glyphs as geometry and — when
    # the date column happens to be fixed-width — can "succeed" into
    # mangled cells (mis-split amounts, pipe tokens as descriptions).
    # The majority rule is a pure data property, so tier routing stays
    # reproducible from the corpus alone (the delim-records oracle
    # re-derives it in SQL).  A failed delim parse falls through to
    # the normal histogram path.
    delim_flags = [_DELIM_RE.search(ln["text"]) is not None for ln in lines]
    n_delim = sum(delim_flags)
    if n_delim * 2 > len(lines):
        records, info = _fallback_delim_records(all_lines, today)
        if records:
            return _tier_result("delim_grid", records, info)

    # Single-space-dominant segments (no internal >=2-space runs, no
    # delimiters — nothing for any splitter to work with) go straight
    # to the pattern parser behind its date+keyword header gate; same
    # reproducible-routing rationale as the delimiter rule above.  The
    # header gate keeps chatter-dominant segments falling through.
    n_single = sum(
        1 for ln, has_delim in zip(lines, delim_flags)
        if not has_delim and not _has_internal_gap(ln))
    if n_single * 2 > len(lines):
        records, info = _fallback_pattern_records(all_lines, today)
        if records:
            return _tier_result("row_pattern", records, info)

    def _fallback():
        """Fallback cascade (orchestrator.py:569-578 pdfplumber ->
        :982 tabula -> :1190 camelot): each tier gets the rescue
        chance before the segment is abandoned.

        Cascade-rescued delim/pattern output is tagged with a distinct
        "_rescue" suffix (direction_source and diagnostics engine):
        the delim/pattern record oracles and the routing oracle slice
        the engine output by these names, and their SQL sides re-derive
        only the MAJORITY-routed segments — a cascade rescue on a
        segment where neither majority rule fires must not alias into
        the oracle slice.  text_grid keeps its name: no majority route
        emits it, so it is unambiguous already."""
        for tier_fn, tier_name in ((_fallback_grid_records, "text_grid"),
                                   (_fallback_delim_records, "delim_grid"),
                                   (_fallback_pattern_records, "row_pattern")):
            records, info = tier_fn(all_lines, today)
            if records:
                if tier_name != "text_grid":
                    tier_name += "_rescue"
                    for rec in records:
                        rec["direction_source"] += "_rescue"
                return _tier_result(tier_name, records, info)
        return empty

    columns = detect_columns(lines)
    if not columns:
        return _fallback()

    header_idx = detect_header_line(lines)
    header_texts = None
    if header_idx is not None:
        columns = _split_columns_by_header(columns, lines[header_idx])
        header_texts = extract_header_texts(lines[header_idx], columns)
        lines = lines[header_idx + 1:]

    cells_per_line = precompute_cells(lines, columns)
    # shared by the preliminary and final row passes, so the marker
    # regex runs at most once per line
    marker_flags: list = [None] * len(lines)
    # lazy: only evaluated when headers leave columns unassigned or the
    # balance-promotion gate needs row evidence (assign_column_roles);
    # fully-headered segments skip this whole preliminary pass
    preliminary_rows = lambda: reconstruct_rows(  # noqa: E731
        lines, columns,
        date_column_index=0,
        amount_column_indices=[c["column_index"] for c in columns if c["column_index"] > 0],
        cells_per_line=cells_per_line,
        marker_flags=marker_flags,
    )
    roles = assign_column_roles(columns, header_texts, preliminary_rows)

    date_col = next((i for i, r in roles.items() if r == ROLE_DATE), 0)
    amount_cols = [i for i, r in roles.items() if r in AMOUNT_ROLES]
    if not amount_cols:
        # reference cascades to pdfplumber native tables here
        # (orchestrator.py:569-578); the transcripts analogue is the
        # text-grid split (the raster engines tabula/camelot stay out
        # of scope — no PDF bytes exist for transcript turns).
        return _fallback()

    rows = reconstruct_rows(lines, columns, date_col, amount_cols,
                            cells_per_line=cells_per_line,
                            marker_flags=marker_flags)
    transaction_rows = [r for r in rows if not r["is_balance_marker"]]
    if not transaction_rows:
        return _fallback()

    raw_transactions = []
    for row_idx, row in enumerate(transaction_rows):
        fields = extract_fields_from_row(row, roles, today=today)
        fields["row_index"] = row_idx
        fields["_row"] = row
        raw_transactions.append(fields)

    # opening/closing balance from marker rows (first/last BALANCE cell,
    # orchestrator.py:599-612).  n_marker_cells distinguishes a real
    # closing marker from the first==last single-marker case: the
    # conversation-level scorer only trusts closing_balance for its
    # balance-mismatch gate when it came from a distinct later marker.
    opening_balance = None
    closing_balance = None
    n_marker_cells = 0
    for marker in (r for r in rows if r["is_balance_marker"]):
        for cell in marker["cells"]:
            if roles.get(cell["column_index"]) == ROLE_BALANCE and cell["text"].strip():
                parsed = parse_amount(cell["text"].strip())
                if parsed.amount is not None:
                    if opening_balance is None:
                        opening_balance = parsed.amount
                    closing_balance = parsed.amount
                    n_marker_cells += 1

    role_map = {i: r for i, r in roles.items()}
    solver_rows = [_solver_view(tx) for tx in raw_transactions]
    solver_results = solve_directions(solver_rows, opening_balance,
                                      closing_balance, role_map)

    for tx, sr in zip(raw_transactions, solver_results):
        if tx["direction"] == "UNKNOWN" and sr["direction"] != "UNKNOWN":
            tx["direction"] = sr["direction"]
            tx["direction_source"] = sr["direction_source"]
            tx["direction_confidence"] = sr["confidence"]
        tx["balance_confirmed"] = sr["balance_confirmed"]
        tx["tolerance_used"] = sr["tolerance_used"]

    records = []
    for tx in raw_transactions:
        amount = tx["parsed_amount"]
        if amount is not None:
            amount = Decimal(amount).quantize(Decimal("0.01"))
        balance = tx["parsed_balance"]
        if balance is not None:
            balance = Decimal(balance).quantize(Decimal("0.01"))

        description = tx["description"]
        # quality gate (orchestrator.py:367-385): no amount AND blank
        # description -> drop
        if amount is None and not description.strip():
            continue

        row = tx.pop("_row")
        first_line = lines[row["line_indices"][0]] if row["line_indices"] else {}
        records.append({
            "row_index": tx["row_index"],
            "turn_idx": int(first_line.get("turn_idx", 0)),
            "line_indices": row["line_indices"],
            "posted_date": tx["parsed_date"],
            "description_raw": description,
            "description_clean": description.strip(),
            "amount": amount,
            "direction": tx["direction"],
            "direction_source": tx["direction_source"],
            "running_balance": balance,
            "balance_confirmed": bool(tx.get("balance_confirmed", False)),
            "balance_tolerance_used": Decimal(tx.get("tolerance_used") or 0).quantize(Decimal("0.0001")),
            "confidence_amount": round(float(tx["amount_confidence"]), 4),
            "confidence_date": round(float(tx["date_confidence"]), 4),
            "confidence_direction": round(float(tx["direction_confidence"]), 4),
            "evidence": tx["evidence"],
        })

    if not any(r["amount"] is not None for r in records):
        # mis-detected column geometry can survive role assignment yet
        # extract nothing usable — zero records, or records that are
        # all amount-less description fragments (a "transaction table"
        # with no amounts is not one).  The worst silent failure at
        # corpus scale: give the fallback cascade the same rescue
        # chance the reference gives pdfplumber when detection fails
        # outright; keep the main-path records if every tier declines.
        rescue = _fallback()
        if rescue["records"]:
            return rescue

    return {"records": records,
            "opening_balance": opening_balance,
            "closing_balance": closing_balance,
            "closing_balance_distinct": n_marker_cells >= 2,
            "fallback_used": False,
            "diagnostics": _diag(
                "column_histogram", records,
                column_count=len(columns),
                bbox=[{"column_index": c["column_index"],
                       "x_start": c["x_start"], "x_end": c["x_end"]}
                      for c in columns],
                header=({"line_index": header_idx, "texts": header_texts}
                        if header_idx is not None else None),
                column_mapping={str(i): r for i, r in roles.items()})}
