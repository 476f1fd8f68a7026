"""Semantic column-role assignment (header-first, statistics-second).

Parity with the reference semantic mapper
(app/pipeline/semantic_mapper.py:50-281): per-column value stats
(date rate, amount rate, empty rate, text rate, mean length, unique
ratio, sign-change "monotonic" score), four assignment passes —
header keyword map with specificity overrides and duplicate-DATE ->
VALUE_DATE, statistical thresholds, leftmost/widest-UNKNOWN
fallbacks, and UNKNOWN-between-DATE-and-amounts -> DESCRIPTION.

Headers are matched after ``normalise_header``, which the segment
kernel's grid-tier column map uses too.

Roles are plain strings from the reference ColumnRole enum.
"""

from __future__ import annotations

import re
from typing import Optional

from .amounts import is_amount_like
from .dates import is_date_like

ROLE_DATE = "DATE"
ROLE_VALUE_DATE = "VALUE_DATE"
ROLE_DESCRIPTION = "DESCRIPTION"
ROLE_DEBIT = "DEBIT"
ROLE_CREDIT = "CREDIT"
ROLE_SINGLE_AMOUNT = "SINGLE_AMOUNT"
ROLE_BALANCE = "BALANCE"
ROLE_REFERENCE = "REFERENCE"
ROLE_TYPE = "TYPE"
ROLE_UNKNOWN = "UNKNOWN"

AMOUNT_ROLES = {ROLE_DEBIT, ROLE_CREDIT, ROLE_SINGLE_AMOUNT, ROLE_BALANCE}

HEADER_MAP: list[tuple[str, list[str]]] = [
    (ROLE_DATE, ["date", "when", "posted"]),
    (ROLE_VALUE_DATE, ["value date", "value"]),
    (ROLE_DESCRIPTION, ["description", "details", "particulars", "narrative", "transaction"]),
    (ROLE_DEBIT, ["debit", "paid out", "money out", "withdrawal", "payments", "dr"]),
    (ROLE_CREDIT, ["credit", "paid in", "money in", "deposit", "receipts", "cr"]),
    (ROLE_SINGLE_AMOUNT, ["amount"]),
    (ROLE_BALANCE, ["balance", "running", "closing"]),
    (ROLE_REFERENCE, ["ref", "reference", "cheque"]),
    (ROLE_TYPE, ["type", "code"]),
]

_TEXTY_RE = re.compile(r"^[a-zA-Z\s\-\.]+$")
_CURRENCY_STRIP_RE = re.compile(r"[£$€,\s]")
_HEADER_CCY_PREFIX_RE = re.compile(r"\([a-z]{3}\)\s*")
_HEADER_CCY_SYMBOL_RE = re.compile(r"[£$€]\s*")


_EMPTY_STATS = {"date_rate": 0.0, "amount_rate": 0.0, "empty_rate": 0.0,
                "text_rate": 0.0, "mean_length": 0.0, "unique_ratio": 0.0,
                "monotonic_score": 0.0}


def column_stats(rows: list[dict], columns: list[dict]) -> dict[int, dict]:
    """Statistical fingerprint of every column in ONE vectorized pass.

    Builds a flat (column, value) frame over the non-marker rows (first
    cell per column per row, '' when absent) and computes the per-
    column signal rates with the batched predicate kernels — one
    compiled-regex sweep over all cells instead of a Python call per
    cell.  Semantics per column are the reference mapper's
    (semantic_mapper.py:50-130): date/amount/text hit rates over
    non-empty cells, empty rate over all rows, mean length, unique
    ratio, and the inverted sign-change score that flags balance
    columns (their running values rarely alternate direction).
    """
    import numpy as np
    import pandas as pd

    from .amounts import is_amount_like_batch
    from .dates import is_date_like_batch

    n_cols = len(columns)
    positions = {c["column_index"]: (c["x_start"] + c["x_end"]) / 2.0
                 for c in columns}
    data_rows = [r for r in rows if not r["is_balance_marker"]]
    if not data_rows or not n_cols:
        return {i: dict(_EMPTY_STATS, position=positions.get(i, 0.0))
                for i in range(n_cols)}

    grid = np.full((len(data_rows), n_cols), "", dtype=object)
    for ri, row in enumerate(data_rows):
        for cell in row["cells"]:
            ci = cell["column_index"]
            if ci < n_cols and grid[ri, ci] == "":
                grid[ri, ci] = cell["text"].strip()

    cols_flat = np.tile(np.arange(n_cols), len(data_rows))
    vals = pd.Series(grid.reshape(-1), dtype=object)
    non_empty = (vals != "").to_numpy()

    date_hit = (is_date_like_batch(vals).to_numpy() & non_empty)
    amount_hit = (is_amount_like_batch(vals).to_numpy() & non_empty)
    text_hit = (vals.str.match(_TEXTY_RE).fillna(False).to_numpy()
                & (vals.str.len() > 3).to_numpy() & non_empty)
    lengths = vals.str.len().to_numpy()

    total = len(data_rows)
    out: dict[int, dict] = {}
    for i in range(n_cols):
        mask = cols_flat == i
        ne = non_empty[mask]
        n_ne = int(ne.sum())
        n = n_ne if n_ne else 1
        col_vals = vals[mask][ne]

        # sign-change score over the parseable numeric sequence
        monotonic_score = 0.0
        nums = pd.to_numeric(col_vals.str.replace(_CURRENCY_STRIP_RE, "", regex=True),
                             errors="coerce").dropna().to_numpy()
        if len(nums) >= 3:
            diffs = np.diff(nums)
            if len(diffs):
                changes = int(((diffs[:-1] * diffs[1:]) < 0).sum())
                monotonic_score = (1.0 - changes / len(diffs)
                                   if len(diffs) > 2 else 0.0)

        out[i] = {
            "date_rate": int(date_hit[mask].sum()) / n,
            "amount_rate": int(amount_hit[mask].sum()) / n,
            "empty_rate": (total - n_ne) / total,
            "text_rate": int(text_hit[mask].sum()) / n,
            "mean_length": float(lengths[mask][ne].mean()) if n_ne else 0.0,
            "unique_ratio": col_vals.nunique() / n_ne if n_ne else 0.0,
            "monotonic_score": monotonic_score,
            "position": positions.get(i, 0.0),
        }
    return out


def _first_cell_value(row: dict, column_index: int) -> Optional[float]:
    """First cell's numeric value in a column, stats-pass semantics
    (currency/comma strip then float; unparseable -> None)."""
    for cell in row["cells"]:
        if cell["column_index"] == column_index:
            text = cell["text"].strip()
            if not text:
                return None
            try:
                return float(_CURRENCY_STRIP_RE.sub("", text))
            except ValueError:
                return None
    return None


def _balance_chain_evidence(sample_rows: list[dict], candidate: int,
                            others: list[int]) -> bool:
    """Promotion gate for the headerless rightmost-two-SINGLE_AMOUNT
    rule: promote to BALANCE only when the candidate column actually
    behaves like a running balance — consecutive deltas matching the
    other amount column within a 2p tolerance (one penny-off reported
    row shifts two adjacent deltas by 1p each) on a majority of
    comparable row pairs.  When fewer than two pairs parse, fall back
    to a magnitude test: running balances accumulate, so their mean
    magnitude dominates the per-row amounts.  Guards the genuine
    two-amount no-balance layout (e.g. paid-out/paid-in) from having
    its second amount column silently reclassified as a balance.
    """
    b_vals: list[Optional[float]] = []
    a_vals: list[Optional[float]] = []
    for row in sample_rows:
        if row["is_balance_marker"]:
            continue
        b_vals.append(_first_cell_value(row, candidate))
        a_vals.append(next(
            (v for v in (_first_cell_value(row, o) for o in others)
             if v is not None), None))

    fits = comparable = 0
    prev: Optional[float] = None
    for b, a in zip(b_vals, a_vals):
        if b is not None and prev is not None and a is not None:
            comparable += 1
            if abs(abs(b - prev) - abs(a)) <= 0.02:
                fits += 1
        if b is not None:
            prev = b
    if comparable >= 2:
        return fits * 2 >= comparable
    b_mag = [abs(b) for b in b_vals if b is not None]
    a_mag = [abs(a) for a in a_vals if a is not None]
    if not b_mag or not a_mag:
        return False
    return sum(b_mag) / len(b_mag) >= 2.0 * (sum(a_mag) / len(a_mag))


def normalise_header(header_text: str) -> str:
    """Header cell text as both header mappers match it (this module's
    and the grid tier's, orchestrator.py:1336-1377): lower-cased,
    without a ``(xxx)`` currency-code prefix or currency symbols; ''
    when nothing else is left."""
    h = _HEADER_CCY_PREFIX_RE.sub("", header_text.lower().strip()).strip()
    return _HEADER_CCY_SYMBOL_RE.sub("", h).strip()


def match_header(header_text: str) -> Optional[str]:
    """Single header cell -> role, with specificity overrides."""
    h = normalise_header(header_text)
    if not h:
        return None
    if "value" in h and "date" in h:
        return ROLE_VALUE_DATE
    if "paid out" in h or "money out" in h:
        return ROLE_DEBIT
    if "paid in" in h or "money in" in h:
        return ROLE_CREDIT
    for role, keywords in HEADER_MAP:
        if any(kw in h for kw in keywords):
            return role
    return None


def assign_column_roles(columns: list[dict],
                        header_texts: Optional[list[str]],
                        sample_rows) -> dict[int, str]:
    """Four-pass role assignment; mutates columns[i]['role'] too.

    ``sample_rows`` may be a row list or a zero-arg callable returning
    one: the rows are only consulted when headers leave columns
    unassigned (pass 2) or the balance-promotion gate fires (pass 2.5),
    so fully-headered segments — the dominant statement layout — never
    pay for the preliminary row-reconstruction pass at all.
    """
    roles: dict[int, str] = {}
    _rows_cache: list = []

    def _rows() -> list[dict]:
        if not _rows_cache:
            _rows_cache.append(sample_rows() if callable(sample_rows)
                               else sample_rows)
        return _rows_cache[0]

    # pass 1: header keywords
    if header_texts:
        for i, header in enumerate(header_texts):
            if i >= len(columns):
                break
            role = match_header(header)
            if role:
                if role == ROLE_DATE and ROLE_DATE in roles.values():
                    role = ROLE_VALUE_DATE
                roles[i] = role
    _header_roles = set(roles)  # columns whose role came from a header

    # pass 2: statistics for unassigned columns (one vectorized pass)
    all_stats = (column_stats(_rows(), columns)
                 if any(i not in roles for i in range(len(columns))) else {})
    for i, col in enumerate(columns):
        if i in roles:
            continue
        stats = all_stats[i]

        if stats["date_rate"] > 0.5 and ROLE_DATE not in roles.values():
            roles[i] = ROLE_DATE
        elif stats["date_rate"] > 0.3:
            roles[i] = ROLE_VALUE_DATE
        elif stats["amount_rate"] > 0.3:
            if stats["empty_rate"] > 0.3:
                if ROLE_DEBIT not in roles.values():
                    roles[i] = ROLE_DEBIT
                elif ROLE_CREDIT not in roles.values():
                    roles[i] = ROLE_CREDIT
                else:
                    roles[i] = ROLE_SINGLE_AMOUNT
            elif stats["monotonic_score"] > 0.6:
                roles[i] = ROLE_BALANCE
            else:
                roles[i] = ROLE_SINGLE_AMOUNT
        elif stats["text_rate"] > 0.4 and stats["mean_length"] > 8:
            roles[i] = ROLE_DESCRIPTION
        elif stats["unique_ratio"] > 0.7 and stats["mean_length"] < 12:
            roles[i] = ROLE_REFERENCE
        else:
            roles[i] = ROLE_UNKNOWN

    # pass 2.45: a STATS-assigned BALANCE with no amount column at all
    # is a misread — a running balance only exists relative to a
    # transaction amount column, and leaving it lone routes the solver
    # to the no-strategy case and drops every amount in the segment
    # (observed: sign-mixed single-amount columns can clear the
    # sign-change threshold by chance).  Demote it to SINGLE_AMOUNT.
    # Header-assigned BALANCE is never touched (reference pass-1
    # semantics, semantic_mapper.py:131).
    stats_balance = [i for i, r in roles.items()
                     if r == ROLE_BALANCE and i not in _header_roles]
    if stats_balance and not any(
            r in (ROLE_DEBIT, ROLE_CREDIT, ROLE_SINGLE_AMOUNT)
            for r in roles.values()):
        for i in stats_balance:
            roles[i] = ROLE_SINGLE_AMOUNT

    # pass 2.5: two amount columns with no BALANCE — the rightmost is
    # the running balance, IF its values actually chain like one
    # (_balance_chain_evidence).  The reference encodes this bank-layout
    # invariant through header keywords (semantic_mapper.py:131 maps
    # "balance" in pass 1) and its sign-change heuristic is marginal
    # exactly when credits are frequent (score ~1-2p(flip) hovers at
    # the 0.6 threshold), so headerless segments would otherwise end
    # with two SINGLE_AMOUNTs — and the field projection would take
    # the balance as the transaction amount.
    if ROLE_BALANCE not in roles.values():
        singles = [i for i, r in roles.items()
                   if r == ROLE_SINGLE_AMOUNT and i < len(columns)]
        if len(singles) >= 2:
            rightmost = max(singles, key=lambda i: columns[i]["x_start"])
            if _balance_chain_evidence(
                    _rows(), rightmost,
                    [i for i in singles if i != rightmost]):
                roles[rightmost] = ROLE_BALANCE

    # pass 3: fallbacks
    if ROLE_DATE not in set(roles.values()):
        for i in sorted(roles):
            if roles[i] == ROLE_UNKNOWN:
                roles[i] = ROLE_DATE
                break

    if ROLE_DESCRIPTION not in set(roles.values()):
        unknown_cols = [(i, columns[i]) for i in roles
                        if roles[i] == ROLE_UNKNOWN and i < len(columns)]
        if unknown_cols:
            widest = max(unknown_cols, key=lambda x: x[1]["x_end"] - x[1]["x_start"])
            roles[widest[0]] = ROLE_DESCRIPTION

    # pass 4: UNKNOWN between DATE and amount columns -> DESCRIPTION
    date_cols = [i for i, r in roles.items() if r == ROLE_DATE]
    amount_cols = [i for i, r in roles.items() if r in AMOUNT_ROLES]
    if date_cols and amount_cols:
        date_max_pos = max(columns[i]["x_end"] for i in date_cols if i < len(columns))
        amount_min_pos = min(columns[i]["x_start"] for i in amount_cols if i < len(columns))
        for i in sorted(roles):
            if roles[i] == ROLE_UNKNOWN and i < len(columns):
                col_mid = (columns[i]["x_start"] + columns[i]["x_end"]) / 2
                if date_max_pos <= col_mid <= amount_min_pos:
                    roles[i] = ROLE_DESCRIPTION

    for i, role in roles.items():
        if i < len(columns):
            columns[i]["role"] = role
    return roles
