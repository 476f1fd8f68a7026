"""UK-first date parsing kernel.

Semantics parity with the reference's date parser
(app/pipeline/date_parser.py:30-222): the ordered regex ladder IS the
semantics — named-month formats first, then DDMONYY (RBS), ISO,
day-first numerics, no-year formats with statement-period year
inference and Dec->Jan wrap, yy pivot at 50, the dd/mm-vs-mm/dd
ambiguity flag (cleared when the parse falls inside the statement
period + 5 days), and the exact confidence table
(0.95 / 0.70-ambiguous / 0.3 future / 0.5 pre-2000).

Determinism: the reference consults ``date.today()`` for year
inference and future-date suspicion; this kernel takes ``today`` as an
explicit parameter (callers pin it) so output is wall-clock-free.
"""

from __future__ import annotations

import re
from datetime import date, timedelta
from typing import NamedTuple, Optional

import pandas as pd

_MONTHS = {
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
    "jul": 7, "aug": 8, "sep": 9, "oct": 10, "nov": 11, "dec": 12,
    "january": 1, "february": 2, "march": 3, "april": 4, "june": 6,
    "july": 7, "august": 8, "september": 9, "october": 10,
    "november": 11, "december": 12,
}

# Default pinned "today" for deterministic runs; chosen as a fixed
# date after every fixture date so future-date suspicion never fires
# spuriously in tests.
DEFAULT_TODAY = date(2026, 1, 1)

# (pattern, format_name, potentially_ambiguous) — order is semantics.
DATE_LADDER: list[tuple[re.Pattern, str, bool]] = [
    (re.compile(r"(\d{1,2})\s+(January|February|March|April|May|June|July|August|September|October|November|December)\s+(\d{4})", re.IGNORECASE), "DD_MONTH_YYYY", False),
    (re.compile(r"(\d{1,2})\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\w*\s+(\d{4})", re.IGNORECASE), "DD_MON_YYYY", False),
    (re.compile(r"(\d{1,2})\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\w*\s+(\d{2})", re.IGNORECASE), "DD_MON_YY", False),
    (re.compile(r"(\d{1,2})(?:st|nd|rd|th)?\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\w*\s+(\d{2,4})", re.IGNORECASE), "DD_ORD_MON_YYYY", False),
    (re.compile(r"(\d{1,2})(JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|OCT|NOV|DEC)(\d{2})", re.IGNORECASE), "DDMONYY", False),
    (re.compile(r"(\d{1,2})(JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|OCT|NOV|DEC)(?!\w)", re.IGNORECASE), "DDMON", True),
    (re.compile(r"(\d{4})-(\d{2})-(\d{2})"), "YYYY-MM-DD", False),
    (re.compile(r"(\d{2})/(\d{2})/(\d{4})"), "DD/MM/YYYY", True),
    (re.compile(r"(\d{2})-(\d{2})-(\d{4})"), "DD-MM-YYYY", True),
    (re.compile(r"(\d{2})\.(\d{2})\.(\d{4})"), "DD.MM.YYYY", True),
    (re.compile(r"(\d{1,2})/(\d{1,2})/(\d{4})"), "D/M/YYYY", True),
    (re.compile(r"(\d{2})/(\d{2})/(\d{2})"), "DD/MM/YY", True),
    (re.compile(r"(\d{1,2})\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\w*", re.IGNORECASE), "DD_MON", True),
    (re.compile(r"(\d{1,2})/(\d{1,2})"), "DD/MM", True),
]

_NUMERIC_DAYFIRST = {"DD/MM/YYYY", "DD-MM-YYYY", "DD.MM.YYYY", "D/M/YYYY"}


class DateParse(NamedTuple):
    parsed_date: Optional[date]
    format_detected: str
    confidence: float
    is_ambiguous: bool
    ambiguity_note: Optional[str]


_NULL_PARSE = DateParse(None, "UNKNOWN", 0.0, False, None)


def _year_from_yy(yy: int) -> int:
    return 1900 + yy if yy > 50 else 2000 + yy


def _resolve(m: re.Match, fmt: str,
             period_start: Optional[date], period_end: Optional[date],
             today: date) -> Optional[date]:
    """Materialize a date from a ladder match; raises on invalid dates."""
    if fmt == "YYYY-MM-DD":
        return date(int(m.group(1)), int(m.group(2)), int(m.group(3)))

    if fmt in _NUMERIC_DAYFIRST:
        return date(int(m.group(3)), int(m.group(2)), int(m.group(1)))

    if fmt == "DD/MM/YY":
        return date(_year_from_yy(int(m.group(3))), int(m.group(2)), int(m.group(1)))

    if fmt == "DDMONYY":
        year = _year_from_yy(int(m.group(3)))
        return date(year, _MONTHS[m.group(2).lower()], int(m.group(1)))

    if fmt == "DDMON":
        if period_start:
            year = period_start.year
        elif period_end:
            year = period_end.year
        else:
            year = today.year
        parsed = date(year, _MONTHS[m.group(2).lower()], int(m.group(1)))
        if period_start and period_start.month >= 11 and parsed.month <= 2:
            parsed = parsed.replace(year=period_start.year + 1)
        return parsed

    if fmt == "DD_MON":
        # no-year named month: reference resolves via dateutil with
        # today's year, then overrides with the statement-period year
        # (wrapping Dec->Jan).
        parsed = date(today.year, _MONTHS[m.group(2).lower()], int(m.group(1)))
        if period_start:
            candidate = parsed.replace(year=period_start.year)
            if period_start.month == 12 and parsed.month == 1:
                candidate = parsed.replace(year=period_start.year + 1)
            return candidate
        return parsed

    if "MON" in fmt or "MONTH" in fmt:
        # DD_MONTH_YYYY / DD_MON_YYYY / DD_MON_YY / DD_ORD_MON_YYYY
        year = int(m.group(3))
        if year < 100:
            year = _year_from_yy(year)
        return date(year, _MONTHS[m.group(2).lower()], int(m.group(1)))

    if fmt == "DD/MM":
        day, month = int(m.group(1)), int(m.group(2))
        year = period_start.year if period_start else today.year
        if period_start and period_start.month == 12 and month == 1:
            year += 1
        return date(year, month, day)

    return None


# Memo over (raw, period, today): statement corpora render a bounded
# set of distinct date strings (days x formats), so the regex ladder
# re-parses the same strings constantly.  DateParse is an immutable
# NamedTuple, safe to share; the table is cleared when it exceeds the
# cap so adversarial high-cardinality input cannot grow worker memory.
_PARSE_MEMO: dict[tuple, DateParse] = {}
_PARSE_MEMO_CAP = 1 << 16


def parse_date(raw: str,
               period_start: Optional[date] = None,
               period_end: Optional[date] = None,
               today: date = DEFAULT_TODAY) -> DateParse:
    """Parse one date string through the UK-first ladder."""
    if raw is None:
        return _NULL_PARSE
    key = (raw, period_start, period_end, today)
    hit = _PARSE_MEMO.get(key)
    if hit is not None:
        return hit
    result = _parse_date_uncached(raw, period_start, period_end, today)
    if len(_PARSE_MEMO) >= _PARSE_MEMO_CAP:
        _PARSE_MEMO.clear()
    _PARSE_MEMO[key] = result
    return result


def _parse_date_uncached(raw: str,
                         period_start: Optional[date],
                         period_end: Optional[date],
                         today: date) -> DateParse:
    raw_clean = raw.strip()

    for pattern, fmt, potentially_ambiguous in DATE_LADDER:
        m = pattern.match(raw_clean)
        if not m:
            continue
        try:
            parsed = _resolve(m, fmt, period_start, period_end, today)
        except (ValueError, OverflowError, KeyError):
            continue
        if parsed is None:
            continue

        is_ambiguous = False
        ambiguity_note = None
        if potentially_ambiguous and fmt.startswith("DD"):
            groups = m.groups()
            if len(groups) >= 2:
                try:
                    day_val = int(groups[0])
                    month_val = int(groups[1])
                    if day_val <= 12 and month_val <= 12 and day_val != month_val:
                        is_ambiguous = True
                        ambiguity_note = f"dd/mm vs mm/dd ambiguous ({groups[0]}/{groups[1]})"
                        if period_start and period_end:
                            if period_start <= parsed <= period_end + timedelta(days=5):
                                is_ambiguous = False
                except (ValueError, IndexError):
                    pass

        confidence = 0.95 if not is_ambiguous else 0.70
        if parsed.year > today.year + 1:
            confidence = 0.3
        if parsed.year < 2000:
            confidence = 0.5

        return DateParse(parsed, fmt, confidence, is_ambiguous, ambiguity_note)

    return _NULL_PARSE


_DATE_LIKE_PATTERNS = [  # boolean use only -> non-capturing groups
    re.compile(r"\d{1,2}[/\-\.]\d{1,2}[/\-\.]\d{2,4}"),
    re.compile(r"\d{1,2}\s+(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)", re.IGNORECASE),
    re.compile(r"\d{4}-\d{2}-\d{2}"),
    re.compile(r"\d{1,2}(?:JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|OCT|NOV|DEC)", re.IGNORECASE),
]


def is_date_like(text: str) -> bool:
    if text is None:
        return False
    t = text.strip()
    if not t:
        return False
    return any(p.search(t) for p in _DATE_LIKE_PATTERNS)


def is_date_like_batch(values: pd.Series) -> pd.Series:
    """Vectorized is_date_like over a string Series."""
    s = values.fillna("").str.strip()
    out = pd.Series(False, index=values.index)
    for p in _DATE_LIKE_PATTERNS:
        out |= s.str.contains(p, regex=True)
    return out & (s != "")


def parse_date_batch(values: pd.Series,
                     period_start: Optional[date] = None,
                     period_end: Optional[date] = None,
                     today: date = DEFAULT_TODAY) -> pd.Series:
    """Vectorized parse_date -> Series[date|None].

    The dominant statement format (strict dd/mm/yyyy) takes a fully
    vectorized ``pd.to_datetime`` fast path; everything else (named
    months, DDMONYY, no-year forms, invalid calendar dates) falls back
    to the per-row ladder so semantics stay byte-identical with
    :func:`parse_date`.
    """
    s = values.fillna("").str.strip()
    out = pd.Series([None] * len(values), index=values.index, dtype=object)

    fast = s.str.fullmatch(r"\d{2}/\d{2}/\d{4}")
    if fast.any():
        parsed = pd.to_datetime(s[fast], format="%d/%m/%Y", errors="coerce")
        ok = parsed.notna()
        out.loc[parsed.index[ok]] = parsed[ok].dt.date
        # invalid calendar dates (NaT) re-enter the ladder below
        fast = fast.copy()
        fast.loc[parsed.index[~ok]] = False

    rest = ~fast & (s != "")
    if rest.any():
        out.loc[rest] = s[rest].map(
            lambda x: parse_date(x, period_start, period_end, today).parsed_date)
    return out
