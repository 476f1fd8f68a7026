"""Pattern tables shared by the boilerplate-strip, classification,
provider-detection and segmentation stages.

All pattern lists mirror the reference vocabularies exactly:
- balance markers / summary rows: app/pipeline/table_extractor.py:50-102
- header keywords:                app/pipeline/table_extractor.py:326-331
- doc classifier keywords:        app/pipeline/doc_classifier.py:22-59
- provider patterns:              app/pipeline/provider_detector.py:19-96
- segmenter signal groups:        app/pipeline/segmenter.py:23-46
- customer-info regexes:          app/pipeline/orchestrator.py:56-76

The pipeline stages evaluate these lists only through the kernels,
in Python ``re``.  Some lists also get a single combined alternation
(boolean semantics of "any pattern matches" == one alternation
matches): the boilerplate pair drives the RE2 fast path of
``is_summary_row_batch``, and ``entry_queries`` embeds the boilerplate
and segmenter alternations in its oracle SQL and diagnostic queries,
so those are kept free of Python-only constructs.
"""

from __future__ import annotations

import re

import pandas as pd

BALANCE_MARKER_PATTERNS = [
    r"(balance\s+)?(carried|brought)\s+(forward|fwd|f/?wd)",
    r"\bb/?f\b",
    r"\bc/?f\b",
    r"balance\s+(at|on)\s+(start|end|close)",
    r"(opening|closing)\s+balance",
    r"total\s+balance\s+(carried|brought)",
    r"continued\s+(on|over)",
    r"statement\s+continued",
]

SUMMARY_ROW_PATTERNS = [
    r"personal\s+account\s*(balance|statement)",
    r"(total|net)\s+(balance|outgoings|deposits|income|payments|in|out)",
    r"balance\s+in\s+pots?",
    r"(including|excluding)\s+(all\s+)?pots?",
    r"(regular|savings)\s+pots?\s+(with|provided)",
    r"sort\s*code",
    r"account\s*number",
    r"\biban\b",
    r"\bbic\b",
    r"\bswift\b",
    r"statement\s+period",
    r"(from|to)\s+\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4}",
    r"(financial\s+services|compensation\s+scheme|fscs)",
    r"(authorised|regulated)\s+by",
    r"registered\s+(office|in\s+england)",
    r"company\s+(registered|number|no)",
    r"monzo\s+bank\s+limited",
    r"pot\s+(type|name|balance|statement)",
    r"this\s+pot\s+was\s+(closed|opened)",
    r"(important\s+information|compensation\s+arrangements)",
    r"(page|sheet)\s+\d+\s+(of|/)\s+\d+",
]

HEADER_KEYWORDS = {
    "date", "description", "details", "particulars", "narrative",
    "debit", "credit", "paid out", "paid in", "money out", "money in",
    "withdrawal", "deposit", "balance", "amount", "reference", "type",
    "dr", "cr", "running balance", "closing balance", "transaction",
}

MOTOR_FINANCE_KEYWORDS = [
    r"hire\s+purchase",
    r"conditional\s+sale",
    r"personal\s+contract\s+(purchase|plan|hire)",
    r"\bpcp\b",
    r"\bhp\b(?!\s*(sauce|printer))",
    r"finance\s+agreement",
    r"vehicle\s+registration",
    r"settlement\s+figure",
    r"balloon\s+payment",
    r"guaranteed\s+minimum\s+future\s+value",
    r"optional\s+final\s+payment",
    r"total\s+amount\s+payable",
    r"annual\s+percentage\s+rate",
    r"\bapr\b\s*[\d%]",
    r"motor\s+finance",
    r"vehicle\s+finance",
    r"car\s+finance",
]

BANK_STATEMENT_KEYWORDS = [
    r"bank\s+statement",
    r"current\s+account",
    r"savings\s+account",
    r"sort\s+code",
    r"account\s+number",
    r"direct\s+debit",
    r"standing\s+order",
    r"faster\s+payment",
    r"\bbacs\b",
    r"\bchaps\b",
    r"overdraft",
    r"brought\s+forward",
    r"carried\s+forward",
    r"opening\s+balance",
    r"closing\s+balance",
]

PROVIDER_PATTERNS: dict[str, list[str]] = {
    "Barclays": [r"barclays", r"barclays\s+bank", r"sort\s+code\s*:\s*20[\-\s]\d{2}[\-\s]\d{2}"],
    "HSBC": [r"hsbc", r"hsbc\s+uk", r"sort\s+code\s*:\s*40[\-\s]\d{2}[\-\s]\d{2}"],
    "Lloyds": [r"lloyds", r"lloyds\s+bank", r"lloyds\s+banking\s+group", r"sort\s+code\s*:\s*30[\-\s]\d{2}[\-\s]\d{2}"],
    "NatWest": [r"natwest", r"national\s+westminster", r"sort\s+code\s*:\s*60[\-\s]\d{2}[\-\s]\d{2}"],
    "RBS": [r"\brbs\b", r"royal\s+bank\s+of\s+scotland", r"sort\s+code\s*:\s*83[\-\s]\d{2}[\-\s]\d{2}"],
    "Santander": [r"santander", r"sort\s+code\s*:\s*09[\-\s]\d{2}[\-\s]\d{2}"],
    "Halifax": [r"halifax", r"sort\s+code\s*:\s*11[\-\s]\d{2}[\-\s]\d{2}"],
    "Nationwide": [r"nationwide", r"nationwide\s+building\s+society", r"sort\s+code\s*:\s*07[\-\s]\d{2}[\-\s]\d{2}"],
    "TSB": [r"\btsb\b", r"tsb\s+bank"],
    "Metro Bank": [r"metro\s+bank", r"sort\s+code\s*:\s*23[\-\s]05[\-\s]\d{2}"],
    "Monzo": [r"monzo", r"monzo\s+bank", r"sort\s+code\s*:\s*04[\-\s]00[\-\s]04"],
    "Starling": [r"starling", r"starling\s+bank", r"sort\s+code\s*:\s*60[\-\s]83[\-\s]71"],
    "Revolut": [r"revolut"],
    "Allied Irish": [r"allied\s+irish", r"\baib\b"],
    "Bank of Ireland": [r"bank\s+of\s+ireland", r"\bboi\b"],
    "Clydesdale": [r"clydesdale", r"virgin\s+money"],
    "Co-operative Bank": [r"co[\-\s]?operative\s+bank", r"the\s+co[\-\s]?op\s+bank"],
}

STATEMENT_PERIOD_PATTERNS = [
    r"statement\s+period\s*[:\-]\s*\d",
    r"from\s+\d{1,2}[\s/\-]\w+[\s/\-]\d{2,4}\s+(to|until)",
    r"statement\s+date\s*[:\-]",
    r"period\s+ending\s*[:\-]",
    r"date\s+range\s*[:\-]",
]

OPENING_BALANCE_PATTERNS = [
    r"(opening|brought?\s+forward|b/f)\s+(balance|bal)",
    r"balance\s+(brought|carried)\s+forward",
    r"previous\s+balance",
    r"balance\s+at\s+start",
]

ACCOUNT_HEADER_PATTERNS = [
    r"(account\s+(number|no)|sort\s+code|a/c\s+no)",
    r"\d{2}[\-\s]\d{2}[\-\s]\d{2}\s+\d{6,8}",
]

PAGE_NUMBER_PATTERNS = [
    r"page\s+1\s+of\s+\d+",
    r"page\s+1\b",
]

UK_POSTCODE_PATTERN = r"\b([A-Z]{1,2}\d[A-Z\d]?\s*\d[A-Z]{2})\b"

NAME_PREFIX_PATTERN = r"^(Mr\.?|Mrs\.?|Ms\.?|Miss|Dr\.?|Prof\.?|Sir|Lady)\s+"

CUSTOMER_BOILERPLATE_PATTERN = (
    r"(statement|sort\s*code|account\s*number|account\s*no|"
    r"iban|bic|page\s+\d|sheet\s+\d|branch|telephone|"
    r"barclays|hsbc|lloyds|natwest|rbs|santander|halifax|"
    r"nationwide|monzo|starling|revolut|tsb|metro\s+bank|"
    r"co[\-\s]?operative|allied\s+irish|aib|bank\s+of\s+ireland|"
    r"clydesdale|virgin\s+money|date\s*:)"
)


def _noncapturing(pattern: str) -> str:
    """Rewrite capturing groups to non-capturing (boolean use only).

    Valid for these fixed tables (no escaped or class-embedded parens);
    keeps pandas' str.contains from warning about match groups.
    """
    return re.sub(r"\((?!\?)", "(?:", pattern)


def combine(patterns: list[str]) -> str:
    """One alternation equivalent to any-of for boolean `search`."""
    return "(?:" + ")|(?:".join(_noncapturing(p) for p in patterns) + ")"


BALANCE_MARKER_RLIKE = combine(BALANCE_MARKER_PATTERNS)
SUMMARY_ROW_RLIKE = combine(SUMMARY_ROW_PATTERNS)
STATEMENT_PERIOD_RLIKE = combine(STATEMENT_PERIOD_PATTERNS)
OPENING_BALANCE_RLIKE = combine(OPENING_BALANCE_PATTERNS)
ACCOUNT_HEADER_RLIKE = combine(ACCOUNT_HEADER_PATTERNS)

_BALANCE_MARKER_RE = re.compile(BALANCE_MARKER_RLIKE)
_SUMMARY_ROW_RE = re.compile(SUMMARY_ROW_RLIKE)
# single pass for "balance marker OR summary row" (boolean-equivalent
# to the two-regex OR; used by the batch boilerplate strip)
_BOILERPLATE_RE = re.compile(f"(?:{BALANCE_MARKER_RLIKE})|(?:{SUMMARY_ROW_RLIKE})")


def is_balance_marker(text: str) -> bool:
    """Carried/brought-forward marker predicate (on lowered text)."""
    if not text:
        return False
    return _BALANCE_MARKER_RE.search(text.lower().strip()) is not None


def is_summary_row(text: str) -> bool:
    """Header/footer/boilerplate predicate (balance markers included)."""
    if not text:
        return False
    t = text.lower().strip()
    if not t:
        return False
    if _BALANCE_MARKER_RE.search(t):
        return True
    return _SUMMARY_ROW_RE.search(t) is not None


# ASCII characters Python re's \s matches and RE2's does not
_PY_ONLY_SPACE = r"[\x0b\x1c-\x1f]"


def _search_batch(lowered: pd.Series, pattern: str, py_re: "re.Pattern") -> pd.Series:
    """Vectorized boolean `search` over a lowered string Series.

    Fast path: pyarrow's RE2 engine (linear-time DFA — ~20x faster than
    Python re's backtracking scan over these wide alternations), used
    ONLY for rows where the two engines agree.  RE2's classes are
    ASCII-only and its \\s is [\\t\\n\\f\\r ]; Python re's are Unicode,
    so its \\s also takes \\x0b and \\x1c-\\x1f.  Rows with a non-ASCII
    character or one of those five controls take the Python re path,
    keeping batch/scalar parity exact for every input (pinned by
    tests/test_textops.py / test_layout.py).
    """
    import numpy as np

    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.array(lowered, type=pa.string())
        res = pc.match_substring_regex(arr, pattern) \
            .to_numpy(zero_copy_only=False).astype(bool)
        re2_ok = pc.and_(pc.string_is_ascii(arr),
                         pc.invert(pc.match_substring_regex(arr, _PY_ONLY_SPACE)))
        py_rows = np.flatnonzero(~re2_ok.to_numpy(zero_copy_only=False))
        if len(py_rows):
            vals = lowered.to_numpy(dtype=object)
            for i in py_rows:
                res[i] = py_re.search(vals[i]) is not None
        return pd.Series(res, index=lowered.index)
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return lowered.str.contains(py_re, regex=True)


_BOILERPLATE_RLIKE = (f"(?:{BALANCE_MARKER_RLIKE})|(?:{SUMMARY_ROW_RLIKE})")


def is_summary_row_batch(values: pd.Series) -> pd.Series:
    s = values.fillna("").str.lower().str.strip()
    return (s != "") & _search_batch(s, _BOILERPLATE_RLIKE, _BOILERPLATE_RE)
