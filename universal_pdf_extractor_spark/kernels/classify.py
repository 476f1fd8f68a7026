"""Document classification, provider detection, segment-boundary
scoring and confidence scoring.

Parity with:
- app/pipeline/doc_classifier.py:62-105  (keyword scoring, 0.15/0.12
  weights, 1.0 cap, argmax with 0.3 floor else UNKNOWN)
- app/pipeline/provider_detector.py:99-127 (first 3 pages,
  min(0.4 x matches, 1.0), best-score-wins with first-seen ties)
- app/pipeline/segmenter.py:49-119 (strong signals 1.0, moderate 0.4,
  boundary at score >= 0.8, confidence min(score/2, 1), page 0 always)
- app/pipeline/confidence_scorer.py:26-148 (weighted score + hard
  gates + warnings + PASS/WARN/FAIL thresholds 0.85/0.70/0.50)

These functions are the only implementation: the Spark stages call
them from the Arrow UDFs they already run (stages.classify per
conversation, the tokenize view UDF per turn), and kernels.oracle
calls them per conversation, so both keep Python `re` semantics.
"""

from __future__ import annotations

import re
from decimal import Decimal
from typing import Optional

from .patterns import (
    ACCOUNT_HEADER_PATTERNS,
    BANK_STATEMENT_KEYWORDS,
    MOTOR_FINANCE_KEYWORDS,
    OPENING_BALANCE_PATTERNS,
    PAGE_NUMBER_PATTERNS,
    PROVIDER_PATTERNS,
    STATEMENT_PERIOD_PATTERNS,
)

MOTOR_FINANCE_WEIGHT = 0.15
BANK_STATEMENT_WEIGHT = 0.12
CLASSIFY_FLOOR = 0.3
PROVIDER_MATCH_WEIGHT = 0.4
PROVIDER_SCAN_PAGES = 3
BOUNDARY_THRESHOLD = 0.8

CONFIDENCE_PASS_THRESHOLD = 0.85
CONFIDENCE_WARN_THRESHOLD = 0.70
CONFIDENCE_FAIL_THRESHOLD = 0.50

DOCUMENT_WEIGHTS = {
    "reconciliation_rate": 0.35,
    "mean_balance_confidence": 0.25,
    "mean_direction_confidence": 0.20,
    "mean_amount_confidence": 0.10,
    "mean_date_confidence": 0.10,
}

_MF_RES = [re.compile(p, re.IGNORECASE) for p in MOTOR_FINANCE_KEYWORDS]
_BS_RES = [re.compile(p, re.IGNORECASE) for p in BANK_STATEMENT_KEYWORDS]
_PROVIDER_RES = {name: [re.compile(p, re.IGNORECASE) for p in pats]
                 for name, pats in PROVIDER_PATTERNS.items()}
_SEG_RES = {
    "period": [re.compile(p, re.IGNORECASE) for p in STATEMENT_PERIOD_PATTERNS],
    "opening": [re.compile(p, re.IGNORECASE) for p in OPENING_BALANCE_PATTERNS],
    "account": [re.compile(p, re.IGNORECASE) for p in ACCOUNT_HEADER_PATTERNS],
    "page": [re.compile(p, re.IGNORECASE) for p in PAGE_NUMBER_PATTERNS],
}


def classify_document(page_texts: list[str]) -> dict:
    """Bank statement vs motor finance vs unknown, over all pages."""
    combined_text = " ".join(page_texts).lower()
    mf_score = min(sum(MOTOR_FINANCE_WEIGHT for p in _MF_RES if p.search(combined_text)), 1.0)
    bs_score = min(sum(BANK_STATEMENT_WEIGHT for p in _BS_RES if p.search(combined_text)), 1.0)
    # float-fold parity: reference accumulates 0.15/0.12 one match at a
    # time; sum() over the generator reproduces the same fp ordering.
    if bs_score > mf_score and bs_score >= CLASSIFY_FLOOR:
        return {"doc_family": "BANK_STATEMENT", "confidence": bs_score}
    if mf_score > bs_score and mf_score >= CLASSIFY_FLOOR:
        return {"doc_family": "MOTOR_FINANCE", "confidence": mf_score}
    return {"doc_family": "UNKNOWN", "confidence": max(bs_score, mf_score)}


# Currency detection: the reference schema carries documents.currency
# / transactions.currency char(3) but hardcodes the default 'GBP' and
# never populates it from content (tables.py:57-59,323-325).  The
# engine detects it from marker frequency — symbols + ISO codes the
# amount kernel already strips — defaulting to GBP exactly when no
# marker exists (the reference's behavior on marker-free documents).
_CURRENCY_PATTERNS = [  # order = tie-break priority
    ("GBP", re.compile("£|gbp")),
    ("USD", re.compile(r"\$|usd")),
    ("EUR", re.compile("€|eur")),
]

CURRENCY_PATTERN_STRINGS = [(c, p.pattern) for c, p in _CURRENCY_PATTERNS]


def detect_currency(text: str) -> str:
    """Most frequent currency marker in (lowered) text; GBP default."""
    t = text.lower()
    best_ccy, best_n = "GBP", 0
    for ccy, pat in _CURRENCY_PATTERNS:
        n = len(pat.findall(t))
        if n > best_n:
            best_ccy, best_n = ccy, n
    return best_ccy if best_n > 0 else "GBP"


def detect_provider(page_texts: list[str]) -> dict:
    """Best-scoring provider over the first 3 pages (ties: first seen)."""
    combined_text = " ".join(page_texts[:PROVIDER_SCAN_PAGES]).lower()
    best_match: Optional[str] = None
    best_score = 0.0
    for provider, patterns in _PROVIDER_RES.items():
        match_count = sum(1 for p in patterns if p.search(combined_text))
        if match_count > 0:
            score = min(match_count * PROVIDER_MATCH_WEIGHT, 1.0)
            if score > best_score:
                best_score = score
                best_match = provider
    return {"provider_name": best_match, "confidence": best_score}


def boundary_score(top_text: str) -> tuple[float, list[str]]:
    """Segment-boundary score for one page's top-15% text."""
    score = 0.0
    signals = []
    if any(p.search(top_text) for p in _SEG_RES["period"]):
        score += 1.0
        signals.append("STATEMENT_PERIOD_TEXT")
    if any(p.search(top_text) for p in _SEG_RES["opening"]):
        score += 1.0
        signals.append("OPENING_BALANCE_TEXT")
    if any(p.search(top_text) for p in _SEG_RES["account"]):
        score += 1.0
        signals.append("ACCOUNT_HEADER_REPEAT")
    if any(p.search(top_text) for p in _SEG_RES["page"]):
        score += 0.4
        signals.append("PAGE_NUMBER_RESET")
    return score, signals


def score_document(transactions: list[dict],
                   opening_balance: Optional[Decimal] = None,
                   closing_balance: Optional[Decimal] = None) -> dict:
    """Weighted document confidence with hard gates."""
    if not transactions:
        return {"document_confidence": 0.0, "reconciliation_rate": 0.0,
                "validation_status": "FAIL",
                "hard_gate_failures": ["NO_TRANSACTIONS"], "warnings": []}

    n = len(transactions)
    mean_amount = sum(t.get("confidence_amount", 0.0) for t in transactions) / n
    mean_direction = sum(t.get("confidence_direction", 0.0) for t in transactions) / n
    mean_date = sum(t.get("confidence_date", 0.0) for t in transactions) / n
    mean_balance = sum(t.get("confidence_balance", 0.0) for t in transactions) / n
    confirmed = sum(1 for t in transactions if t.get("balance_confirmed", False))
    recon_rate = confirmed / n

    weighted = (
        DOCUMENT_WEIGHTS["reconciliation_rate"] * recon_rate
        + DOCUMENT_WEIGHTS["mean_balance_confidence"] * mean_balance
        + DOCUMENT_WEIGHTS["mean_direction_confidence"] * mean_direction
        + DOCUMENT_WEIGHTS["mean_amount_confidence"] * mean_amount
        + DOCUMENT_WEIGHTS["mean_date_confidence"] * mean_date
    )

    hard_gate_failures = []
    warnings = []

    unknown_count = sum(1 for t in transactions if t.get("direction") == "UNKNOWN")
    if unknown_count == n:
        hard_gate_failures.append("HARD_GATE_ALL_DIRECTIONS_UNKNOWN")
    if recon_rate < 0.5 and n > 5:
        hard_gate_failures.append("HARD_GATE_LOW_RECONCILIATION")
    if mean_amount < 0.5:
        hard_gate_failures.append("HARD_GATE_LOW_AMOUNT_CONFIDENCE")

    if opening_balance is not None and closing_balance is not None:
        total_debits = sum(abs(t.get("amount") or Decimal("0")) for t in transactions
                           if t.get("direction") == "DEBIT" and t.get("amount") is not None)
        total_credits = sum(abs(t.get("amount") or Decimal("0")) for t in transactions
                            if t.get("direction") == "CREDIT" and t.get("amount") is not None)
        balance_diff = abs(opening_balance + total_credits - total_debits - closing_balance)
        if balance_diff > Decimal("5.00"):
            hard_gate_failures.append(f"HARD_GATE_BALANCE_MISMATCH_{balance_diff}")

    if 0 < unknown_count < n:
        warnings.append(f"WARN_{unknown_count}_UNKNOWN_DIRECTIONS")
    if mean_date < 0.7:
        warnings.append("WARN_LOW_DATE_CONFIDENCE")
    if 0.5 <= recon_rate < 0.8:
        warnings.append("WARN_MODERATE_RECONCILIATION")

    if hard_gate_failures:
        if any("BALANCE_MISMATCH" in g for g in hard_gate_failures):
            validation_status = "NEEDS_REVIEW"
        else:
            validation_status = "FAIL"
    elif weighted >= CONFIDENCE_PASS_THRESHOLD and not warnings:
        validation_status = "PASS"
    elif weighted >= CONFIDENCE_WARN_THRESHOLD:
        validation_status = "PASS_WITH_WARNINGS"
    elif weighted >= CONFIDENCE_FAIL_THRESHOLD:
        validation_status = "NEEDS_REVIEW"
    else:
        validation_status = "FAIL"

    return {
        "document_confidence": round(weighted, 4),
        "reconciliation_rate": round(recon_rate, 4),
        "validation_status": validation_status,
        "hard_gate_failures": hard_gate_failures,
        "warnings": warnings,
    }
