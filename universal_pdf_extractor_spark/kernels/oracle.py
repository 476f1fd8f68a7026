"""Single-process whole-conversation oracle.

Runs the complete extraction chain for ONE conversation exactly as
the Spark pipeline is required to compute it (and as the reference
orchestrator does per document, app/pipeline/orchestrator.py:168-432).
The e2e equality tests compare the distributed pipeline's output
against this oracle per (conv_id, turn_idx) — the north-rule gate.
The oracle builds each segment's lines with the stage's own
``layout.segment_lines`` and analyses them with the stage's own
``segment_extract.analyse_segment`` (dates resolve against
``dates.DEFAULT_TODAY`` in both), so those tests check the stages
around these two functions, not the functions themselves.  A change
to either shows only in the golden files, in the DuckDB
``transcripts_records_*`` oracles, in the kernel tests
(tests/test_layout.py, tests/test_table_structure.py,
tests/test_fallback_tiers.py) and in a comparison with the previous
version's outputs.

Integrated-path parity notes (all mirrored by the Spark stages):
- classification, provider detection and customer-info extraction all
  receive ONE combined string `"\\n".join(non-empty per-turn
  raw_texts)` (orchestrator.py:317-330), so provider detection
  effectively scans the whole conversation despite its
  first-3-pages signature;
- document confidence is the weighted score over per-record
  confidences with confidence_balance := 0.8 if balance_confirmed
  else 0.0 (orchestrator.py:392-400);
- validation status follows the FULL scorer semantics — hard gates,
  warnings and gate-driven status overrides per
  confidence_scorer.py:72-133 — with the scorer fed complete
  transaction dicts (direction/amount) and the conversation's
  opening/closing balances (first segment's opening, last segment's
  closing).  The reference orchestrator integration
  (orchestrator.py:391-417) passes the scorer stripped dicts and
  re-derives status from thresholds alone, silently disabling gates
  2 and 5; this engine deliberately honours the scorer API instead.
- final_status: COMPLETED iff validation_status is PASS or
  PASS_WITH_WARNINGS (orchestrator.py:406-417 mapping collapsed over
  the gate-aware statuses).
"""

from __future__ import annotations

from decimal import Decimal
from typing import Optional

from .classify import (
    BOUNDARY_THRESHOLD,
    boundary_score,
    classify_document,
    detect_currency,
    detect_provider,
    score_document,
)
from .customer import extract_customer_info
from .layout import segment_lines, turn_view
from .segment_extract import analyse_segment


def segment_index_per_turn(top_texts: list[str]) -> list[int]:
    """Cumulative boundary count - 1 per turn (turn 0 is a boundary)."""
    seg = -1
    out = []
    for i, top in enumerate(top_texts):
        if i == 0 or boundary_score(top)[0] >= BOUNDARY_THRESHOLD:
            seg += 1
        out.append(seg)
    return out


def score_conversation(records: list[dict],
                       segments: list[dict]) -> dict:
    """Full scorer over a conversation's records: score_document with
    complete transaction dicts + conversation-level balances.

    Balance inputs for the mismatch gate: opening = the first
    record-bearing segment's opening marker; closing = the last
    record-bearing segment's closing marker, and only when it came
    from a DISTINCT later marker (first==last single-marker segments
    give no independent closing evidence — feeding opening back in
    would fire the gate on |credits-debits| noise).

    Confidences are re-rounded to 4 dp first, matching what the
    distributed path persists (Decimal(5,4), orchestrator.py:676-678)
    and therefore what its aggregates average.
    """
    tx_dicts = [
        {
            "confidence_amount": round(r["confidence_amount"], 4),
            "confidence_direction": round(r["confidence_direction"], 4),
            "confidence_date": round(r["confidence_date"], 4),
            "confidence_balance": 0.8 if r["balance_confirmed"] else 0.0,
            "balance_confirmed": r["balance_confirmed"],
            "direction": r["direction"],
            "amount": r["amount"],
        }
        for r in records
    ]
    bearing = [s for s in segments if s["n_records"] > 0]
    opening = bearing[0]["opening_balance"] if bearing else None
    closing = (bearing[-1]["closing_balance"]
               if bearing and bearing[-1].get("closing_balance_distinct")
               else None)
    # quantize to the at-rest scale (DecimalType(15,2)) the distributed
    # stage reads back, so the mismatch-gate diff — and its rendering
    # inside the gate name — agree for markers like '1,500' (scale 0)
    q2 = Decimal("0.01")
    opening = opening.quantize(q2) if opening is not None else None
    closing = closing.quantize(q2) if closing is not None else None
    result = score_document(tx_dicts, opening_balance=opening,
                            closing_balance=closing)
    result["final_status"] = (
        "COMPLETED"
        if result["validation_status"] in ("PASS", "PASS_WITH_WARNINGS")
        else "NEEDS_REVIEW")
    return result


def process_conversation(turns: list[tuple[int, Optional[str]]]) -> dict:
    """Full oracle for one conversation.

    ``turns``: [(turn_idx, text)] sorted by turn_idx.
    Returns {turns, records, segments, conversation}.
    """
    views = [turn_view(text) for _, text in turns]
    top_texts = [v["top_text"] for v in views]
    seg_per_turn = segment_index_per_turn(top_texts)

    turn_rows = [
        {
            "turn_idx": t_idx,
            "raw_text": v["raw_text"],
            "clean_text": v["clean_text"],
            "spans": v["spans"],
            "top_text": v["top_text"],
            "n_lines": v["n_lines"],
            "n_tokens": v["n_tokens"],
            "segment_index": seg,
        }
        for (t_idx, _), v, seg in zip(turns, views, seg_per_turn)
    ]

    # conversation-level analysis over combined text
    conv_text = "\n".join(v["raw_text"] for v in views if v["raw_text"])
    classification = classify_document([conv_text])
    provider = detect_provider([conv_text])
    customer = extract_customer_info(conv_text)

    # per-segment extraction over the same lines the stage builds
    records = []
    segments = []
    n_segments = seg_per_turn[-1] + 1 if seg_per_turn else 0
    for seg_idx in range(n_segments):
        seg_turns = [turn for turn, s in zip(turns, seg_per_turn)
                     if s == seg_idx]
        result = analyse_segment(segment_lines(seg_turns))
        segments.append({
            "segment_index": seg_idx,
            "opening_balance": result["opening_balance"],
            "closing_balance": result["closing_balance"],
            "closing_balance_distinct": result["closing_balance_distinct"],
            "n_records": len(result["records"]),
        })
        for rec in result["records"]:
            rec["segment_index"] = seg_idx
            rec["fallback_used"] = result["fallback_used"]
            records.append(rec)

    score = score_conversation(records, segments)

    conversation = {
        "doc_family": classification["doc_family"],
        "doc_family_confidence": round(classification["confidence"], 4),
        "provider": provider["provider_name"],
        "provider_confidence": round(provider["confidence"], 4),
        "currency": detect_currency(conv_text),
        "account_holder_name": customer["account_holder_name"],
        "account_holder_address": customer["account_holder_address"],
        "account_holder_postcode": customer["account_holder_postcode"],
        "document_confidence": score["document_confidence"],
        "reconciliation_rate": score["reconciliation_rate"],
        "validation_status": score["validation_status"],
        "final_status": score["final_status"],
        "hard_gate_failures": score["hard_gate_failures"],
        "warnings": score["warnings"],
        "row_count": len(records),
        "n_segments": n_segments,
    }
    return {"turns": turn_rows, "records": records,
            "segments": segments, "conversation": conversation}
