"""Layout-aware tokenization over transcript turns.

The reference tokenizes PDF pages into (text, bbox) tokens normalized
to [0,1] page space, clusters them into lines by y-proximity, and
joins line text with single spaces
(app/engines/pdfplumber_engine.py:19-65,110-133; ordering invariants
app/schemas/contracts.py:90-98).  In the transcripts graft a turn is
a page: deterministic synthetic coordinates are derived from the turn
text itself (original line number -> y, character offset -> x) so
every downstream geometric heuristic keeps its exact thresholds.
Each non-blank source line is one line by construction, so no
y-clustering step exists.

Two functions share the tokenization and the y-geometry:
  - :func:`tokenize_turn`, the per-turn token IR (the reference IR the
    vectorized ``turn_view_batch`` and ``tokens_table`` are pinned
    against);
  - :func:`segment_lines`, the only function that builds the lines the
    segment analysis reads, with x decided over the whole segment.

Geometry constants (all in [0,1] "page" space):
  line i (0-based, counting ORIGINAL lines incl. blanks):
      y0 = Y_START + i * LINE_PITCH,  y1 = y0 + LINE_HEIGHT
  tokenize_turn, token at chars [a, b):
      x0 = X_MARGIN + (a / W) * X_SPAN,  x1 = X_MARGIN + (b / W) * X_SPAN
      with W = max(PAGE_WIDTH_CHARS, longest line in the turn);
      the 5% margin mirrors real page margins and keeps the leftmost
      column's histogram bin off index 0, where no local maximum can
      exist (scipy and our peak finder agree on that edge rule);
      bbox values rounded to 6 dp like the reference engine
      (pdfplumber_engine.py:120-123)
  segment_lines, token at chars [a, b):
      x0 = a / S,  x1 = b / S  (unrounded)
      with S = the longest token end over every turn of the segment

Derived properties used downstream:
  - same-line tokens share y0 exactly; distinct lines differ by
    LINE_PITCH (0.012) > the reference's y_tolerance (0.005), so its
    line clustering would be the identity on original lines;
  - adjacent-line gap (0.004) <= 1.8 * LINE_HEIGHT (0.0144) -> the
    continuation-merge heuristic fires for adjacent lines and breaks
    across a skipped line (gap 0.016), mirroring real pages;
  - "top 15% of the page" (segmenter y<0.15) == original lines 0-11.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from typing import Optional

import numpy as np
import pandas as pd

from .classify import boundary_score
from .patterns import is_summary_row, is_summary_row_batch

Y_START = 0.01
LINE_PITCH = 0.012
LINE_HEIGHT = 0.008
PAGE_WIDTH_CHARS = 100.0
X_MARGIN = 0.05
X_SPAN = 0.9
TOP_REGION_Y = 0.15          # segmenter header-scan band
TOP_REGION_LINES = 12        # lines with y0 < 0.15 under the constants above
TOKEN_CONFIDENCE = 0.95      # PDF-text-path default confidence
# TOOL-path (OCR-fallback analogue) token confidence: the reference's
# tesseract path reports per-token OCR confidences that average below
# the text path's fixed 0.95 (tesseract_engine.py:108-133,195-212) and
# drive preprocessing-profile selection.  Transcript tool payloads
# have no OCR noise source, so the analogue is a deterministic
# sub-0.95 tier marking the fallback channel.
TOOL_TOKEN_CONFIDENCE = 0.88

_TOKEN_RE = re.compile(r"\S+")

# coordinate memo tables: x positions repeat per page width, y per
# line index — identical values to the inline formulas (same round)
_X_TABLES: dict[float, list[float]] = {}
_Y0S: list[float] = []
_Y1S: list[float] = []


def _x_table(width: float, need: int) -> list[float]:
    table = _X_TABLES.get(width)
    if table is None or len(table) <= need:
        table = [round(X_MARGIN + (i / width) * X_SPAN, 6)
                 for i in range(max(need + 1, int(width) + 2))]
        _X_TABLES[width] = table
        if len(_X_TABLES) > 64:  # bound the cache for adversarial widths
            _X_TABLES.clear()
            _X_TABLES[width] = table
    return table


def _y_tables(need: int) -> tuple[list[float], list[float]]:
    while len(_Y0S) <= need:
        i = len(_Y0S)
        _Y0S.append(round(Y_START + i * LINE_PITCH, 6))
        _Y1S.append(round(Y_START + i * LINE_PITCH + LINE_HEIGHT, 6))
    return _Y0S, _Y1S


def _page_width(text_lines: list[str]) -> float:
    longest = max((len(ln) for ln in text_lines), default=0)
    return max(PAGE_WIDTH_CHARS, float(longest))


def tokenize_turn(text: Optional[str]) -> tuple[list[dict], list[dict]]:
    """Turn text -> (tokens, lines) IR.

    tokens: {text, x0, y0, x1, y1, confidence, start, end}
      (schemas.TOKEN_TYPE)
      where start/end are char offsets into the ORIGINAL turn text.
    lines:  {text, x0, y0, x1, y1, line_index, confidence, tokens: [...]}
      ordered by y0, text == ' '.join(token texts) per the contract.
    """
    if not text:
        return [], []
    raw_lines = text.split("\n")
    width = _page_width(raw_lines)
    xs = _x_table(width, max(len(ln) for ln in raw_lines))
    y0s, y1s = _y_tables(len(raw_lines))

    tokens: list[dict] = []
    lines: list[dict] = []
    offset = 0
    for i, raw in enumerate(raw_lines):
        line_tokens = []
        y0 = y0s[i]
        y1 = y1s[i]
        for m in _TOKEN_RE.finditer(raw):
            a, b = m.span()
            tok = {
                "text": m.group(0),
                "x0": xs[a],
                "y0": y0,
                "x1": xs[b],
                "y1": y1,
                "confidence": TOKEN_CONFIDENCE,
                "start": offset + a,
                "end": offset + b,
            }
            line_tokens.append(tok)
            tokens.append(tok)
        if line_tokens:
            lines.append({
                "text": " ".join(t["text"] for t in line_tokens),
                "x0": min(t["x0"] for t in line_tokens),
                "y0": y0,
                "x1": max(t["x1"] for t in line_tokens),
                "y1": y1,
                "line_index": len(lines),
                "confidence": TOKEN_CONFIDENCE,
                "tokens": line_tokens,
            })
        offset += len(raw) + 1
    return tokens, lines


def segment_lines(turns: Iterable[tuple[int, Optional[str]]]) -> list[dict]:
    """The lines ``analyse_segment`` reads, built once per segment.

    ``turns``: the segment's (turn_idx, payload) pairs in turn order.
    Each turn is tokenized as :func:`tokenize_turn` does (same line
    text, y0/y1 and line_index, same token text/start/end) and each
    line is tagged with its turn_idx.  x is segment-wide: a token's
    x0/x1 are its char columns divided by the segment's longest token
    end, so a char column lands at the same x in every turn of the
    segment, as the reference's page-absolute pdfplumber coordinates
    do (tokenize_turn's per-turn width would shift a column whenever a
    turn of another width joins the segment).  Lines carry no x and
    tokens no y or confidence: the segment analysis reads neither.
    """
    lines: list[dict] = []
    width = 0
    finditer = _TOKEN_RE.finditer
    for turn_idx, text in turns:
        if not text:
            continue
        turn_idx = int(turn_idx)
        raw_lines = text.split("\n")
        y0s, y1s = _y_tables(len(raw_lines))
        first = len(lines)
        offset = 0
        for i, raw in enumerate(raw_lines):
            # x0/x1 hold the char columns until the width is known
            tokens = [{"text": m.group(0), "x0": m.start(), "x1": m.end(),
                       "start": offset + m.start(), "end": offset + m.end()}
                      for m in finditer(raw)]
            if tokens:
                width = max(width, tokens[-1]["x1"])
                lines.append({"text": " ".join(t["text"] for t in tokens),
                              "y0": y0s[i], "y1": y1s[i],
                              "line_index": len(lines) - first,
                              "turn_idx": turn_idx, "tokens": tokens})
            offset += len(raw) + 1
    for ln in lines:
        for t in ln["tokens"]:
            t["x0"] /= width
            t["x1"] /= width
    return lines

def turn_view(text: Optional[str]) -> dict:
    """Reference-path per-turn view via the full token IR (oracle path).

    raw_text:   reading-order reconstruction ('\\n'.join of line texts)
    top_text:   lowered ' '.join of tokens in the top-15% band
    clean_text: raw_text minus summary/boilerplate lines (north rule)
    spans:      (field='content', start, end) char offsets into the
                ORIGINAL text for each kept line
    """
    tokens, lines = tokenize_turn(text)
    raw_text = "\n".join(ln["text"] for ln in lines)
    top_text = " ".join(t["text"] for t in tokens if t["y0"] < TOP_REGION_Y).lower()
    kept = [ln for ln in lines if not is_summary_row(ln["text"])]
    clean_text = "\n".join(ln["text"] for ln in kept)
    spans = [
        {"field": "content",
         "start": ln["tokens"][0]["start"],
         "end": ln["tokens"][-1]["end"]}
        for ln in kept
    ]
    return {
        "raw_text": raw_text,
        "top_text": top_text,
        "clean_text": clean_text,
        "spans": spans,
        "n_lines": len(lines),
        "n_tokens": len(tokens),
    }


def turn_view_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized fast path for :func:`turn_view` over a batch of turns.

    Avoids materializing the token IR: line splitting, whitespace
    normalization, boilerplate flags and span offsets are computed
    with pandas/numpy column ops.  Must stay bit-identical to the IR
    route (enforced by tests/test_layout.py).  ``boundary_score`` is
    the segmenter score of ``top_text`` (kernels.classify).
    """
    s = texts.fillna("").astype(str)
    n = len(s)
    if n == 0:
        return pd.DataFrame({
            "raw_text": pd.Series(dtype=str), "top_text": pd.Series(dtype=str),
            "clean_text": pd.Series(dtype=str),
            "span_starts": pd.Series(dtype=object), "span_ends": pd.Series(dtype=object),
            "n_lines": pd.Series(dtype=np.int32), "n_tokens": pd.Series(dtype=np.int32),
            "boundary_score": pd.Series(dtype=np.float64),
        })

    rows = np.repeat(np.arange(n), s.str.count("\n").to_numpy() + 1)
    lines = s.str.split("\n").explode()
    lf = pd.DataFrame({"row": rows, "line": lines.to_numpy(dtype=object)})
    lf["line_idx"] = lf.groupby("row").cumcount()

    raw = lf["line"].astype(str)
    lf["len1"] = raw.str.len() + 1
    # char offset of each original line within its turn
    lf["line_start"] = lf.groupby("row")["len1"].cumsum() - lf["len1"]

    stripped = raw.str.strip()
    nonempty = stripped != ""
    # whitespace-normalized line text (token join)
    norm = stripped.str.split().str.join(" ")
    lf["norm"] = norm
    lf["n_tok"] = np.where(nonempty, stripped.str.split().str.len(), 0)

    lstrip_len = raw.str.len() - raw.str.lstrip().str.len()
    rstrip_len = raw.str.rstrip().str.len()
    lf["span_start"] = (lf["line_start"] + lstrip_len).astype(np.int64)
    lf["span_end"] = (lf["line_start"] + rstrip_len).astype(np.int64)

    nonempty_np = nonempty.to_numpy()
    keep_np = nonempty_np & ~is_summary_row_batch(norm).to_numpy()
    in_top_np = (lf["line_idx"] < TOP_REGION_LINES).to_numpy()
    norm_np = norm.to_numpy(dtype=object)
    rows_np = lf["row"].to_numpy()

    def _grouped_join(mask: np.ndarray, sep: str) -> list:
        """Per-row join of masked line texts (rows_np is row-ordered),
        without pandas groupby-apply overhead."""
        out_list = [""] * n
        sel_rows = rows_np[mask]
        if not len(sel_rows):
            return out_list
        sel_vals = norm_np[mask]
        bounds = np.flatnonzero(np.diff(sel_rows)) + 1
        heads = sel_rows[np.concatenate(([0], bounds))] if len(bounds) else sel_rows[:1]
        for r, chunk in zip(heads, np.split(sel_vals, bounds)):
            out_list[int(r)] = sep.join(chunk)
        return out_list

    idx = np.arange(n)
    out = pd.DataFrame(index=idx)
    out["raw_text"] = _grouped_join(nonempty_np, "\n")
    top = [t.lower() for t in _grouped_join(nonempty_np & in_top_np, " ")]
    out["top_text"] = top
    out["boundary_score"] = [boundary_score(t)[0] for t in top]
    out["clean_text"] = _grouped_join(keep_np, "\n")

    # spans ride as two parallel int arrays — the Arrow/cache-compact
    # form; the output stage zips them into (field, start, end) structs
    starts_np = lf["span_start"].to_numpy()
    ends_np = lf["span_end"].to_numpy()
    span_starts: list = [[] for _ in range(n)]
    span_ends: list = [[] for _ in range(n)]
    kept_rows = rows_np[keep_np]
    if len(kept_rows):
        bounds = np.flatnonzero(np.diff(kept_rows)) + 1
        heads = kept_rows[np.concatenate(([0], bounds))] if len(bounds) else kept_rows[:1]
        for r, s_chunk, e_chunk in zip(heads,
                                       np.split(starts_np[keep_np], bounds),
                                       np.split(ends_np[keep_np], bounds)):
            span_starts[int(r)] = [int(x) for x in s_chunk]
            span_ends[int(r)] = [int(x) for x in e_chunk]
    out["span_starts"] = span_starts
    out["span_ends"] = span_ends

    out["n_lines"] = np.bincount(rows_np, weights=nonempty_np.astype(np.float64),
                                 minlength=n).astype(np.int32)
    out["n_tokens"] = np.bincount(rows_np, weights=lf["n_tok"].to_numpy().astype(np.float64),
                                  minlength=n).astype(np.int32)
    out.index = texts.index
    return out
