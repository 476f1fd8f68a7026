"""Whitespace-gap column detection and token->cell assignment.

Parity with the reference table extractor
(app/pipeline/table_extractor.py:107-213): a 120-bin histogram of
token x0 positions over [0,1], gaussian smoothing (sigma=1.5), peak
finding with an occupancy relaxation ladder [0.08, 0.05, 0.03] until
at least 3 peaks emerge, then column bands [peak_start - 0.01,
midpoint-to-next-peak] with the first band clamped to 0.  Zero peaks
fall back to a single full-width column; fewer than 5 tokens yield no
columns at all.

The histogram counts the starts of ``gap_groups``, the one >=2-char
word-group split, which the segment kernel uses too.

Columns are plain dicts: {column_index, x_start, x_end, role}.
"""

from __future__ import annotations

import numpy as np

from .peaks import find_peaks_simple, gaussian_smooth_1d

N_BINS = 120
OCCUPANCY_LADDER = (0.08, 0.05, 0.03)
PEAK_DISTANCE = 4
SMOOTH_SIGMA = 1.5


def gap_groups(tokens: list[dict]) -> list[list[dict]]:
    """A line's tokens split into word groups at >=2-char gaps.

    Token ``start``/``end`` are char offsets into the turn text, so a
    gap of >= 2 between consecutive tokens is a multi-space run in the
    source: the character-grid analogue of pdfplumber's word merging
    and of its text-strategy vertical splits (orchestrator.py:820-827).
    """
    groups: list[list[dict]] = []
    prev_end = None
    for tok in tokens:
        if prev_end is None or tok["start"] - prev_end >= 2:
            groups.append([tok])
        else:
            groups[-1].append(tok)
        prev_end = tok["end"]
    return groups


def detect_columns(lines: list[dict]) -> list[dict]:
    """Histogram/peak column detection over a segment's lines."""
    if not lines:
        return []

    # Histogram over word-GROUP starts, not raw token starts.
    # pdfplumber's extract_words already merges glyphs/words across
    # small gaps before the reference histograms them
    # (table_extractor.py:110-143 sees word starts); in monospace
    # transcript text, single-space-separated tokens inside one field
    # sit at corpus-stable offsets and would each mint a spurious
    # sub-column peak ("May" always at char 3).
    x_positions = [group[0]["x0"] for line in lines
                   for group in gap_groups(line["tokens"])]
    if len(x_positions) < 5:
        return []

    hist, bin_edges = np.histogram(np.asarray(x_positions), bins=N_BINS, range=(0.0, 1.0))
    smoothed = gaussian_smooth_1d(hist.astype(float), sigma=SMOOTH_SIGMA)

    # zero-pad both edges before peak finding: scipy-style find_peaks
    # can never report the first/last sample as a peak, and in char
    # space the leftmost column sits at exactly x=0 (reference PDFs
    # have a page margin, so their leftmost column is never edge-bin)
    padded = np.concatenate(([0.0], smoothed, [0.0]))

    peaks = np.array([], dtype=np.int64)
    for occupancy in OCCUPANCY_LADDER:
        threshold = max(len(lines) * occupancy, 2.0)
        peaks = find_peaks_simple(padded, height=threshold, distance=PEAK_DISTANCE) - 1
        if len(peaks) >= 3:  # date, description, amount at minimum
            break

    if len(peaks) == 0:
        return [{"column_index": 0, "x_start": 0.0, "x_end": 1.0, "role": "UNKNOWN"}]

    columns = []
    for i, peak in enumerate(peaks):
        x_start = bin_edges[peak]
        if i + 1 < len(peaks):
            x_end = (bin_edges[peak] + bin_edges[peaks[i + 1]]) / 2.0
        else:
            x_end = 1.0
        columns.append({
            "column_index": i,
            "x_start": max(0.0, float(x_start) - 0.01),
            "x_end": min(1.0, float(x_end)),
            "role": "UNKNOWN",
        })
    columns[0]["x_start"] = 0.0
    return columns


def assign_token_to_column(token: dict, columns: list[dict]) -> int:
    """x-center containment, falling back to nearest column center."""
    return _assign_with_containment(token, columns)[0]


def _assign_with_containment(token: dict, columns: list[dict]) -> tuple[int, bool]:
    """(column_index, was_contained): containment first, else nearest
    column center with contained=False so callers can apply weaker
    tie-breaks (word-adjacency) on the fallback path only."""
    if not columns:
        return 0, True
    x_center = (token["x0"] + token["x1"]) / 2.0
    for col in columns:
        if col["x_start"] <= x_center <= col["x_end"]:
            return col["column_index"], True
    distances = [abs(x_center - (c["x_start"] + c["x_end"]) / 2.0) for c in columns]
    return columns[distances.index(min(distances))]["column_index"], False


def assign_line_to_cells(line: dict, columns: list[dict],
                         cache: dict | None = None) -> list[dict]:
    """Group a line's tokens into per-column cells.

    Cell: {text, column_index, turn_idx, start, end} — start/end are
    char offsets of the cell's token span into its ORIGINAL turn text
    (the transaction_evidence analogue, tables.py:388-420: the
    reference stores a bbox per extracted field; the transcripts graft
    stores the provenance span instead).  The reference's cell
    envelope bbox + mean confidence (table_extractor.py:205-211) stay
    omitted: nothing downstream reads them.

    ``cache`` memoizes (x0, x1) -> (column, contained) across the
    lines of one layout: fixed-width statements repeat token x-spans
    across rows, so the lookup hits the cache almost always.
    """
    if cache is None:
        cache = {}
    cell_tokens: dict[int, list[dict]] = {}
    prev_tok = None
    prev_col = None
    cache_get = cache.get
    for token in line["tokens"]:
        key = (token["x0"], token["x1"])
        hit = cache_get(key)
        if hit is None:
            hit = cache[key] = _assign_with_containment(token, columns)
        col, contained = hit
        # word-adjacency tie-break on the fallback path only: a token
        # whose center lies in NO column but that sits a single space
        # after its neighbour belongs to the neighbour's visual word
        # group (e.g. the year of an overflowing date), not to whatever
        # column center happens to be nearest
        if (not contained and prev_tok is not None
                and token["start"] - prev_tok["end"] <= 1):
            col = prev_col
        cell_tokens.setdefault(col, []).append(token)
        prev_tok, prev_col = token, col

    turn_idx = line.get("turn_idx")
    cells = []
    for col_idx in sorted(cell_tokens):
        toks = cell_tokens[col_idx]
        if len(toks) > 1:
            toks = sorted(toks, key=lambda t: t["x0"])
        cells.append({
            "text": " ".join(t["text"] for t in toks),
            "column_index": col_idx,
            "turn_idx": turn_idx,
            "start": toks[0]["start"],
            "end": toks[-1]["end"],
        })
    return cells
