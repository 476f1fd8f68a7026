"""Layout/tokenize kernel tests: contract invariants + fast-path parity."""

import unicodedata

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from universal_pdf_extractor_spark.kernels.classify import boundary_score
from universal_pdf_extractor_spark.kernels.layout import (
    TOP_REGION_LINES,
    segment_lines,
    tokenize_turn,
    turn_view,
    turn_view_batch,
)

SAMPLE = (
    "Barclays Bank\n"
    "Statement Period: 01/01/2024 to 31/01/2024\n"
    "\n"
    "Date        Description         Paid Out   Paid In    Balance\n"
    "01/01/2024  OPENING BALANCE                           1000.00\n"
    "02/01/2024  TESCO STORES        50.00                 950.00\n"
    "Page 1 of 2\n"
)


def test_contract_invariants():
    tokens, lines = tokenize_turn(SAMPLE)
    # tokens ordered by (y0, x0); lines ordered by y0 (contracts.py:90-92)
    keys = [(t["y0"], t["x0"]) for t in tokens]
    assert keys == sorted(keys)
    ys = [ln["y0"] for ln in lines]
    assert ys == sorted(ys)
    # line.text == ' '.join(token texts)
    for ln in lines:
        assert ln["text"] == " ".join(t["text"] for t in ln["tokens"])
    # bboxes normalized
    for t in tokens:
        assert 0.0 <= t["x0"] <= t["x1"] <= 1.0
        assert 0.0 <= t["y0"] <= t["y1"] <= 1.0


def test_blank_lines_skipped():
    _, lines = tokenize_turn(SAMPLE)
    assert len(lines) == 6  # blank line produces no line
    assert [ln["line_index"] for ln in lines] == list(range(6))


def test_cluster_identity_on_synthetic_coords():
    """Greedy y-clustering of the token soup, as the reference engine
    does it (0.005 tolerance from each line's first token), gives back
    tokenize_turn's lines: one per non-blank source line."""
    tokens, lines = tokenize_turn(SAMPLE)
    clustered: list[list[str]] = []
    anchor_y = None
    for tok in sorted(tokens, key=lambda t: (t["y0"], t["x0"])):
        if anchor_y is None or abs(tok["y0"] - anchor_y) > 0.005:
            clustered.append([])
            anchor_y = tok["y0"]
        clustered[-1].append(tok["text"])
    assert [" ".join(c) for c in clustered] == [ln["text"] for ln in lines]
    assert [ln["text"] for ln in lines] == [
        " ".join(raw.split()) for raw in SAMPLE.split("\n") if raw.strip()]


def test_segment_lines_match_tokenize_turn():
    """segment_lines keeps tokenize_turn's lines and token offsets, tags
    each line with its turn, and puts x at char column over the
    segment's longest token end."""
    turns = [
        (3, SAMPLE),
        (4, "narrow\n\n  chatter  turn"),      # other width, blank line
        (5, ""),
        (6, None),
        (7, "café  naïve  über\n  Überweisung   12,50 €"),
    ]
    got = segment_lines(turns)

    expected = []
    for turn_idx, text in turns:
        for ln in tokenize_turn(text)[1]:
            expected.append((turn_idx, ln))
    assert len(got) == len(expected)

    def column(text: str, offset: int) -> int:
        return offset - (text.rfind("\n", 0, offset) + 1)

    texts = dict(turns)
    width = max(column(texts[t], tok["end"])
                for t, ln in expected for tok in ln["tokens"])
    assert width == len("Date        Description         Paid Out   Paid In    Balance")
    for g, (turn_idx, e) in zip(got, expected):
        assert g["turn_idx"] == turn_idx
        for key in ("text", "y0", "y1", "line_index"):
            assert g[key] == e[key], key
        assert len(g["tokens"]) == len(e["tokens"])
        for gt, et in zip(g["tokens"], e["tokens"]):
            assert (gt["text"], gt["start"], gt["end"]) \
                == (et["text"], et["start"], et["end"])
            assert gt["x0"] == column(texts[turn_idx], gt["start"]) / width
            assert gt["x1"] == column(texts[turn_idx], gt["end"]) / width


def test_spans_point_into_original_text():
    view = turn_view(SAMPLE)
    for span, kept_line in zip(view["spans"], view["clean_text"].split("\n")):
        segment = SAMPLE[span["start"]:span["end"]]
        assert " ".join(segment.split()) == kept_line


def test_boilerplate_stripped():
    view = turn_view(SAMPLE)
    assert "Page 1 of 2" not in view["clean_text"]
    assert "Statement Period" not in view["clean_text"]
    assert "TESCO STORES" in view["clean_text"]


def test_top_region():
    long_text = "\n".join(f"line {i} here" for i in range(30))
    view = turn_view(long_text)
    assert view["top_text"].count("here") == TOP_REGION_LINES


def test_batch_fast_path_matches_ir_route():
    texts = [
        SAMPLE,
        "",
        None,
        "single line only",
        "  leading  spaces\n\ttab\tsep\n" + "x" * 150,  # wide line
        "\n\n\n",
        "\n".join(f"l{i} word" for i in range(40)),
    ]
    _assert_batch_matches_scalar(texts)


def _assert_batch_matches_scalar(texts: list) -> None:
    """Every turn_view_batch column equals the scalar turn_view route."""
    batch = turn_view_batch(pd.Series(texts, dtype=object))
    assert list(batch.columns) == [
        "raw_text", "top_text", "boundary_score", "clean_text",
        "span_starts", "span_ends", "n_lines", "n_tokens"]
    for i, text in enumerate(texts):
        view = turn_view(text)
        view["boundary_score"] = boundary_score(view["top_text"])[0]
        for key in ("raw_text", "top_text", "clean_text", "n_lines", "n_tokens",
                    "boundary_score"):
            assert batch.loc[i, key] == view[key], (text, key)
        rebuilt = [{"field": "content", "start": a, "end": b}
                   for a, b in zip(batch.loc[i, "span_starts"], batch.loc[i, "span_ends"])]
        assert rebuilt == view["spans"], text


# characters where str methods, the regex \s/\S classes and case folding
# disagree: every C0 control, NEL, no-break and ideographic spaces, the
# line separator, decimal digits of other scripts, long s and the Kelvin
# sign (which match ASCII letters case-insensitively)
_ODD_CHARS = (
    [chr(c) for c in range(0x20)]
    + ["\x85", "\xa0", " ", "\u3000", "\u2028", "\u017f", "\u212a"]
    + [chr(c) for c in (0x663, 0x6f7, 0x96c, 0xe53, 0xff10, 0x1d7d8)]
)
assert all(unicodedata.category(c) == "Nd" for c in _ODD_CHARS[-6:])
# words the segmenter and the boilerplate strip look for
_VOCAB = [
    "statement period: 1", "statement date:", "from 01/02/2024 to", "period ending -",
    "opening balance", "balance brought forward", "b/f bal", "previous balance",
    "account number", "sort code", "a/c no", "12-34-56 12345678", "page 1 of 2",
    "total balance", "personal account statement", "Barclays", "Date", "Paid Out",
    "TESCO STORES", "50.00", "01/01/2024", "\n", "  ",
]


@given(st.lists(
    st.none() | st.lists(st.sampled_from(_ODD_CHARS) | st.sampled_from(_VOCAB),
                         max_size=40).map("".join),
    min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_batch_fast_path_matches_ir_route_on_any_text(texts):
    _assert_batch_matches_scalar(texts)


def test_tokens_table_contract(spark):
    """Exploded token IR: ordering + bbox invariants, span offsets."""
    import pandas as pd
    from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
    from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
    from universal_pdf_extractor_spark.stages.tokenize import tokens_table

    pdf = generate_transcripts(4)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    toks = tokens_table(sdf).toPandas()
    assert len(toks) > 0
    for (_conv, _turn), grp in toks.groupby(["conv_id", "turn_idx"]):
        grp = grp.sort_values("token_index")
        keys = list(zip(grp["y0"], grp["x0"]))
        assert keys == sorted(keys)  # (y0, x0) reading order
        assert ((grp["x0"] >= 0) & (grp["x1"] <= 1)
                & (grp["y0"] >= 0) & (grp["y1"] <= 1)).all()
    # offsets point at the token text in the original payload
    src = pdf.set_index(["conv_id", "turn_idx"])
    sample = toks.head(200)
    for row in sample.itertuples():
        raw = src.loc[(row.conv_id, row.turn_idx)]
        payload = raw["text"] if isinstance(raw["text"], str) and raw["text"] else (raw["tool"] or "")
        assert payload[row.start:row.end] == row.text


def test_tokens_table_matches_tokenize_turn_exactly(spark):
    """Pin the r6 vectorized tokens_table against the per-token loop
    over tokenize_turn, including non-ASCII payloads (char-offset line
    mapping) and empty/None turns."""
    import pandas as pd

    from universal_pdf_extractor_spark.kernels.layout import (
        TOOL_TOKEN_CONFIDENCE,
        tokenize_turn,
    )
    from universal_pdf_extractor_spark.stages.tokenize import tokens_table

    rows = [
        ("c1", 0, "plain line\n  indented  seconde ligne", None),
        ("c1", 1, None, "tool payload\nwith two lines"),
        ("c1", 2, "", None),
        ("c2", 0, "café naïve über\ntoken après unicode", None),
        ("c2", 1, "\n\nblank\n\nlines\n", None),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "tool"])
    got = tokens_table(spark.createDataFrame(pdf)) \
        .toPandas().sort_values(["conv_id", "turn_idx", "token_index"]) \
        .reset_index(drop=True)

    exp_rows = []
    for conv_id, turn_idx, text, tool in rows:
        payload = text if text else (tool if tool else "")
        via_tool = (not text) and bool(tool)
        tokens, _ = tokenize_turn(payload)
        for i, t in enumerate(tokens):
            conf = TOOL_TOKEN_CONFIDENCE if via_tool else t["confidence"]
            exp_rows.append((conv_id, turn_idx, i, t["text"],
                             t["x0"], t["y0"], t["x1"], t["y1"],
                             conf, t["start"], t["end"]))
    exp = pd.DataFrame(exp_rows, columns=list(got.columns))
    assert len(got) == len(exp)
    for col in got.columns:
        assert list(got[col]) == list(exp[col]), col
