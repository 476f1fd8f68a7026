"""Property-based tests (hypothesis) over the parsing kernels.

The reference ships only example-based tests; these properties pin
the invariants its semantics imply: render->parse round trips,
predicate consistency (parse succeeds => is_*_like true), batch ==
scalar, and solver conservation laws.
"""

from __future__ import annotations

from datetime import date, timedelta
from decimal import Decimal

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from universal_pdf_extractor_spark.kernels.amounts import (
    is_amount_like,
    is_amount_like_batch,
    parse_amount,
    parse_amount_batch,
)
from universal_pdf_extractor_spark.kernels.dates import (
    is_date_like,
    is_date_like_batch,
    parse_date,
    parse_date_batch,
)
from universal_pdf_extractor_spark.kernels.solver import (
    find_best_tolerance,
    solve_case3_balance_inference,
)

TODAY = date(2026, 1, 1)

amounts = st.decimals(min_value=Decimal("0.01"), max_value=Decimal("9999999.99"),
                      places=2, allow_nan=False, allow_infinity=False)


@given(amounts, st.sampled_from(["plain", "comma", "paren", "dr", "cr",
                                 "lead_minus", "trail_minus", "pound"]))
@settings(max_examples=200, deadline=None)
def test_amount_render_parse_roundtrip(value, style):
    s = f"{value:,.2f}" if style in ("comma", "paren", "dr", "cr") else f"{value:.2f}"
    if style == "paren":
        rendered, expected = f"({s})", -value
    elif style == "dr":
        rendered, expected = f"{s} DR", -value
    elif style == "cr":
        rendered, expected = f"{s} CR", value
    elif style == "lead_minus":
        rendered, expected = f"-{s}", -value
    elif style == "trail_minus":
        rendered, expected = f"{s}-", -value
    elif style == "pound":
        rendered, expected = chr(163) + s, value
    else:
        rendered, expected = s, value
    p = parse_amount(rendered)
    assert p.amount == expected
    assert is_amount_like(rendered)


@given(st.lists(st.text(min_size=0, max_size=24), min_size=0, max_size=40))
@settings(max_examples=60, deadline=None)
def test_amount_batch_equals_scalar_on_arbitrary_text(texts):
    out = parse_amount_batch(pd.Series(texts, dtype=object))
    for i, t in enumerate(texts):
        p = parse_amount(t)
        assert out.iloc[i]["amount"] == p.amount
        assert out.iloc[i]["confidence"] == p.confidence


@given(st.dates(min_value=date(2001, 1, 1), max_value=date(2025, 12, 31)),
       st.sampled_from(["%d/%m/%Y", "%d %b %Y", "%d %B %Y", "%Y-%m-%d",
                        "%d/%m/%y", "%d.%m.%Y", "%d-%m-%Y"]))
@settings(max_examples=200, deadline=None)
def test_date_render_parse_roundtrip(d, fmt):
    rendered = d.strftime(fmt)
    p = parse_date(rendered, today=TODAY)
    assert p.parsed_date == d, (rendered, p)
    assert is_date_like(rendered)


@given(st.dates(min_value=date(2001, 1, 15), max_value=date(2025, 12, 15)))
@settings(max_examples=100, deadline=None)
def test_date_period_disambiguation_inside_period(d):
    start = d.replace(day=1)
    end = start + timedelta(days=27)
    p = parse_date(d.strftime("%d/%m/%Y"), start, end, today=TODAY)
    assert p.parsed_date == d
    assert not p.is_ambiguous  # in-period parses are never left ambiguous


@given(st.decimals(min_value=Decimal("0.01"), max_value=Decimal("99999.99"), places=2),
       st.lists(st.tuples(st.decimals(min_value=Decimal("0.51"),
                                      max_value=Decimal("999.99"), places=2),
                          st.booleans()),
                min_size=1, max_size=12))
@settings(max_examples=100, deadline=None)
def test_balance_chain_consistent_rows_always_confirm(opening, moves):
    """A chain with exactly consistent running balances is always fully
    solved with direction matching the move sign and tolerance 0.

    Amounts must exceed 0.50: when 2*amount fits inside the loosest
    ladder rung (1.00), BOTH hypotheses match and the solver correctly
    refuses to guess (balance_solver.py:215-219 -> UNKNOWN)."""
    rows = []
    bal = opening
    for amount, is_credit in moves:
        bal = bal + amount if is_credit else bal - amount
        rows.append({"amount": amount, "running_balance": bal,
                     "_expected": "CREDIT" if is_credit else "DEBIT"})
    results = solve_case3_balance_inference(rows, opening)
    for row, res in zip(rows, results):
        if row["amount"] == 0:
            continue
        assert res["direction"] == row["_expected"]
        assert res["balance_confirmed"]
        assert res["tolerance_used"] == Decimal("0.00")
        assert res["confidence"] == 0.98


@given(st.decimals(min_value=Decimal("0"), max_value=Decimal("2.00"), places=2))
@settings(max_examples=60, deadline=None)
def test_tolerance_ladder_monotone(diff):
    tol = find_best_tolerance(Decimal("100.00"), Decimal("100.00") + diff)
    if diff > Decimal("1.00"):
        assert tol is None
    else:
        assert tol is not None and tol >= diff


@given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=50))
@settings(max_examples=60, deadline=None)
def test_signed_direction_batch_equals_per_row(texts):
    """signed_direction_batch == the per-row parse_signed_amount ladder
    on arbitrary strings (including garbage and unicode)."""
    from universal_pdf_extractor_spark.kernels.solver import (
        parse_signed_amount,
        signed_direction_batch,
    )

    def per_row(s):
        parsed = parse_signed_amount(s)
        if parsed is None:
            return "UNKNOWN"
        amount, _ = parsed
        return "DEBIT" if amount < 0 else ("CREDIT" if amount > 0 else "UNKNOWN")

    batch = signed_direction_batch(pd.Series(texts))
    for raw, got in zip(texts, batch):
        assert got == per_row(raw), raw


_datish = st.one_of(
    st.dates(min_value=date(1990, 1, 1), max_value=date(2030, 12, 28))
      .map(lambda d: d.strftime("%d/%m/%Y")),
    st.dates(min_value=date(1990, 1, 1), max_value=date(2030, 12, 28))
      .map(lambda d: d.strftime("%d %b %Y")),
    st.dates(min_value=date(1990, 1, 1), max_value=date(2030, 12, 28))
      .map(lambda d: d.strftime("%Y-%m-%d")),
    st.text(min_size=0, max_size=20),  # garbage
)


@given(st.lists(_datish, min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_parse_date_batch_equals_per_row(texts):
    """parse_date_batch (fast path + ladder fallback) == per-row
    parse_date on mixed valid/garbage inputs."""
    batch = parse_date_batch(pd.Series(texts), today=TODAY)
    for raw, got in zip(texts, batch):
        assert got == parse_date(raw, today=TODAY).parsed_date, raw


# Python re's \d and int() accept every Unicode decimal digit, and
# str.strip() removes \x1c-\x1f, \x85 and \xa0 as well as ASCII blanks:
# cells rendered in those digits and padded with those characters
# (ASCII, Arabic-Indic, full-width and Devanagari zero-to-nine runs)
_DIGIT_SETS = tuple("".join(chr(zero + i) for i in range(10))
                    for zero in (0x30, 0x660, 0xFF10, 0x966))
_PAD = st.text(st.sampled_from([chr(c) for c in range(32)] + ["\x85", "\xa0", " "]),
               max_size=3)
_cell_body = st.one_of(
    st.builds(lambda d, fmt: d.strftime(fmt),
              st.dates(min_value=date(1990, 1, 1), max_value=date(2030, 12, 28)),
              st.sampled_from(["%d/%m/%Y", "%d/%m/%y", "%d-%m-%Y", "%d %b %Y",
                               "%d %B", "%Y-%m-%d", "%d%b%y", "%dst %b %Y"])),
    st.builds(lambda v, fmt: fmt.format(v),
              st.decimals(min_value=Decimal("0.01"), max_value=Decimal("99999.99"), places=2),
              st.sampled_from(["{}", "{:,}", "({})", "{} DR", "{}CR", "-{}", "{}-",
                               "\u00a3{}", "31/02/{}"])))


@given(st.lists(st.builds(lambda pre, body, digits, post:
                          pre + body.translate(str.maketrans("0123456789", digits)) + post,
                          _PAD, _cell_body, st.sampled_from(_DIGIT_SETS), _PAD),
                min_size=1, max_size=30))
@settings(max_examples=80, deadline=None)
def test_batch_kernels_equal_scalar_on_unicode_digits(cells):
    """is_amount_like_batch, is_date_like_batch and parse_date_batch
    equal their scalar forms on dates and amounts written in non-ASCII
    decimal digits amid control and Unicode whitespace."""
    s = pd.Series(cells, dtype=object)
    assert list(is_amount_like_batch(s)) == [is_amount_like(c) for c in cells]
    assert list(is_date_like_batch(s)) == [is_date_like(c) for c in cells]
    assert list(parse_date_batch(s, today=TODAY)) == \
        [parse_date(c, today=TODAY).parsed_date for c in cells]


@given(st.sampled_from(["NaN", "nan", "Infinity", "-Infinity", "inf",
                        "(NaN)", "NaN DR", "snan", "sNaN"]))
@settings(max_examples=20, deadline=None)
def test_non_finite_spellings_rejected(raw):
    """Decimal's NaN/Infinity spellings must parse as non-amounts, not
    crash downstream magnitude comparisons."""
    p = parse_amount(raw)
    assert p.amount is None
    assert not is_amount_like(raw)


# ── round-4 surfaces: codecs, PII, repetition invariants ─────────────

import numpy as np

from universal_pdf_extractor_spark.datapipe.multimodal import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    sample_frames,
)

_dims = st.tuples(st.integers(min_value=1, max_value=9),
                  st.integers(min_value=1, max_value=9))


@given(_dims, st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=100, deadline=None)
def test_bmp_roundtrip_any_shape(dims, seed):
    """Every (h, w) — including widths whose rows need 0-3 padding
    bytes — must survive encode->decode bit-exactly."""
    h, w = dims
    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3),
                                             dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


@given(st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=0, max_size=64))
@settings(max_examples=100, deadline=None)
def test_wav_roundtrip_any_samples(samples):
    s = np.asarray(samples, dtype=np.int16)
    out = decode_wav(encode_wav(s))
    assert np.array_equal(out, s)


@given(st.integers(min_value=1, max_value=500),
       st.integers(min_value=1, max_value=16))
@settings(max_examples=100, deadline=None)
def test_sample_frames_subset_and_order(n, m):
    """Sampled frames are an index-ordered subset including both
    endpoints when m >= 2."""
    sig = np.arange(n, dtype=np.int64) * 7
    fr = sample_frames(sig, m)
    assert len(fr) == min(m, n)
    assert all(x in set(sig.tolist()) for x in fr.tolist())
    assert list(fr) == sorted(fr)
    if min(m, n) >= 2:
        assert fr[0] == sig[0] and fr[-1] == sig[-1]


def test_pii_redaction_is_idempotent(spark):
    """Redacting already-redacted text changes nothing and finds no
    further PII (tags never re-match any pattern)."""
    import pandas as pd  # noqa: F811

    from universal_pdf_extractor_spark.datapipe.textstats import pii_scan

    texts = [
        "mail a@b.co or +441234567890 at M1 4BT, code 20-14-53 acct 48291002",
        "[EMAIL] [PHONE] [POSTCODE] [SORTCODE] [ACCOUNT]",
        "no pii here",
    ]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["a", "b", "c"], "text": texts}))
    first = pii_scan(docs).toPandas().set_index("doc_id")
    # feed the redaction fixpoint back through: build texts whose only
    # content is tags -> all counts zero, sha stable
    again = pii_scan(spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["b"], "text": [texts[1]]}))).toPandas().iloc[0]
    assert all(again[f"n_{k}"] == 0 for k in
               ("email", "phone", "postcode", "sortcode", "account"))
    assert first.loc["c", "has_pii"] == False  # noqa: E712


def test_repetition_fractions_bounded(spark):
    import pandas as pd  # noqa: F811

    from universal_pdf_extractor_spark.datapipe.textstats import repetition_scores

    texts = ["", "x", "a a a a a a a a", "l1\nl1\nl1\nl2",
             "one two three\nfour five six\none two three"]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [str(i) for i in range(len(texts))], "text": texts}))
    out = repetition_scores(docs).toPandas()
    for c in ("dup_line_frac", "dup_line_char_frac",
              "top_2gram_frac", "dup_3gram_frac"):
        assert ((out[c] >= 0.0) & (out[c] <= 1.0)).all(), c


def test_components_of_keepers_are_singletons(spark):
    """Re-running the closure on keeper self-pairs yields singleton
    components (idempotence of the canonicalization)."""
    import pandas as pd  # noqa: F811

    from universal_pdf_extractor_spark.datapipe.dedup import dedup_components

    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": ["d1", "d2"], "b": ["d2", "d3"], "jaccard": [0.9, 0.9]}))
    out = dedup_components(pairs)
    keepers = out.where("is_keeper")
    # keeper set joined to itself on equality -> no cross edges
    again = dedup_components(
        keepers.selectExpr("doc_id as a", "doc_id as b",
                           "1.0 as jaccard")).toPandas()
    assert (again["component_size"] == 1).all()
    assert (again["doc_id"] == again["keep_id"]).all()


# ── raster kernel properties (round-5 surfaces) ─────────────────────

@given(st.integers(min_value=0, max_value=10**9),
       st.integers(min_value=-14750, max_value=14750).map(
           lambda v: (v // 250) * 250))
@settings(max_examples=40, deadline=None)
def test_shear_unshear_roundtrip_any_angle(seed, milli):
    import numpy as np

    from universal_pdf_extractor_spark.datapipe.raster import (
        shear,
        synth_upright,
        unshear,
    )

    img = synth_upright(seed, 256, 192)
    assert np.array_equal(unshear(shear(img, milli), milli), img)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=25, deadline=None)
def test_orientation_detection_consistent_under_rot90(seed):
    """Detecting a k-rotated page must report 90k and undo back to the
    upright pixels, for every k — the R1 involution property."""
    import numpy as np

    from universal_pdf_extractor_spark.datapipe.raster import (
        detect_orientation,
        fix_orientation,
        synth_upright,
    )

    img = synth_upright(seed, 224, 160)
    for k in range(4):
        rotated = np.rot90(img, k)
        deg, conf = detect_orientation(rotated)
        assert deg == 90 * k
        assert conf > 0.5
        assert np.array_equal(fix_orientation(rotated, deg), img)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=40, deadline=None)
def test_table_detection_translation_equivariant(seed):
    """Padding a table page with extra white border translates the
    detected bbox by exactly the pad and changes nothing else."""
    import numpy as np

    from universal_pdf_extractor_spark.datapipe.raster import (
        detect_table,
        synth_table_page,
    )

    img, _ = synth_table_page(seed)
    base = detect_table(img)
    pad_y, pad_x = 7, 11
    padded = np.pad(img, ((pad_y, 3), (pad_x, 5)), constant_values=255)
    moved = detect_table(padded)
    assert moved["mode"] == base["mode"]
    assert (moved["n_rows"], moved["n_cols"]) == (base["n_rows"], base["n_cols"])
    assert moved["n_cells_filled"] == base["n_cells_filled"]
    bx0, by0, bx1, by1 = base["bbox"]
    assert moved["bbox"] == (bx0 + pad_x, by0 + pad_y, bx1 + pad_x, by1 + pad_y)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=40, deadline=None)
def test_enhancement_ladder_total_and_binary_where_thresholding(seed):
    """Every confidence in [0,1) maps to exactly one profile, and the
    B/C/D profiles emit strictly binary images."""
    import numpy as np

    from universal_pdf_extractor_spark.datapipe.raster import (
        apply_enhancement,
        synth_upright,
    )

    img = synth_upright(seed, 224, 160)
    for conf, want in ((0.99, "A_mild_contrast"), (0.84, "B_adaptive_threshold"),
                       (0.62, "C_denoise_sharpen"), (0.10, "D_high_contrast")):
        out, got = apply_enhancement(img, conf)
        assert got == want
        assert out.shape == img.shape and out.dtype == np.uint8
        if got != "A_mild_contrast":
            assert set(np.unique(out)).issubset({0, 255})


@given(st.binary(min_size=0, max_size=256))
@settings(max_examples=150, deadline=None)
def test_decoders_never_raise_on_garbage(payload):
    """Malformed payloads fail soft (None), never raise — the
    fail-soft contract every mapInPandas stage relies on."""
    from universal_pdf_extractor_spark.datapipe.multimodal import (
        decode_bmp,
        decode_wav,
    )

    assert decode_bmp(payload) is None or decode_bmp(payload).ndim == 3
    w = decode_wav(payload)
    assert w is None or w.ndim == 1


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=60, deadline=None)
def test_bmp_header_prefix_fuzz(prefix):
    """A valid BMP magic with a truncated/garbled remainder must still
    fail soft."""
    from universal_pdf_extractor_spark.datapipe.multimodal import decode_bmp

    assert decode_bmp(b"BM" + prefix) is None \
        or decode_bmp(b"BM" + prefix) is not None  # no exception is the test


# ── Spark stages == kernels.classify on non-ASCII text ──────────────

from datetime import datetime

from hypothesis import example

# Unicode decimal digits (Python re's \d matches them all), every C0
# control, Unicode spaces, and letters Python re.IGNORECASE folds onto
# ASCII ones (long s ~ 's', Kelvin sign ~ 'k')
_ODD_CHARS = (list("0123456789٠٣٤٩０２９०߀") + [chr(c) for c in range(32)]
              + ["\xa0", "\u2028", "\u017f", "\u212a", " ", "-", ":", "/", "%"])
# classifier, provider, currency, segmenter and customer vocabulary
_VOCAB = ["sort code", "sort code: ", "statement period: ", "statement date: ",
          "opening balance", "balance brought forward", "account number",
          "page 1 of ", "from ", " to ", "jan", "barclays", "hsbc", "lloyds",
          "monzo", "starling", "tsb", "20-", "40-", "04-00-04", "hire purchase",
          "hp ", "apr ", "pcp", "car finance", "bank statement", "direct debit",
          "overdraft", "£", "$", "€", "gbp", "usd", "eur", "SW1A 1AA", "Mr "]
_turn_text = st.lists(st.one_of(st.sampled_from(_VOCAB), st.sampled_from(_ODD_CHARS)),
                      max_size=25).map("".join)
_conversation = st.lists(_turn_text, min_size=1, max_size=4)


@given(st.lists(_conversation, min_size=1, max_size=5))
@example([["hello\nsort code: 20-٣٣-٤٤"],
          ["chatter", "statement period: ٣ jan"],
          ["chatter", "ſort code 1"]])
@settings(max_examples=12, deadline=None)
def test_stages_equal_classify_kernels(spark, convs):
    """tokenize -> segment and classify give exactly the
    kernels.classify results on each conversation's joined raw text and
    each turn's top-band text (the oracle's inputs), for text a regex
    engine with ASCII-only classes would misread.  One Spark job per
    drawn batch."""
    from universal_pdf_extractor_spark.kernels.classify import (
        boundary_score,
        classify_document,
        detect_currency,
        detect_provider,
    )
    from universal_pdf_extractor_spark.kernels.customer import extract_customer_info
    from universal_pdf_extractor_spark.kernels.layout import turn_view
    from universal_pdf_extractor_spark.kernels.oracle import segment_index_per_turn
    from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
    from universal_pdf_extractor_spark.stages.classify import classify_stage
    from universal_pdf_extractor_spark.stages.segment import segment_stage
    from universal_pdf_extractor_spark.stages.tokenize import tokenize_stage

    pdf = pd.DataFrame([
        {"conv_id": f"c{i}", "turn_idx": j, "role": "user", "text": text,
         "tool": None, "ts": datetime(2024, 1, 1)}
        for i, turns in enumerate(convs) for j, text in enumerate(turns)])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    seg = segment_stage(tokenize_stage(spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)))
    got = seg.select("conv_id", "turn_idx", "boundary_score", "segment_index") \
        .join(classify_stage(seg), "conv_id").toPandas()

    for i, turns in enumerate(convs):
        rows = got[got["conv_id"] == f"c{i}"].sort_values("turn_idx")
        views = [turn_view(text) for text in turns]
        tops = [v["top_text"] for v in views]
        assert list(rows["boundary_score"]) == [boundary_score(t)[0] for t in tops], tops
        assert list(rows["segment_index"]) == segment_index_per_turn(tops), tops

        conv_text = "\n".join(v["raw_text"] for v in views if v["raw_text"])
        row = rows.iloc[0]
        family = classify_document([conv_text])
        provider = detect_provider([conv_text])
        assert row["doc_family"] == family["doc_family"], conv_text
        assert row["doc_family_confidence"] == family["confidence"], conv_text
        assert row["provider"] == provider["provider_name"], conv_text
        if provider["provider_name"] is None:
            assert pd.isna(row["provider_confidence"]), conv_text
        else:
            assert row["provider_confidence"] == provider["confidence"], conv_text
        assert row["currency"] == detect_currency(conv_text), conv_text
        for key, value in extract_customer_info(conv_text).items():
            assert row[key] == value, (key, conv_text)
