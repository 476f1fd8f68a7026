"""New training-data text operators: Gopher repetition rules, PII
scan/redaction, corpus duplicate-line discovery (datapipe/textstats)."""

from __future__ import annotations

import hashlib
import re

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from universal_pdf_extractor_spark.datapipe.textstats import (
    duplicate_lines,
    pii_scan,
    repetition_scores,
)


def _docs(spark, texts):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(texts))],
        "text": texts,
    }))


class TestRepetition:
    def test_duplicate_lines_and_grams(self, spark):
        text = "a b c\na b c\nx y z\n"          # 3 lines, one duplicated
        out = repetition_scores(_docs(spark, [text])).toPandas().iloc[0]
        assert out["n_lines"] == 3
        assert out["dup_line_frac"] == pytest.approx(1 / 3)
        # 6 of 9 line-chars (spaces collapsed) sit in duplicated lines
        assert out["dup_line_char_frac"] == pytest.approx(10 / 15)
        # tokens: a b c a b c x y z -> 8 2-grams, 'b c' and 'a b' twice
        assert out["top_2gram_frac"] == pytest.approx(2 / 8)
        # 7 3-grams, 'a b c' twice -> 2/7 repeated
        assert out["dup_3gram_frac"] == pytest.approx(2 / 7)

    def test_clean_document_scores_zero(self, spark):
        out = repetition_scores(
            _docs(spark, ["one two three four five six"])).toPandas().iloc[0]
        assert out["dup_line_frac"] == 0.0
        assert out["dup_3gram_frac"] == 0.0

    def test_empty_document(self, spark):
        out = repetition_scores(_docs(spark, [""])).toPandas().iloc[0]
        assert out["n_lines"] == 0
        assert out["top_2gram_frac"] == 0.0


class TestPII:
    def test_counts_and_redaction_order(self, spark):
        text = ("Contact jane.doe@example.co.uk or 07700900123. "
                "Sort Code: 20-14-53  Account Number 48291002 "
                "Manchester M1 4BT")
        out = pii_scan(_docs(spark, [text])).toPandas().iloc[0]
        assert out["n_email"] == 1
        assert out["n_phone"] == 1
        assert out["n_postcode"] == 1
        assert out["n_sortcode"] == 1
        # the 8-digit account matches once; the phone's 11 digits were
        # already redacted so they cannot double-count as an account
        assert out["n_account"] == 1
        assert bool(out["has_pii"]) is True

    def test_clean_text_has_no_pii(self, spark):
        out = pii_scan(_docs(spark, ["just a plain sentence"])) \
            .toPandas().iloc[0]
        assert out["n_email"] == 0 and bool(out["has_pii"]) is False

    def test_sortcode_not_counted_as_account(self, spark):
        out = pii_scan(_docs(spark, ["code 12-34-56 only"])).toPandas().iloc[0]
        assert out["n_sortcode"] == 1
        assert out["n_account"] == 0

    def test_preexisting_tag_literal_is_not_pii(self, spark):
        """has_pii derives from the match counts: a document whose
        ORIGINAL text contains a redaction tag like "[EMAIL]" must not
        be flagged with all n_* counts zero."""
        out = pii_scan(_docs(spark, ["quote: [EMAIL] is our tag"])) \
            .toPandas().iloc[0]
        assert all(out[f"n_{n}"] == 0
                   for n in ("email", "phone", "postcode", "sortcode", "account"))
        assert bool(out["has_pii"]) is False


class TestDedupComponents:
    def test_transitive_chain_collapses_to_one_keeper(self, spark):
        """a~b and b~c without a~c: the closure must still put all
        three in one component with the min id as keeper."""
        pairs = spark.createDataFrame(pd.DataFrame({
            "a": ["d1", "d2", "d8"],
            "b": ["d2", "d3", "d9"],
            "jaccard": [0.9, 0.9, 0.9],
        }))
        from universal_pdf_extractor_spark.datapipe.dedup import dedup_components
        out = dedup_components(pairs).toPandas().set_index("doc_id")
        assert set(out.index) == {"d1", "d2", "d3", "d8", "d9"}
        assert (out.loc[["d1", "d2", "d3"], "keep_id"] == "d1").all()
        assert (out.loc[["d1", "d2", "d3"], "component_size"] == 3).all()
        assert (out.loc[["d8", "d9"], "keep_id"] == "d8").all()
        assert bool(out.loc["d1", "is_keeper"]) and not bool(out.loc["d3", "is_keeper"])

    def test_long_path_converges(self, spark):
        """A 12-node path needs several propagation rounds."""
        n = 12
        pairs = spark.createDataFrame(pd.DataFrame({
            "a": [f"d{i:02d}" for i in range(n - 1)],
            "b": [f"d{i+1:02d}" for i in range(n - 1)],
            "jaccard": [0.9] * (n - 1),
        }))
        from universal_pdf_extractor_spark.datapipe.dedup import dedup_components
        out = dedup_components(pairs).toPandas()
        assert (out["keep_id"] == "d00").all()
        assert (out["component_size"] == n).all()

    def test_non_convergence_raises_not_wrong_labels(self, spark):
        """A component whose diameter exceeds max_iterations must
        raise — never return partially-propagated (wrong) labels."""
        import pytest as _pytest
        n = 8
        pairs = spark.createDataFrame(pd.DataFrame({
            "a": [f"d{i:02d}" for i in range(n - 1)],
            "b": [f"d{i+1:02d}" for i in range(n - 1)],
            "jaccard": [0.9] * (n - 1),
        }))
        from universal_pdf_extractor_spark.datapipe.dedup import dedup_components
        with _pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(pairs, max_iterations=2).toPandas()


class TestDuplicateLines:
    def test_threshold_and_counts(self, spark):
        texts = ["shared boilerplate\nunique a",
                 "shared boilerplate\nunique b",
                 "shared  boilerplate\nunique c",   # normalizes equal
                 "nothing shared here"]
        out = duplicate_lines(_docs(spark, texts), min_docs=2).toPandas()
        assert len(out) == 1
        row = out.iloc[0]
        assert row["line"] == "shared boilerplate"
        assert row["n_docs"] == 3
        assert row["n_occurrences"] == 3

    def test_within_doc_repeats_do_not_cross_threshold(self, spark):
        texts = ["same line\nsame line", "other"]
        out = duplicate_lines(_docs(spark, texts), min_docs=2).toPandas()
        assert len(out) == 0


class TestJsonlSource:
    def test_roundtrip_preserves_schema_and_values(self, spark, tmp_path):
        from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
        from universal_pdf_extractor_spark.io.sources import (
            read_transcripts_jsonl,
            write_transcripts_jsonl,
        )
        from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = generate_transcripts(5)
        src = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        path = str(tmp_path / "turns.jsonl")
        write_transcripts_jsonl(src, path)
        back = read_transcripts_jsonl(spark, path)
        # JSON scans are nullable-by-construction; the contract is
        # names + types (null keys are filtered by the reader)
        assert [(f.name, f.dataType) for f in back.schema.fields] \
            == [(f.name, f.dataType) for f in TRANSCRIPTS_SCHEMA.fields]
        a = src.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        b = back.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert a.equals(b)

    def test_pipeline_runs_from_jsonl(self, spark, tmp_path):
        from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
        from universal_pdf_extractor_spark.io.sources import (
            read_transcripts_jsonl,
            write_transcripts_jsonl,
        )
        from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
        from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

        pdf = generate_transcripts(4)
        src = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        path = str(tmp_path / "turns.jsonl")
        write_transcripts_jsonl(src, path)
        out = run_pipeline(read_transcripts_jsonl(spark, path))
        assert out["turns"].count() == len(pdf)
        assert out["records"].count() > 0

    def test_malformed_line_fails_fast(self, spark, tmp_path):
        import pytest as _pytest
        from universal_pdf_extractor_spark.io.sources import read_transcripts_jsonl

        p = tmp_path / "bad"
        p.mkdir()
        (p / "part.json").write_text(
            '{"conv_id": "c1", "turn_idx": 0, "role": "user", '
            '"text": "hi", "tool": null, "ts": "2024-01-01T00:00:00.000Z"}\n'
            "{not json at all\n")
        with _pytest.raises(Exception):
            read_transcripts_jsonl(spark, str(p)).collect()

    def test_keyless_row_fails_fast_not_silently_dropped(self, spark, tmp_path):
        """Well-formed JSON missing conv_id/turn_idx must raise under
        FAILFAST (the loud-failure contract), and be dropped only
        under the documented PERMISSIVE triage mode."""
        import pytest as _pytest
        from universal_pdf_extractor_spark.io.sources import read_transcripts_jsonl

        p = tmp_path / "keyless"
        p.mkdir()
        (p / "part.json").write_text(
            '{"conv_id": "c1", "turn_idx": 0, "role": "user", '
            '"text": "hi", "tool": null, "ts": "2024-01-01T00:00:00.000Z"}\n'
            '{"role": "assistant", "text": "no keys here", "tool": null, '
            '"ts": "2024-01-01T00:00:01.000Z"}\n')
        with _pytest.raises(Exception, match="conv_id/turn_idx"):
            read_transcripts_jsonl(spark, str(p)).collect()
        rows = read_transcripts_jsonl(spark, str(p), mode="PERMISSIVE").collect()
        assert [r.conv_id for r in rows] == ["c1"]


class TestSignatureEdgeCases:
    """Pin minhash_signatures (one MIN per exploded (doc, permutation))
    and simhash_fingerprints (one COUNT per exploded (doc, bit)) on the
    degenerate inputs: null text -> all-null signature / simhash 0 with
    n_tokens -1; empty text -> the ''-token signature; normal docs keep
    one output row per doc_id."""

    def test_minhash_null_and_empty_text(self, spark):
        from universal_pdf_extractor_spark.datapipe.dedup import (
            minhash_signatures,
        )
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3],
                          "text": [None, "", "alpha beta gamma delta"]}))
        out = {r["doc_id"]: r["signature"]
               for r in minhash_signatures(docs).collect()}
        assert len(out) == 3
        assert all(v is None for v in out[1])
        assert len(out[1]) == 64
        assert all(v is not None for v in out[2])  # '' still hashes
        assert all(v is not None for v in out[3])
        assert out[2] != out[3]

    def test_simhash_null_and_empty_text(self, spark):
        from universal_pdf_extractor_spark.datapipe.dedup import (
            simhash_fingerprints,
        )
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3],
                          "text": [None, "", "alpha beta gamma delta"]}))
        out = {r["doc_id"]: (r["simhash"], r["n_tokens"])
               for r in simhash_fingerprints(docs).collect()}
        assert len(out) == 3
        assert out[1] == (0, -1)      # null text: size(null) = -1, no bits
        assert out[2][1] == 1          # '' tokenizes to one '' token
        assert out[3][1] == 4
        assert out[3][0] != 0


# Pure-Python reference of the documented signature formulas.  The
# normalisation is Spark's: the JVM regex \s is [ \t\n\x0b\f\r],
# trim strips only spaces, then lowercase and split on ' '.
_JVM_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")
_P31 = (1 << 31) - 1


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _ref_words(text):
    return None if text is None else _JVM_SPACE.sub(" ", text).strip(" ").lower().split(" ")


def _ref_minhash(text, num_hashes=64, n=3):
    words = _ref_words(text)
    if words is None:
        return [None] * num_hashes
    shingles = ({" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}
                if len(words) >= n else {" ".join(words)})
    hs = [_hash60(s) % _P31 for s in shingles]
    return [min((h * (2 * i + 1) + (i * 0x9E3779B9 + 0x85EBCA6B) % _P31) % _P31
                for h in hs)
            for i in range(num_hashes)]


def _ref_simhash(text):
    words = _ref_words(text)
    if words is None:
        return 0, -1
    hs = [_hash60(w) for w in words]
    bits = [j for j in range(60) if 2 * sum((h >> j) & 1 for h in hs) > len(hs)]
    return sum(1 << j for j in bits), len(hs)


_WORDS = st.sampled_from(["alpha", "Beta", "gamma", "la", "straße", "ÉCOLE",
                          "жук", "中文", "٣٣", "x", "a-b"])
_GAPS = st.sampled_from([" ", "  ", "\t", "\n", " \r\n ", "\x0b", "\xa0"])
_texts = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=" \t\n\r\f\x0b", min_size=1, max_size=5),
    _WORDS,
    st.builds(lambda w, k: " ".join([w] * k), _WORDS, st.integers(2, 6)),
    st.builds(lambda parts, tail: "".join(g + w for g, w in parts) + tail,
              st.lists(st.tuples(_GAPS, _WORDS), min_size=1, max_size=12), _GAPS))


@given(st.lists(_texts, min_size=1, max_size=10))
@example([None, "", " \t\n ", "la la la la", "Ünï straße жук 中文", "single"])
@settings(max_examples=20, deadline=None)
def test_signatures_match_reference(spark, texts):
    from universal_pdf_extractor_spark.datapipe.dedup import (
        minhash_signatures,
        simhash_fingerprints,
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        schema="doc_id long, text string")
    sigs = {r["doc_id"]: list(r["signature"])
            for r in minhash_signatures(docs).collect()}
    fps = {r["doc_id"]: (r["simhash"], r["n_tokens"])
           for r in simhash_fingerprints(docs).collect()}
    assert sigs == {i: _ref_minhash(t) for i, t in enumerate(texts)}
    assert fps == {i: _ref_simhash(t) for i, t in enumerate(texts)}


# Boilerplate phrases whose spaces become a drawn separator, with
# filler around them. The separators cover every C0 control plus the
# Unicode whitespace that Python's \s matches and RE2's does not: the
# batch predicate must agree with the scalar one on every row,
# whichever regex engine the batch routes it to.
_BOILERPLATE_PHRASES = ["opening balance", "brought forward", "b/f", "sort code",
                        "page 1 of 2", "statement period", "total in", "iban"]
_SEPARATORS = [chr(c) for c in range(0x20)] + [" ", "\x7f", "\x85", "\xa0", "\u2028"]
_filler = st.text(alphabet=st.sampled_from(_SEPARATORS + list("ab1")), max_size=4)
_rows = st.one_of(
    st.none(),
    st.builds(lambda pre, phrase, sep, post: pre + phrase.replace(" ", sep) + post,
              _filler, st.sampled_from(_BOILERPLATE_PHRASES),
              st.sampled_from(_SEPARATORS), _filler),
    _filler)


@given(st.lists(_rows, min_size=1, max_size=20))
@settings(max_examples=300, deadline=None)
def test_summary_row_batch_matches_scalar(texts):
    from universal_pdf_extractor_spark.kernels.patterns import (
        is_summary_row,
        is_summary_row_batch,
    )
    batch = is_summary_row_batch(pd.Series(texts, dtype=object)).tolist()
    assert batch == [is_summary_row(t) for t in texts]
