"""Seeded input generation: byte-identical per seed, distinct across
seeds, and covering what each workload is meant to exercise."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from benchmark import inputs
from universal_pdf_extractor_spark.io.fixtures import conversation_payload

SEED = 1


def _statement_files(tmp_path, seed: int, name: str) -> dict[str, bytes]:
    convs = inputs.statement_conversations(seed, 300)
    paths = inputs.write_transcripts(inputs.transcripts_table(convs),
                                     str(tmp_path / name), n_files=4)
    return {os.path.basename(p): open(p, "rb").read() for p in paths}


def _documents_file(tmp_path, seed: int, name: str) -> bytes:
    table, _ = inputs.near_dup_documents(seed, 200, 0.15)
    path = inputs.write_documents(table, str(tmp_path / name / "documents.parquet"))
    return open(path, "rb").read()


def test_same_seed_gives_byte_identical_files(tmp_path):
    assert _statement_files(tmp_path, SEED, "a") == _statement_files(tmp_path, SEED, "b")
    assert _documents_file(tmp_path, SEED, "a") == _documents_file(tmp_path, SEED, "b")


def test_held_out_seed_gives_other_inputs(tmp_path):
    assert inputs.HELD_OUT_SEED != SEED
    assert (_statement_files(tmp_path, SEED, "a")
            != _statement_files(tmp_path, inputs.HELD_OUT_SEED, "b"))
    assert (_documents_file(tmp_path, SEED, "a")
            != _documents_file(tmp_path, inputs.HELD_OUT_SEED, "b"))


def test_conversation_kind_matches_the_generator():
    """A bank statement opens with its header block; the other kinds never
    carry one (turns blanked by the generator are skipped)."""
    for seed in (SEED, inputs.HELD_OUT_SEED):
        for conv_index in range(300):
            first = conversation_payload(conv_index, seed)[0]
            payload = first["text"] or first["tool"] or ""
            if payload:
                assert (("Statement Period:" in payload)
                        == (inputs.conversation_kind(conv_index, seed) == "bank_statement"))


def test_statement_input_has_exact_size_and_full_coverage(tmp_path):
    for seed in (SEED, inputs.HELD_OUT_SEED):
        convs = inputs.statement_conversations(seed, 1500)
        assert sum(len(c) for c in convs) == 1500
        seen = set()
        for turns in convs:
            conv_index = int(turns[0]["conv_id"].split("_")[1])
            assert inputs.conversation_kind(conv_index, seed) == "bank_statement"
            seen |= inputs.statement_features(conv_index, turns)
        assert inputs.STATEMENT_FEATURES <= seen
    paths = inputs.write_transcripts(inputs.transcripts_table(convs),
                                     str(tmp_path / "t"), n_files=8)
    assert sum(pq.read_metadata(p).num_rows for p in paths) == 1500


def test_planted_copies_are_edited_copies_of_their_source():
    table, planted = inputs.near_dup_documents(SEED, 400, 0.15)
    texts = table.column("text").to_pylist()
    assert table.num_rows == 400
    assert len(planted) == 60
    for src, copy in planted:
        assert src < copy
        a, b = texts[src].split(), texts[copy].split()
        assert len(a) == len(b) and a != b
        assert sum(x != y for x, y in zip(a, b)) <= max(1, len(a) // 25)
