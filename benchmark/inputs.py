"""Seeded benchmark inputs, written as parquet files.

Every input derives from the workload seed through the repository's
own generator, ``io.fixtures.conversation_payload(conv_index, seed)``,
plus a ``random.Random(seed)`` for the near-duplicate edits.  The same
seed gives byte-identical files: the Arrow schemas are fixed, rows are
emitted in a fixed order and file names carry no run identity.
"""

from __future__ import annotations

import os
import random
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

from universal_pdf_extractor_spark.io.fixtures import conversation_payload

# Seed kept out of every tuning run, named so that a later claim can be
# re-checked on inputs nobody looked at while the change was written.
HELD_OUT_SEED = 104_729

TRANSCRIPTS_ARROW_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])

DOCUMENTS_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string()),
])

# replacement words for the planted near-duplicate edits
_EDIT_WORDS = ("amended", "copy", "ref", "corrected", "duplicate", "revised")


def conversation_kind(conv_index: int, seed: int) -> str:
    """The kind ``conversation_payload`` draws for this conversation.

    Mirrors the generator's first two draws (turn count, then kind), so
    a workload can keep one kind without generating the others.
    """
    rng = random.Random((seed << 20) ^ conv_index)
    rng.random()  # turn count
    draw = rng.random()
    if draw < 0.10:
        return "chatter"
    if draw < 0.20:
        return "motor_finance"
    return "bank_statement"


def _payload(turn: dict) -> str:
    """The turn's text as the pipeline sees it: text, else tool, else ''."""
    return turn["text"] or turn["tool"] or ""


def statement_features(conv_index: int, turns: list[dict]) -> set[str]:
    """Table layouts and segment shape a bank-statement conversation has."""
    if conv_index % 23 == 7:
        feats = {"pipes"}
    elif conv_index % 23 == 15:
        feats = {"spaces"}
    else:
        feats = {f"layout{conv_index % 4}"}
    headers = sum("Statement Period:" in _payload(t) for t in turns)
    if headers >= 2:
        feats.add("multi_segment")
    return feats


STATEMENT_FEATURES = frozenset(
    {"layout0", "layout1", "layout2", "layout3", "pipes", "spaces",
     "multi_segment"})


def statement_conversations(seed: int, n_turns: int) -> list[list[dict]]:
    """Bank-statement conversations holding ``n_turns`` turns, in index order.

    The first conversation with each feature (every solver layout, both
    fallback-tier renderings, a multi-segment conversation) is always
    kept; the others follow in index order.  The last one added is cut
    to its first turns (a transcript that ends early), so every seed
    gives the same number of turns.
    """
    chosen: dict[int, list[dict]] = {}
    seen: list[tuple[int, list[dict]]] = []
    missing = set(STATEMENT_FEATURES)
    conv_index = 0

    def next_statement() -> tuple[int, list[dict]]:
        nonlocal conv_index
        while conversation_kind(conv_index, seed) != "bank_statement":
            conv_index += 1
        found = (conv_index, conversation_payload(conv_index, seed))
        conv_index += 1
        return found

    while missing:
        idx, turns = next_statement()
        seen.append((idx, turns))
        feats = statement_features(idx, turns)
        if feats & missing:
            chosen[idx] = turns
            missing -= feats
    total = sum(len(t) for t in chosen.values())
    fillers = iter(seen)
    while total < n_turns:
        idx, turns = next(fillers, None) or next_statement()
        if idx not in chosen:
            chosen[idx] = turns[:n_turns - total]
            total += len(chosen[idx])
    return [chosen[i] for i in sorted(chosen)]


def transcripts_table(convs: list[list[dict]]) -> pa.Table:
    rows = [t for turns in convs for t in turns]
    return pa.table({
        "conv_id": [r["conv_id"] for r in rows],
        "turn_idx": [r["turn_idx"] for r in rows],
        "role": [r["role"] for r in rows],
        "text": [r["text"] for r in rows],
        "tool": [r["tool"] for r in rows],
        # the generator's timestamps are naive; they are read as UTC
        "ts": [r["ts"].replace(tzinfo=timezone.utc) for r in rows],
    }, schema=TRANSCRIPTS_ARROW_SCHEMA)


def write_transcripts(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Split by conversation (round-robin) into ``n_files`` parquet files,
    so the scan has more than one task, as a real corpus would."""
    os.makedirs(out_dir, exist_ok=True)
    conv_ids = table.column("conv_id").to_pylist()
    order = {c: i for i, c in enumerate(dict.fromkeys(conv_ids))}
    file_of = [order[c] % n_files for c in conv_ids]
    paths = []
    for k in range(n_files):
        mask = pa.array([f == k for f in file_of])
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.filter(mask), path)
        paths.append(path)
    return paths


def near_dup_documents(seed: int, n_docs: int, copy_share: float,
                       min_words: int = 20) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Documents made from bank-statement turn texts, with planted copies.

    About ``copy_share`` of the documents are edited copies of an
    original: each chosen source gets one to three copies, each copy
    with about one word in 25 replaced.  The share, the copies per
    source and the edit rate are assumptions, not measured from any
    corpus (PROTOCOL.md).  Returns the table and the planted
    (source_id, copy_id) pairs.
    """
    n_copies_target = int(round(n_docs * copy_share))
    n_orig = n_docs - n_copies_target
    texts: list[str] = []
    conv_index = 0
    while len(texts) < n_orig:
        if conversation_kind(conv_index, seed) == "bank_statement":
            for turn in conversation_payload(conv_index, seed):
                text = _payload(turn)
                if len(text.split()) >= min_words and len(texts) < n_orig:
                    texts.append(text)
        conv_index += 1

    rng = random.Random(seed)
    planted: list[tuple[int, int]] = []
    while len(texts) < n_docs:
        src = rng.randrange(n_orig)
        for _ in range(rng.randint(1, 3)):
            if len(texts) == n_docs:
                break
            words = texts[src].split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(_EDIT_WORDS)
            planted.append((src, len(texts)))
            texts.append(" ".join(words))
    table = pa.table({"doc_id": list(range(len(texts))), "text": texts},
                     schema=DOCUMENTS_ARROW_SCHEMA)
    return table, planted


def write_documents(table: pa.Table, path: str) -> str:
    """One parquet file, like the ``documents.parquet`` table the query
    catalogue (``entry_queries``) reads."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
