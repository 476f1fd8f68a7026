"""Output checks: the single-process oracle, manifest digests, DuckDB.

Each check returns a list of mismatch descriptions; an empty list is a
pass.  A run counts every operation whose check reports a mismatch as
failed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random

import pandas as pd
import pyarrow.parquet as pq

from universal_pdf_extractor_spark.kernels.oracle import process_conversation

MAX_REPORTED = 20  # mismatch descriptions kept per check


def _none(v):
    """pandas reads SQL NULL as None or NaN; both mean 'no value'."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def sample_conversations(conv_ids: list[str], seed: int, k: int) -> list[str]:
    """A seeded sample of conversation ids, in input order."""
    if len(conv_ids) <= k:
        return list(conv_ids)
    chosen = set(random.Random(seed).sample(conv_ids, k))
    return [c for c in conv_ids if c in chosen]


def oracle_results(convs: dict[str, list[dict]]) -> dict[str, dict]:
    """``process_conversation`` for each conversation's generated turns."""
    out = {}
    for conv_id, turns in convs.items():
        payloads = [(t["turn_idx"], t["text"] or t["tool"] or "")
                    for t in sorted(turns, key=lambda t: t["turn_idx"])]
        out[conv_id] = process_conversation(payloads)
    return out


def read_outputs(out_dir: str, conv_ids: list[str]) -> dict[str, pd.DataFrame]:
    """The turns, records and conversations tables of one pass, restricted
    to ``conv_ids``."""
    keep = set(conv_ids)
    frames = {}
    for table in ("turns", "records", "conversations"):
        df = pq.read_table(os.path.join(out_dir, table)).to_pandas()
        frames[table] = df[df["conv_id"].isin(keep)]
    return frames


def _spans(spans) -> list[tuple]:
    return [(s["field"], s["start"], s["end"]) for s in spans]


def _evidence(evidence) -> list[tuple]:
    return [(v["field"], v["turn_idx"], v["start"], v["end"]) for v in evidence]


def compare_with_oracle(outputs: dict[str, pd.DataFrame],
                        oracle: dict[str, dict]) -> list[str]:
    """Per (conv_id, turn_idx) text/span/segment checks, per-record
    checks and the conversation row, against the oracle."""
    bad: list[str] = []

    def check(ok: bool, what: str) -> None:
        if not ok and len(bad) < MAX_REPORTED:
            bad.append(what)

    turns = outputs["turns"]
    check(len(turns) == sum(len(o["turns"]) for o in oracle.values()),
          f"turns: {len(turns)} rows for the sampled conversations")
    for row in turns.itertuples():
        exp = {t["turn_idx"]: t for t in oracle[row.conv_id]["turns"]}.get(row.turn_idx)
        key = f"turn {row.conv_id}/{row.turn_idx}"
        if exp is None:
            check(False, f"{key}: not in the oracle")
            continue
        check(row.raw_text == exp["raw_text"], f"{key}: raw_text")
        check(row.clean_text == exp["clean_text"], f"{key}: clean_text")
        check(_spans(row.spans) == _spans(exp["spans"]), f"{key}: spans")
        check(row.segment_index == exp["segment_index"], f"{key}: segment_index")
        check((row.n_lines, row.n_tokens) == (exp["n_lines"], exp["n_tokens"]),
              f"{key}: n_lines/n_tokens")

    records = outputs["records"].sort_values(["conv_id", "segment_index", "row_index"])
    by_conv = {c: list(g.itertuples()) for c, g in records.groupby("conv_id")}
    for conv_id, o in oracle.items():
        got, exp_records = by_conv.get(conv_id, []), o["records"]
        check(len(got) == len(exp_records),
              f"records {conv_id}: {len(got)} rows, oracle {len(exp_records)}")
        for g, e in zip(got, exp_records):
            key = f"record {conv_id}/{e['segment_index']}/{e['row_index']}"
            check((g.segment_index, g.row_index, g.turn_idx)
                  == (e["segment_index"], e["row_index"], e["turn_idx"]), f"{key}: position")
            check(_none(g.posted_date) == e["posted_date"], f"{key}: posted_date")
            check(g.description_clean == e["description_clean"], f"{key}: description")
            check(_none(g.amount) == e["amount"], f"{key}: amount")
            check((g.direction, g.direction_source)
                  == (e["direction"], e["direction_source"]), f"{key}: direction")
            check(_none(g.running_balance) == e["running_balance"], f"{key}: running_balance")
            check(bool(g.balance_confirmed) == e["balance_confirmed"], f"{key}: balance_confirmed")
            check(bool(g.fallback_used) == e["fallback_used"], f"{key}: fallback_used")
            for c in ("confidence_direction", "confidence_amount", "confidence_date"):
                check(float(getattr(g, c)) == round(e[c], 4), f"{key}: {c}")
            check(_evidence(g.evidence) == _evidence(e["evidence"]), f"{key}: evidence")

    conv = outputs["conversations"].set_index("conv_id")
    check(len(conv) == len(oracle), f"conversations: {len(conv)} rows")
    for conv_id, o in oracle.items():
        if conv_id not in conv.index:
            check(False, f"conversation {conv_id}: missing")
            continue
        g, e = conv.loc[conv_id], o["conversation"]
        key = f"conversation {conv_id}"
        for c in ("doc_family", "provider", "currency", "account_holder_name",
                  "account_holder_postcode", "validation_status", "final_status",
                  "row_count", "n_segments"):
            check(_none(g[c]) == e[c], f"{key}: {c}")
        for c in ("doc_family_confidence", "document_confidence"):
            check(math.isclose(float(g[c]), e[c], abs_tol=1e-4), f"{key}: {c}")
        for c in ("hard_gate_failures", "warnings"):
            check(list(g[c]) == list(e[c]), f"{key}: {c}")
    return bad


def manifest_digests(out_dir: str) -> dict[str, dict[str, list[int]]]:
    """{group: {table: [rows, xor64]}} from a pass's committed manifests."""
    out = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "_manifests", "group_*.json"))):
        with open(path) as fh:
            meta = json.load(fh)
        out[str(meta["group"])] = {t: [v["rows"], v["xor64"]]
                                   for t, v in meta["outputs"].items()}
    return out


def compare_digests(first: dict, later: dict, what: str) -> list[str]:
    if first == later:
        return []
    diff = sorted(g for g in set(first) | set(later) if first.get(g) != later.get(g))
    return [f"{what}: manifest digests differ from the first pass in groups {diff}"]


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


# the query-catalogue entries whose SQL oracle checks each pair table;
# their texts fix the thresholds the workload passes to the dedup calls
DEDUP_ORACLE_QUERIES = {
    "ngram": "dedup_ngram_jaccard",
    "minhash": "dedup_minhash_lsh",
    "simhash": "dedup_simhash",
}


def duckdb_pairs(documents_path: str) -> dict[str, set[tuple]]:
    """Run the repository's ``oracle_sql()`` text for the three dedup
    queries in DuckDB over ``documents_path``."""
    import duckdb

    from universal_pdf_extractor_spark.entry_queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.read_parquet(documents_path).create_view("documents")
        return {name: set(con.execute(sql[query]).fetchall())
                for name, query in DEDUP_ORACLE_QUERIES.items()}
    finally:
        con.close()


def compare_pairs(got_rows, expected: set[tuple], what: str) -> list[str]:
    got = {tuple(r) for r in got_rows}
    if got == expected and len(got_rows) == len(got):
        return []
    missing, extra = expected - got, got - expected
    return [f"{what}: {len(got_rows)} rows, {len(missing)} oracle pairs missing "
            f"(e.g. {sorted(missing)[:3]}), {len(extra)} extra (e.g. {sorted(extra)[:3]})"]


def components_reference(pairs: set[tuple]) -> set[tuple]:
    """(doc_id, keep_id, component_size, is_keeper) by union-find: every
    document of a connected component keeps its smallest doc_id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {x: find(x) for x in list(parent)}
    sizes: dict[int, int] = {}
    for root in label.values():
        sizes[root] = sizes.get(root, 0) + 1
    return {(x, root, sizes[root], x == root) for x, root in label.items()}


def planted_recall(pairs: set[tuple], planted: list[tuple[int, int]]) -> float:
    found = {(a, b) for a, b, *_ in pairs}
    hits = sum((min(s, c), max(s, c)) in found for s, c in planted)
    return hits / len(planted) if planted else 1.0


def planted_and_natural(pairs: set[tuple], planted: list[tuple[int, int]]) -> tuple[int, int]:
    """How many pairs join two documents of one planted family (a source
    and its copies) and how many occur naturally."""
    family = {}
    for src, copy in planted:
        family[src] = family[copy] = src
    n_planted = sum(a in family and family.get(b) == family[a] for a, b, *_ in pairs)
    return n_planted, len(pairs) - n_planted
