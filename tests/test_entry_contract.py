"""Driver-contract checks: every queries() entry runs, and each
oracle_sql() entry value-matches DuckDB on the same parquet tables
(mimicking the driver's row-count + schema + value-hash compare)."""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

import duckdb
import pandas as pd
import pytest

from universal_pdf_extractor_spark import entry_queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _duck(sql: str, sf_dir: str = SF_DIR, tables=TABLES) -> pd.DataFrame:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        def norm(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return None
            if isinstance(v, Decimal):
                return f"{v:.6f}"
            if isinstance(v, float):
                return f"{v:.6f}"
            if isinstance(v, (pd.Timestamp,)):
                return v.isoformat().removesuffix("T00:00:00")
            if hasattr(v, "isoformat"):
                return v.isoformat().removesuffix("T00:00:00")
            if isinstance(v, (bool,)):
                return str(v)
            if isinstance(v, (int,)):
                return str(v)
            return str(v)
        df[c] = df[c].map(norm)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLE_CASES = sorted(entry_queries.oracle_sql().keys())
ROWS_ONLY_CASES = sorted(set(entry_queries.queries()) - set(ORACLE_CASES))


def _assert_same(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> None:
    got, exp = _canon(got), _canon(exp)
    assert list(got.columns) == list(exp.columns), f"{name}: column mismatch"
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    mism = (got != exp) & ~(got.isna() & exp.isna())
    if mism.any().any():
        idx = mism.any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch\ngot:\n{got[idx].head()}\nexp:\n{exp[idx].head()}")


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(spark, name):
    fn = entry_queries.queries()[name]
    _assert_same(name, fn(spark, SF_DIR).toPandas(),
                 _duck(entry_queries.oracle_sql()[name]))


def test_oracle_sql_texts_frozen():
    """The oracle texts and the catalogue order are frozen: every
    oracle_sql() text must hash to its digest in
    golden/oracle_sql_sha256.json, and queries() must list the same
    names in the same order."""
    path = os.path.join(os.path.dirname(__file__), "golden",
                        "oracle_sql_sha256.json")
    with open(path) as f:
        golden = json.load(f)
    frozen = golden["oracle_sql_sha256"]
    got = {name: hashlib.sha256(sql.encode()).hexdigest()
           for name, sql in entry_queries.oracle_sql().items()}
    changed = sorted(n for n in frozen.keys() | got.keys()
                     if frozen.get(n) != got.get(n))
    assert not changed, f"oracle_sql() texts differ from the frozen digests: {changed}"
    assert list(entry_queries.queries()) == golden["queries_order"]


def test_boilerplate_strip_matches_oracle_on_control_whitespace(spark, tmp_path):
    """The Spark body follows its RE2 oracle, where \\s is [\\t\\n\\f\\r ]:
    a vertical tab is not whitespace there, although the JVM's \\s
    takes it.  Unicode digits and separators are kept on both sides."""
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["hello world\nsort\x0bcode 12-34-56\nfoo", "a\x0bb",
                 "page \u0663 of \u0664", "sort\u2028code", "sort\x1ccode"]})
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    name = "boilerplate_strip_docs"
    got = entry_queries.queries()[name](spark, str(tmp_path)).toPandas()
    exp = _duck(entry_queries.oracle_sql()[name], str(tmp_path), ["documents"])
    _assert_same(name, got, exp)


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(spark, name):
    fn = entry_queries.queries()[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0  # runs without error, stable schema
    assert len(df.columns) > 0


@pytest.mark.parametrize("name", ["transcripts_records", "transcripts_conversations",
                                  "transcripts_segments",
                                  "transcripts_detected_tables"])
def test_rows_only_transcripts_schemas_are_flat(spark, name):
    """The driver canonicalizes rows-only results in pandas, which
    cannot hash list cells, so these entries must project every nested
    column to a scalar (transcripts_records' to_json rule)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = entry_queries.queries()[name](spark, SF_DIR).schema
    nested = [f.name for f in schema.fields
              if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not nested, f"{name}: nested columns {nested}"


def test_minhash_lsh_agrees_with_jaccard(spark):
    """LSH candidates at threshold 0.5 must cover the exact
    ngram-jaccard pairs at 0.5 with high recall (same corpus)."""
    exact = {(r.a, r.b) for r in
             entry_queries.queries()["dedup_ngram_jaccard"](spark, SF_DIR).collect()}
    approx = {(r.a, r.b) for r in
              entry_queries.queries()["dedup_minhash_lsh"](spark, SF_DIR).collect()}
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} too low"


def test_ann_lsh_recall_vs_brute_force(spark):
    bf = entry_queries.queries()["ann_cosine_topk"](spark, SF_DIR).toPandas()
    lsh = entry_queries.queries()["ann_lsh_topk"](spark, SF_DIR).toPandas()
    bf_sets = bf.groupby("query_id")["vec_id"].apply(set)
    lsh_sets = lsh.groupby("query_id")["vec_id"].apply(set)
    recalls = [len(bf_sets[q] & lsh_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets.index]
    assert sum(recalls) / len(recalls) >= 0.3  # approximate path sanity
