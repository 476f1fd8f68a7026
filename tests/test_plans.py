"""Physical-plan guarantees the 100TB design depends on.

These assertions pin the scale-critical plan shapes so a refactor
cannot silently regress them:
- tokenize is shuffle-free (pipelines inside the scan stage);
- the whole tokenize -> segment -> extract chain introduces exactly
  ONE exchange (hash on conv_id), reused by both windows and the
  streamed extraction UDF;
- column pruning reaches the parquet scan (a narrow projection reads
  only the needed transcript columns — `text` excluded when unused);
- every generated method of the five pipeline output plans stays small
  enough for HotSpot to JIT-compile it, and the signature plans' generated
  code does not grow with the hash count;
- on a single-file input the datapipe barriers survive planning, so
  each heavy projection runs once;
- the segments table is a projection of the cached extraction frame,
  with no join or aggregate of its own.
"""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
from universal_pdf_extractor_spark.stages.extract import extract_combined_stage
from universal_pdf_extractor_spark.stages.segment import segment_stage
from universal_pdf_extractor_spark.stages.tokenize import tokenize_stage


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "corpus")
    pdf = generate_transcripts(10)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA) \
         .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_tokenize_is_shuffle_free(transcripts):
    plan = _plan(tokenize_stage(transcripts))
    assert plan.count("Exchange") == 0


def test_single_exchange_feeds_windows_and_extract(transcripts):
    rec = extract_combined_stage(segment_stage(tokenize_stage(transcripts)))
    plan = _plan(rec)
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(conv_id" in plan
    assert "MapInPandas" in plan  # streamed, not per-group, Python I/O


def test_column_pruning_reaches_scan(transcripts):
    narrow = transcripts.select("conv_id", "turn_idx")
    plan = _plan(narrow)
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines and "text" not in scan_lines[0]


def test_split_segments_grouping_is_equivalent(transcripts):
    """Skew escape hatch: repartitioning extraction on (conv_id,
    segment_index) must yield the identical combined frame — record
    rows and diag rows alike — from the same streamed UDF.  The split
    path re-sorts what it shuffles, so it holds even for an input whose
    rows arrive in reverse turn order with conversations interleaved."""
    seg = segment_stage(tokenize_stage(transcripts))
    keys = ["row_type", "conv_id", "segment_index", "row_index"]
    a = extract_combined_stage(seg).toPandas() \
        .sort_values(keys).reset_index(drop=True)
    shuffled = seg.orderBy(F.desc("turn_idx"), F.desc("conv_id"))
    b = extract_combined_stage(shuffled, split_segments=True).toPandas() \
        .sort_values(keys).reset_index(drop=True)
    assert set(a["row_type"]) == {"record", "diag"}
    assert a.equals(b)
    # the split variant pays exactly one extra exchange, in front of the
    # same MapInPandas (no per-group Python round trips)
    plan = _plan(extract_combined_stage(seg, split_segments=True))
    assert plan.count("Exchange") == 2
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def _node_names(plan) -> list[str]:
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _node_names(children.apply(i))
    return names


def test_segments_read_only_the_cached_extraction_frame(spark, transcripts):
    """With persist=True the segments table is a filter and projection
    of the persisted combined frame: no join, no aggregate, and no read
    of anything else (the turns frame included)."""
    from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

    out = run_pipeline(transcripts, persist=True)
    try:
        qe = out["segments"]._jdf.queryExecution()
        names = _node_names(qe.sparkPlan())
        assert not [n for n in names if "Join" in n or "Aggregate" in n], names
        assert names[-1] == "InMemoryTableScan", names
        leaves = qe.withCachedData().collectLeaves()
        cache = spark._jsparkSession.sharedState().cacheManager() \
            .lookupCachedData(out["_combined"]._jdf).get().cachedRepresentation()
        assert leaves.size() == 1
        assert leaves.apply(0).cacheBuilder().equals(cache.cacheBuilder())
    finally:
        for k in ("_turns_seg", "_combined"):
            out[k].unpersist()


# HotSpot's HugeMethodLimit: with the default -XX:+DontCompileHugeMethods
# a larger method is never JIT-compiled and runs interpreted
HUGE_METHOD_LIMIT = 8000


@contextmanager
def _aqe_off(spark):
    """AQE off, so the executed plan is the whole (codegen'd, reused)
    plan, not a stub that plans its stages at run time."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def _codegen(spark, df) -> tuple[list[int], int]:
    """(largest method bytes of each codegen stage, total generated
    source chars) of ``df``'s plan with AQE off."""
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    with _aqe_off(spark):
        stats = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
        stages = [stats.apply(i) for i in range(stats.size())]
        return ([s._3().maxMethodCodeSize() for s in stages],
                sum(len(s._2()) for s in stages))


@pytest.mark.parametrize("output", [
    "turns", "records", "segments", "conversations", "detected_tables"])
def test_pipeline_codegen_methods_are_jit_compilable(spark, transcripts, output):
    """No whole-stage-codegen method in the plan of any run_pipeline
    output exceeds HUGE_METHOD_LIMIT bytes of bytecode."""
    from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

    sizes, _ = _codegen(spark, run_pipeline(transcripts)[output])
    assert sizes
    assert max(sizes) <= HUGE_METHOD_LIMIT, sizes


@pytest.fixture(scope="module")
def one_file_documents(spark, tmp_path_factory):
    """A one-file documents table that plans as fewer scan partitions
    than defaultParallelism, so ``spread`` repartitions it."""
    path = tmp_path_factory.mktemp("onefile") / "documents.parquet"
    pd.DataFrame({
        "doc_id": list(range(40)),
        "text": [f"alpha beta gamma delta epsilon zeta {i % 7}\nline two {i % 3}"
                 for i in range(40)],
    }).to_parquet(path, index=False)
    docs = spark.read.parquet(str(path))
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    return docs


def _datapipe_op(name):
    from universal_pdf_extractor_spark.datapipe import dedup, textstats
    return getattr(dedup, name, None) or getattr(textstats, name)


# the heavy projection of each operator, as its plan prints it
@pytest.mark.parametrize("name, heavy", [
    ("ngram_jaccard_pairs", ["split(lower(trim(regexp_replace(text"]),
    ("minhash_lsh_pairs", ["md5("]),
    ("simhash_near_dups", ["md5("]),
    ("repetition_scores", ["split(text", "split(trim(regexp_replace(lower(text"]),
])
def test_single_file_barrier_computes_heavy_projection_once(
        spark, one_file_documents, name, heavy):
    """On a single-file input the barrier's hash(doc_id) exchange
    survives planning, and every branch reads the heavy projection
    through it (ReusedExchange): each appears in exactly one plan
    node, not once per branch above ``spread``'s exchange."""
    with _aqe_off(spark):
        lines = _plan(_datapipe_op(name)(one_file_documents)).splitlines()
    assert [l for l in lines if "hashpartitioning(doc_id" in l
            and "REPARTITION_BY_NUM" in l and "ReusedExchange" not in l]
    for marker in heavy:
        nodes = [l.strip() for l in lines if marker in l and "ReusedExchange" not in l]
        assert len(nodes) == 1, nodes


@pytest.mark.parametrize("name", ["minhash_lsh_pairs", "simhash_near_dups"])
def test_signature_codegen_does_not_grow_with_hash_count(
        spark, one_file_documents, name):
    """Every generated method of the signature plans is JIT-compilable
    and each plan generates at most 200 KB of source (k literal
    aggregates generated about 1 MB, with 11 KB methods)."""
    sizes, source = _codegen(spark, _datapipe_op(name)(one_file_documents))
    assert sizes
    assert max(sizes) <= HUGE_METHOD_LIMIT, sizes
    assert source <= 200_000, source


def test_ngram_candidate_phase_hashed_and_reused(spark, tmp_path_factory):
    """The jaccard candidate phase must shuffle 8-byte shingle hashes
    (xxhash64), and at runtime AQE must reuse the repartition barrier's
    exchange instead of recomputing the shingle arrays per branch."""
    import pandas as pd

    from universal_pdf_extractor_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(40)],
        "text": [f"alpha beta gamma delta epsilon zeta {i % 7}"
                 for i in range(40)],
    }))
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    pairs.collect()
    plan = _plan(pairs)
    assert "xxhash64" in plan
    assert plan.count("ReusedExchange") >= 1


def test_filter_pushdown_reaches_scan(transcripts):
    filtered = transcripts.where("turn_idx = 0").select("conv_id")
    plan = _plan(filtered)
    assert "PushedFilters: [" in plan
    assert "EqualTo(turn_idx,0)" in plan or "turn_idx" in plan.split("PushedFilters")[1][:120]


# each renderer, the per-page stage that reads its pages, the snapshot
# columns that stage reads, and ground-truth columns it must not read
@pytest.mark.parametrize("render, stage, reads, truth", [
    ("render_pages", "preprocess_pages", ["payload", "conf_micros"],
     ["rot_deg", "skew_milli"]),
    ("render_table_pages", "extract_tables", ["payload"], ["gt_mode", "gt_x0"]),
    ("render_skewed_table_pages", "deskew_and_extract", ["payload"],
     ["gt_skew_milli", "gt_mode"]),
], ids=["render_pages", "render_table_pages", "render_skewed_table_pages"])
def test_raster_stages_single_exchange_and_pruned(
        spark, tmp_path_factory, render, stage, reads, truth):
    """The raster path is embarrassingly parallel: every renderer plans
    exactly ONE exchange (the barrier's hash(doc_id) repartition that
    undoes the GlobalLimit single-partition collapse), and the per-page
    stage downstream is shuffle-free and reads only the columns it
    needs from the page snapshot — ground-truth columns never reach
    Python."""
    from universal_pdf_extractor_spark.datapipe import raster

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(8)]}))
    pages = getattr(raster, render)(docs)
    plan = _plan(pages)
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in plan

    path = str(tmp_path_factory.mktemp("raster") / "pages")
    pages.write.mode("overwrite").parquet(path)
    plan = _plan(getattr(raster, stage)(spark.read.parquet(path)))
    assert plan.count("Exchange") == 0          # shuffle-free
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert all(c in scan for c in reads)
    assert not [c for c in truth if c in scan]


def test_review_stats_single_partial_agg_exchange(spark):
    """The queue rollup is one partial-aggregate shuffle (map-side
    combine before the exchange)."""
    import pandas as pd

    from universal_pdf_extractor_spark.io.review import (
        review_queue_stats,
        route_to_review,
    )

    conv = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a", "b"], "validation_status": ["FAIL", "NEEDS_REVIEW"],
        "final_status": ["NEEDS_REVIEW", "NEEDS_REVIEW"],
        "hard_gate_failures": [["G"], []]}))
    plan = _plan(review_queue_stats(route_to_review(conv)))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2      # partial + final
