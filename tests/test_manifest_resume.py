"""Checkpoint/lineage manifests + exact resume (io/manifest.py)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F  # noqa: N812

from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.io.manifest import (
    PIPELINE_VERSION,
    bucket_of,
    committed_groups,
    latest_run,
    manifest_path,
    run_history,
    run_with_resume,
    table_digest,
)
from universal_pdf_extractor_spark.kernels.segment_extract import FALLBACK_SOURCES
from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

N_GROUPS = 4
TABLES = ("turns", "records", "segments", "conversations", "detected_tables")
# Spark jobs that one group of this module's corpus ran while the
# manifest still recomputed its figures after the writes: a separate
# input count, two groupBy collects for the engine events, and a
# count+checksum job per table that recomputed it
JOBS_PER_GROUP_RECOMPUTED = 32
# Spark jobs one group of this corpus runs now that every figure is
# observed on the writes and the segments table is read off the
# extraction frame (12 while segments took two aggregates and a join).
# A change here is a change in per-group JVM work
JOBS_PER_GROUP = 10


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_transcripts(24)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def test_full_run_then_exact_resume(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out"))

    s1 = run_with_resume(corpus, out, n_groups=N_GROUPS)
    assert s1["processed"] == list(range(N_GROUPS))
    assert committed_groups(out) == set(range(N_GROUPS))

    turns_all = spark.read.parquet(os.path.join(out, "turns")).count()
    assert turns_all == corpus.count()

    # manifests carry lineage metrics + run identity
    with open(manifest_path(out, 0)) as fh:
        m = json.load(fh)
    assert m["input_rows"] > 0
    assert set(m["outputs"]) == {"turns", "records", "segments",
                                  "conversations", "detected_tables"}
    assert all("rows" in v and "xor64" in v for v in m["outputs"].values())
    assert m["run_id"] == s1["run_id"]
    assert m["pipeline_version"] == PIPELINE_VERSION
    # usage/cost events analogue: per-engine row counts + duration
    assert sum(m["engine_events"]["turns_by_path"].values()) == m["input_rows"]
    assert set(m["engine_events"]["turns_by_path"]) <= {"TEXT", "TOOL", "EMPTY"}
    assert set(m["engine_events"]["records_by_parser"]) <= \
        {"column_path", *FALLBACK_SOURCES}
    assert m["duration_sec"] > 0

    # outputs carry the run_id column; registry reconstructs is_latest
    turns_df = spark.read.parquet(os.path.join(out, "turns"))
    assert set(turns_df.select("run_id").distinct().toPandas()["run_id"]) \
        == {s1["run_id"]}
    reg = latest_run(out)
    assert reg["run_id"] == s1["run_id"]
    assert reg["engine_versions"]["engine"] == PIPELINE_VERSION

    # simulate a crash that lost group 2: drop its manifest + outputs
    os.remove(manifest_path(out, 2))
    for table in TABLES:
        shutil.rmtree(os.path.join(out, table, "bucket_group=2"), ignore_errors=True)

    s2 = run_with_resume(corpus, out, n_groups=N_GROUPS)
    assert s2["processed"] == [2]
    assert sorted(s2["skipped"]) == [0, 1, 3]

    # after resume the dataset is whole again and group 2 carries the
    # NEW run's identity (reprocessing history reconstructable)
    assert spark.read.parquet(os.path.join(out, "turns")).count() == turns_all
    with open(manifest_path(out, 2)) as fh:
        m2 = json.load(fh)
    assert m2["outputs"]["turns"]["rows"] > 0
    assert m2["run_id"] == s2["run_id"] != s1["run_id"]
    assert [r["run_id"] for r in run_history(out)] == [s1["run_id"], s2["run_id"]]
    assert latest_run(out)["run_id"] == s2["run_id"]


def test_noop_when_all_committed(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out2"))
    run_with_resume(corpus, out, n_groups=2)
    s = run_with_resume(corpus, out, n_groups=2)
    assert s["processed"] == []
    assert sorted(s["skipped"]) == [0, 1]


def test_noop_resume_keeps_writing_run_latest(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out3"))
    s1 = run_with_resume(corpus, out, n_groups=2)
    s2 = run_with_resume(corpus, out, n_groups=2)  # no-op resume
    assert s2["processed"] == []
    # both runs are in the registry, but is_latest reconstruction must
    # point at the run whose run_id actually appears on output rows
    assert [r["run_id"] for r in run_history(out)] == [s1["run_id"], s2["run_id"]]
    assert latest_run(out)["run_id"] == s1["run_id"]


def _manifest(out, group):
    with open(manifest_path(out, group)) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def one_group(spark, corpus, tmp_path_factory):
    """The whole corpus as one group, run under a job group of its own:
    (output dir, manifest, number of Spark jobs the group ran)."""
    out = str(tmp_path_factory.mktemp("one_group"))
    sc = spark.sparkContext
    sc.setJobGroup("manifest-one-group", "run_with_resume, one group")
    try:
        run_with_resume(corpus, out, n_groups=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job ids arrive by event
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("manifest-one-group"))
    return out, _manifest(out, 0), n_jobs


def test_group_runs_fewer_jobs_than_recomputing(one_group):
    # the manifest's figures ride on the write jobs: no table is
    # computed a second time for its digest or its engine counts
    assert one_group[2] < JOBS_PER_GROUP_RECOMPUTED
    assert one_group[2] == JOBS_PER_GROUP


def test_observed_metrics_match_recompute(spark, corpus, one_group):
    out, m, _ = one_group
    for table in TABLES:
        df = spark.read.parquet(os.path.join(out, table, "bucket_group=0"))
        row = df.agg(F.count(F.lit(1)).alias("n"), table_digest(df).alias("x")).first()
        assert m["outputs"][table] == {"rows": row["n"], "xor64": row["x"]}, table

    turns = spark.read.parquet(os.path.join(out, "turns", "bucket_group=0"))
    by_path = {r["extraction_path"]: r["count"]
               for r in turns.groupBy("extraction_path").count().collect()}
    assert m["engine_events"]["turns_by_path"] == by_path
    records = spark.read.parquet(os.path.join(out, "records", "bucket_group=0"))
    by_parser: dict = {}
    for r in records.groupBy("fallback_used", "direction_source").count().collect():
        key = r["direction_source"] if r["fallback_used"] else "column_path"
        by_parser[key] = by_parser.get(key, 0) + r["count"]
    assert m["engine_events"]["records_by_parser"] == by_parser

    part = corpus.where(bucket_of(F.col("conv_id"), 1) == 0)
    assert m["input_rows"] == part.count() == corpus.count()


def test_failed_write_commits_no_manifest(spark, tmp_path_factory):
    corpus = spark.createDataFrame(generate_transcripts(6), schema=TRANSCRIPTS_SCHEMA)
    out = str(tmp_path_factory.mktemp("failed_write"))

    def failing_segments(df, **kw):
        outputs = run_pipeline(df, **kw)
        seg = outputs["segments"]
        outputs["segments"] = seg.withColumn("conv_id", F.when(
            F.col("conv_id").isNotNull(), F.raise_error(F.lit("injected failure")))
            .otherwise(F.col("conv_id")))
        return outputs

    with pytest.raises(Exception, match="injected failure"):
        run_with_resume(corpus, out, n_groups=1, run_pipeline_fn=failing_segments)
    assert committed_groups(out) == set()

    s = run_with_resume(corpus, out, n_groups=1)
    assert s["processed"] == [0]
    assert _manifest(out, 0)["outputs"]["segments"]["rows"] > 0


def test_empty_group_manifest(spark, tmp_path_factory):
    # more groups than conversations: some bucket group holds no input
    corpus = spark.createDataFrame(generate_transcripts(2), schema=TRANSCRIPTS_SCHEMA)
    out = str(tmp_path_factory.mktemp("empty_group"))
    run_with_resume(corpus, out, n_groups=3)
    manifests = [_manifest(out, g) for g in range(3)]
    empty = [m for m in manifests if m["input_rows"] == 0]
    assert empty
    for m in empty:
        assert all(v == {"rows": 0, "xor64": 0} for v in m["outputs"].values())
        assert m["engine_events"] == {"turns_by_path": {}, "records_by_parser": {}}
    assert sum(m["input_rows"] for m in manifests) == corpus.count()


def test_unknown_fallback_tier_fails_the_group(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("unknown_tier"))

    def unknown_tier(df, **kw):
        outputs = run_pipeline(df, **kw)
        outputs["records"] = outputs["records"] \
            .withColumn("fallback_used", F.lit(True)) \
            .withColumn("direction_source", F.lit("not_a_tier"))
        return outputs

    with pytest.raises(ValueError, match="records rows outside the engines"):
        run_with_resume(corpus, out, n_groups=1, run_pipeline_fn=unknown_tier)
    assert committed_groups(out) == set()


def test_split_segments_writes_identical_manifests(spark, corpus, tmp_path_factory):
    """The skew escape hatch only repartitions extraction: with the
    run_id pinned (every table's xor64 hashes it), each group's
    manifest matches the default path's in every figure but time."""
    def split(df, **kw):
        return run_pipeline(df, split_segments=True, **kw)

    manifests = []
    for name, fn in (("default", None), ("split", split)):
        out = str(tmp_path_factory.mktemp(f"manifest_{name}"))
        run_with_resume(corpus, out, n_groups=2, run_pipeline_fn=fn,
                        run_id="run-pinned")
        manifests.append([{k: v for k, v in _manifest(out, g).items()
                           if k != "duration_sec"} for g in range(2)])
    default, split_path = manifests
    assert all(m["outputs"]["records"]["rows"] > 0 for m in default)
    assert split_path == default
