"""Dump .explain("formatted") for declared queries into plans/r06/,
or print each query's whole-stage-codegen facts.

Usage: python plans/dump_plans.py <suffix> [query ...]
       python plans/dump_plans.py --codegen [query ...]

``--codegen`` plans each query with AQE off (so the executed plan is
the whole codegen'd plan) and prints one line per query: the number
of codegen stages, their total generated Java source in KB, and the
largest compiled method in bytes of bytecode (HotSpot does not
JIT-compile a method above 8,000 bytes).  These are clock-free: they
do not depend on the host or its load.
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from universal_pdf_extractor_spark import entry_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "r06")

DEFAULT = [
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "amount_parse_roundtrip", "text_repetition_scores",
    "text_quality_scores", "text_pii_scan", "boilerplate_strip_docs",
    "ann_ivf_topk", "ann_cosine_topk",
]


def codegen_facts(spark, df) -> tuple[int, float, int]:
    """(codegen stages, generated source KB, largest method bytes) of
    ``df``'s executed plan; AQE must be off for the plan to be whole."""
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    stats = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    stages = [stats.apply(i) for i in range(stats.size())]
    source = sum(len(s._2()) for s in stages)
    largest = max((s._3().maxMethodCodeSize() for s in stages), default=0)
    return len(stages), source / 1000, largest


def main() -> None:
    codegen = sys.argv[1] == "--codegen"
    suffix = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = (SparkSession.builder.master("local[4]")
             .appName("plan-dump")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_queries.queries()

    if codegen:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        print(f"{'query':<28} {'stages':>6} {'source_kb':>10} {'max_method_b':>12}")
        for name in names:
            stages, kb, largest = codegen_facts(spark, registry[name](spark, SF_DIR))
            print(f"{name:<28} {stages:>6} {kb:>10.1f} {largest:>12}")
        spark.stop()
        return

    for name in names:
        if name == "pipeline_e2e":
            from universal_pdf_extractor_spark.stages.pipeline import run_pipeline
            transcripts = spark.read.parquet(
                f"/tmp/updf_spark_bench/transcripts_sf{entry_queries.sf_from_dir(SF_DIR)}")
            outs = run_pipeline(transcripts)
            for oname in ("turns", "records"):
                buf = io.StringIO()
                with redirect_stdout(buf):
                    outs[oname].explain("formatted")
                path = os.path.join(OUT_DIR, f"pipeline_{oname}_{suffix}.txt")
                with open(path, "w") as f:
                    f.write(buf.getvalue())
                print("wrote", path)
            continue
        df = registry[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
