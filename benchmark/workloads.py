"""The benchmark's workloads.

Each workload builds its inputs from the seed before the Spark session
starts (``prepare``), then runs passes through the repository's public
entry points.  ``execute`` is the timed part of a pass;
``check`` compares its output with the oracle (first pass) or with the
first pass's digests (later passes) and is not timed.  ``traced_pass``
runs one more pass with a span around each layer and returns the
per-layer metrics.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass, field
from unittest import mock

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from universal_pdf_extractor_spark.datapipe import dedup, textstats
from universal_pdf_extractor_spark.io.manifest import run_with_resume
from universal_pdf_extractor_spark.stages import pipeline

from . import checks, inputs
from .tracing import MB, Tracer, job_group_metrics


@dataclass
class Ops:
    """Operations a pass attempted and the problems found in them."""
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


# ───────────────────────────── statements ─────────────────────────────

class Statements:
    """Bank-statement conversations through ``run_with_resume(n_groups=1)``,
    the equivalent of ``job.py --groups 1``."""

    name = "statements"
    item = "turns"
    N_TURNS = 26_500
    N_FILES = 8
    N_GROUPS = 1
    ORACLE_SAMPLE = 16
    LAYERS = ("tokenize", "segment", "extract", "classify", "score")

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.input_dir = os.path.join(work_dir, "input", "transcripts")
        self.first_digests: dict | None = None
        self.errors: dict[str, Exception] = {}

    def prepare(self) -> None:
        convs = inputs.statement_conversations(self.seed, self.N_TURNS)
        table = inputs.transcripts_table(convs)
        inputs.write_transcripts(table, self.input_dir, self.N_FILES)
        self.items = table.num_rows
        by_id = {turns[0]["conv_id"]: turns for turns in convs}
        sample = checks.sample_conversations(list(by_id), self.seed, self.ORACLE_SAMPLE)
        self.sample = sample
        self.oracle = checks.oracle_results({c: by_id[c] for c in sample})
        self.input_note = f"{len(convs)} conversations"

    def open(self, spark: SparkSession) -> None:
        self.spark = spark
        self.transcripts = spark.read.parquet(self.input_dir)

    def _out(self, pass_id: str) -> str:
        return os.path.join(self.work_dir, "out", pass_id)

    def execute(self, pass_id: str, run_pipeline_fn=None) -> None:
        # output rows carry the run id, so every pass uses the same one
        # for the manifest digests to be comparable across passes
        try:
            run_with_resume(self.transcripts, self._out(pass_id),
                            n_groups=self.N_GROUPS, run_pipeline_fn=run_pipeline_fn,
                            run_id="benchmark")
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            self.errors[pass_id] = exc

    def check(self, pass_id: str, ops: Ops) -> None:
        out = self._out(pass_id)
        exc = self.errors.pop(pass_id, None)
        if exc is not None:
            ops.record(f"pass {pass_id}", [f"raised {type(exc).__name__}: {str(exc)[:300]}"])
            shutil.rmtree(out, ignore_errors=True)
            return
        digests = checks.manifest_digests(out)
        problems = []
        inputs_seen = sum(v["turns"][0] for v in digests.values())
        if inputs_seen != self.items:
            problems.append(f"turns table holds {inputs_seen} rows, input {self.items}")
        if self.first_digests is None:
            self.first_digests = digests
            problems += checks.compare_with_oracle(
                checks.read_outputs(out, self.sample), self.oracle)
        else:
            problems += checks.compare_digests(self.first_digests, digests, pass_id)
        ops.record(f"pass {pass_id}", problems)
        shutil.rmtree(out, ignore_errors=True)

    def _traced_run_pipeline(self, tracer: Tracer, pass_id: str):
        """``run_pipeline`` itself, with each stage function it calls
        forced inside a span of its layer.

        The forced frames are returned under "_"-prefixed keys, which
        ``run_with_resume`` unpersists once the group is written.
        """
        def run(transcripts: DataFrame, persist: bool = False, **kwargs) -> dict:
            first = len(tracer.forced)
            with contextlib.ExitStack() as patches:
                for fn_name, layer in TRACED_STAGES.items():
                    fn = getattr(pipeline, fn_name)
                    patches.enter_context(mock.patch.object(
                        pipeline, fn_name, tracer.forcing(layer, pass_id, fn)))
                out = pipeline.run_pipeline(transcripts, persist=persist, **kwargs)
            out.update({f"_traced_{i}": df
                        for i, df in enumerate(tracer.forced[first:])})
            return out
        return run

    def traced_pass(self, tracer: Tracer, pass_id: str, ops: Ops) -> dict:
        with tracer.span("manifest", pass_id):
            self.execute(pass_id, self._traced_run_pipeline(tracer, pass_id))
        n_records = n_fallback = 0
        if pass_id not in self.errors:
            records = pq.read_table(os.path.join(self._out(pass_id), "records"),
                                    columns=["fallback_used"])
            n_records = records.num_rows
            n_fallback = int(pc.sum(records.column("fallback_used")).as_py() or 0)
        self.check(pass_id, ops)
        tracer.collect_metrics()
        self_s = tracer.self_seconds
        root = tracer.named("manifest")[-1]
        tokenized = tracer.named("tokenize")
        untraced = job_group_metrics(self.spark, "timed-0")
        layer = {
            "tokenize.self_s": self_s("tokenize"),
            "tokenize.rows_out": tracer.spans[tokenized[-1]].rows if tokenized else 0,
            "segment.self_s": self_s("segment"),
            "segment.shuffle_write_mb":
                tracer.totals(("segment",), pass_id).shuffle_write_bytes / MB,
            "extract.self_s": self_s("extract"),
            "extract.records_out": n_records,
            "extract.fallback_records": n_fallback,
            "extract.fallback_share": n_fallback / n_records if n_records else 0.0,
            "classify.self_s": self_s("classify"),
            "score.self_s": self_s("score"),
            "manifest.self_s": tracer.self_time(root),
            "manifest.jobs_per_group": untraced.jobs / self.N_GROUPS,
            "manifest.stages_per_group": untraced.stages / self.N_GROUPS,
        }
        parts = [f"{n}.self_s" for n in self.LAYERS] + ["manifest.self_s"]
        return {"layer": layer, "root": root, "parts": parts}


# The stage functions ``run_pipeline`` calls, each with the layer it
# belongs to; ``segments_table`` lives in stages.extract but is scoring.
TRACED_STAGES = {
    "tokenize_stage": "tokenize",
    "segment_stage": "segment",
    "extract_combined_stage": "extract",
    "segments_table": "score",
    "classify_stage": "classify",
    "conversations_table": "score",
}


# ───────────────────────────── near_dups ──────────────────────────────

class NearDups:
    """Near-duplicate documents through the dedup and textstats operators."""

    name = "near_dups"
    item = "docs"
    N_DOCS = 1_500
    # an assumption, not a measured near-duplicate rate (PROTOCOL.md)
    COPY_SHARE = 0.15
    NGRAM_THRESHOLD = 0.5  # the oracle texts fix these three parameters
    MINHASH_THRESHOLD = 0.5
    MAX_HAMMING = 3
    OPS = ("ngram", "minhash", "simhash", "components", "quality", "repetition")
    SPAN_OF = {"ngram": "dedup.ngram", "minhash": "dedup.minhash",
               "simhash": "dedup.simhash", "components": "dedup.components",
               "quality": "textstats.quality", "repetition": "textstats.repetition"}

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.path = os.path.join(work_dir, "input", "documents.parquet")
        self.first_digests: dict | None = None
        self.results: dict[str, dict] = {}

    def prepare(self) -> None:
        table, self.planted = inputs.near_dup_documents(
            self.seed, self.N_DOCS, self.COPY_SHARE)
        inputs.write_documents(table, self.path)
        self.items = table.num_rows
        self.expected = checks.duckdb_pairs(self.path)
        self.expected["components"] = checks.components_reference(self.expected["ngram"])
        self.planted_pairs, self.natural_pairs = checks.planted_and_natural(
            self.expected["ngram"], self.planted)
        self.input_note = (
            f"{len(self.planted)} planted copies; of the oracle's "
            f"{len(self.expected['ngram'])} n-gram pairs, {self.planted_pairs} are "
            f"planted (source or copy with a copy of the same source) and "
            f"{self.natural_pairs} occur naturally")

    def open(self, spark: SparkSession) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path)

    def _frames(self, docs: DataFrame, pairs: DataFrame | None = None) -> dict:
        """Lazy frames of one pass; components runs over the n-gram pairs."""
        return {
            "ngram": lambda: dedup.ngram_jaccard_pairs(docs, threshold=self.NGRAM_THRESHOLD),
            "minhash": lambda: dedup.minhash_lsh_pairs(docs, threshold=self.MINHASH_THRESHOLD),
            "simhash": lambda: dedup.simhash_near_dups(docs, max_hamming=self.MAX_HAMMING),
            "components": lambda: dedup.dedup_components(pairs),
            "quality": lambda: textstats.quality_scores(docs),
            "repetition": lambda: textstats.repetition_scores(docs),
        }

    def _run(self, docs: DataFrame) -> dict:
        """Run and collect the six calls; a failed call's exception is
        kept in place of its rows."""
        got: dict = {}
        pairs = None
        for op in self.OPS:
            try:
                df = self._frames(docs, pairs)[op]()
                if op == "ngram":  # components reads the pairs again
                    pairs = df = df.persist()
                got[op] = df.collect()
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                got[op] = exc
        if pairs is not None:
            pairs.unpersist()
        return got

    def execute(self, pass_id: str) -> None:
        self.results[pass_id] = self._run(self.docs)

    def _check_op(self, op: str, rows) -> list[str]:
        if isinstance(rows, Exception):
            return [f"raised {type(rows).__name__}: {str(rows)[:300]}"]
        if self.first_digests is not None:
            if checks.rows_digest(rows) != self.first_digests[op]:
                return ["rows differ from the first pass"]
            return []
        if op in self.expected:
            return checks.compare_pairs(rows, self.expected[op], op)
        if len(rows) != self.items:
            return [f"{len(rows)} rows for {self.items} documents"]
        return []

    def check(self, pass_id: str, ops: Ops) -> None:
        got = self.results.pop(pass_id)
        for op in self.OPS:
            ops.record(f"pass {pass_id} {op}", self._check_op(op, got[op]))
        if self.first_digests is None:
            self.first_digests = {op: checks.rows_digest(got[op]) for op in self.OPS
                                  if not isinstance(got[op], Exception)}
            ngram = got["ngram"]
            self.recall = (0.0 if isinstance(ngram, Exception)
                           else checks.planted_recall({tuple(r) for r in ngram},
                                                      self.planted))

    def traced_pass(self, tracer: Tracer, pass_id: str, ops: Ops) -> dict:
        frames: dict[str, DataFrame] = {}
        got: dict = {}
        with tracer.span("near_dups", pass_id):
            for op in self.OPS:
                try:
                    build = self._frames(self.docs, frames.get("ngram"))[op]
                    frames[op] = tracer.force(self.SPAN_OF[op], pass_id, build)
                    # collected as in an untraced pass, from the persisted frame
                    got[op] = frames[op].collect()
                except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                    got[op] = exc
            for df in frames.values():
                df.unpersist()
        # signature builds forced alone, outside the pass and its totals
        for build in (lambda: dedup.minhash_signatures(self.docs),
                      lambda: dedup.simhash_fingerprints(self.docs)):
            tracer.force("dedup.signature", f"{pass_id}-signatures", build).unpersist()
        self.results[pass_id] = got
        self.check(pass_id, ops)
        tracer.collect_metrics()
        self_s = tracer.self_seconds
        dedup_spans = ("dedup.ngram", "dedup.minhash", "dedup.simhash", "dedup.components")
        layer = {
            "dedup.ngram_s": self_s("dedup.ngram"),
            "dedup.minhash_s": self_s("dedup.minhash"),
            "dedup.simhash_s": self_s("dedup.simhash"),
            "dedup.components_s": self_s("dedup.components"),
            "dedup.signature_s": self_s("dedup.signature"),
            "dedup.pairs_out": sum(len(got[op]) for op in ("ngram", "minhash", "simhash")
                                   if not isinstance(got[op], Exception)),
            "dedup.planted_recall": self.recall,
            "dedup.planted_pairs": self.planted_pairs,
            "dedup.natural_pairs": self.natural_pairs,
            "dedup.shuffle_write_mb":
                tracer.totals(dedup_spans, pass_id).shuffle_write_bytes / MB,
            "textstats.quality_s": self_s("textstats.quality"),
            "textstats.repetition_s": self_s("textstats.repetition"),
        }
        root = tracer.named("near_dups")[-1]
        layer["near_dups.glue_s"] = tracer.self_time(root)
        parts = [f"{span}_s" for span in self.SPAN_OF.values()] + ["near_dups.glue_s"]
        return {"layer": layer, "root": root, "parts": parts}


WORKLOADS = {w.name: w for w in (Statements, NearDups)}
