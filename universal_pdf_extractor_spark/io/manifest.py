"""Per-partition lineage manifests + exact resume.

The job splits the conversation key space into ``n_groups`` hash
buckets (pmod(xxhash64(conv_id), n)) and processes one bucket group
at a time: filter -> pipeline -> write outputs under
``<out>/<table>/bucket_group=<g>/`` -> commit a manifest JSON with
input/output row counts, an order-insensitive XOR checksum per output
table (``table_digest``: the XOR over rows of Spark's ``xxhash64`` of
every column's typed value, 0 for an empty table) and per-engine row
counts.  Every figure is a metric observed
(``DataFrame.observe``) on the write jobs, so no output is computed
twice and nothing is read back.  A re-run skips every group whose
manifest is already committed — exact resume, mirroring the reference's
delete-before-rewrite idempotency + per-document status machine
(orchestrator.py:184-205, models/enums.py:15-25) at dataset scale.

The manifest is committed AFTER the data writes succeed (write to a
temp name, atomic rename), so a crash mid-group leaves no manifest
and the group is redone idempotently (mode=overwrite per group dir).

Run identity (extraction_runs analogue, tables.py:184-246): every
invocation carries a run_id + pipeline_version + engine versions;
group manifests record which run committed them, output rows carry a
run_id column, and ``runs.jsonl`` is the append-only run registry —
``latest_run`` reconstructs the reference's is_latest flag (J4).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.segment_extract import FALLBACK_SOURCES
from ..stages.tokenize import EXTRACTION_PATHS

MANIFEST_DIR = "_manifests"
RUNS_LOG = "runs.jsonl"
PIPELINE_VERSION = "0.3.0"


def engine_versions() -> dict:
    import pyspark
    return {"engine": PIPELINE_VERSION, "pyspark": pyspark.__version__}


def bucket_of(conv_id_col, n_groups: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_groups))


def table_digest(df: DataFrame) -> Column:
    """Order-insensitive 64-bit checksum aggregate over all of ``df``'s
    columns: ``bit_xor`` of each row's ``xxhash64`` of the typed values
    (dates, decimals and nested arrays hash natively, no string casts),
    0 for an empty table."""
    return F.coalesce(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])),
                      F.lit(0))


def _engine_events() -> dict:
    """{table: (event, {engine: row predicate})}, observed on the table's
    write: the cost/usage events analogue (cost_tracker.py, cost_events
    DDL tables.py:576-603).  Fallback records keep their tier's
    direction_source; main-path records roll up as column_path."""
    fb = F.col("fallback_used")
    return {"turns": ("turns_by_path", {
                p: F.col("extraction_path") == p for p in EXTRACTION_PATHS}),
            "records": ("records_by_parser", {"column_path": ~fb, **{
                t: fb & (F.col("direction_source") == t) for t in FALLBACK_SOURCES}})}


def manifest_path(out_dir: str, group: int) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, f"group_{group:05d}.json")


def committed_groups(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for name in os.listdir(mdir):
        if name.startswith("group_") and name.endswith(".json"):
            out.add(int(name[len("group_"):-len(".json")]))
    return out


def commit_manifest(out_dir: str, group: int, payload: dict) -> None:
    path = manifest_path(out_dir, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, path)  # atomic commit


def record_run(out_dir: str, entry: dict) -> None:
    """Append one run to the registry (extraction_runs analogue)."""
    path = os.path.join(out_dir, MANIFEST_DIR, RUNS_LOG)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(entry, sort_keys=True) + "\n")


def run_history(out_dir: str) -> list[dict]:
    path = os.path.join(out_dir, MANIFEST_DIR, RUNS_LOG)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def latest_run(out_dir: str) -> Optional[dict]:
    """The newest registry entry that actually WROTE data — outputs
    whose run_id column equals latest_run()['run_id'] are the
    is_latest rows (tables.py:184-246).  No-op resumes (all groups
    already committed) are recorded in the registry but skipped here:
    their run_id appears on no output row, so treating them as latest
    would make the is_latest set empty."""
    hist = run_history(out_dir)
    for entry in reversed(hist):
        if entry.get("groups_processed"):
            return entry
    # registry holds only no-op runs (e.g. runs.jsonl created after the
    # data was committed): no run_id matches any output row, so there
    # is no latest run — callers must handle None rather than receive
    # an entry that selects an empty is_latest set
    return None


def run_with_resume(transcripts: DataFrame,
                    out_dir: str,
                    n_groups: int = 8,
                    run_pipeline_fn=None,
                    tables: Optional[list[str]] = None,
                    run_id: Optional[str] = None) -> dict:
    """Process bucket groups not yet committed; return a run summary.

    Each group is an independent, idempotent unit of work: outputs are
    overwritten per group directory and the manifest is the commit
    marker.  n_groups controls both resume granularity and how much of
    the corpus a single failure costs.

    Output rows carry a ``run_id`` column; group manifests and the
    runs.jsonl registry record which run committed what, so
    reprocessing history is reconstructable from the tables alone.
    """
    if run_pipeline_fn is None:
        from ..stages.pipeline import run_pipeline as run_pipeline_fn
    # detected_tables rides along by default: the combined extraction
    # pass already computes the diagnostics rows, so persisting them
    # costs only the write (reference parity: detected_tables is a
    # persisted table, tables.py:252-292)
    tables = tables or ["turns", "records", "segments", "conversations",
                        "detected_tables"]
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"

    done = committed_groups(out_dir)
    summary = {"n_groups": n_groups, "skipped": sorted(done),
               "processed": [], "run_id": run_id}

    bucketed = transcripts.withColumn("_grp", bucket_of(F.col("conv_id"), n_groups))

    for g in range(n_groups):
        if g in done:
            continue
        t0 = time.perf_counter()
        part = bucketed.where(F.col("_grp") == g).drop("_grp")
        # every manifest figure is observed on a job that already runs:
        # input_rows while the pipeline's first persisted frame is
        # built, the rest on each table's write job
        input_obs = Observation()
        outputs = run_pipeline_fn(
            part.observe(input_obs, F.count(F.lit(1)).alias("rows")), persist=True)
        cached = [outputs.pop(k) for k in list(outputs) if k.startswith("_")]
        events = _engine_events()
        observed = {}
        try:
            for name in tables:
                df = outputs[name].withColumn("run_id", F.lit(run_id))
                engines = events.get(name, ("", {}))[1]
                observed[name] = Observation()
                df.observe(observed[name], F.count(F.lit(1)).alias("rows"),
                           table_digest(df).alias("xor64"),
                           *[F.count_if(c).alias(k) for k, c in engines.items()]) \
                  .write.mode("overwrite").parquet(
                      os.path.join(out_dir, name, f"bucket_group={g}"))
        finally:
            for c in cached:
                c.unpersist()
        # read only once every write of the group returned.  An empty
        # group's input observation completes with an empty row (adaptive
        # execution drops the empty stage that held it), which
        # Observation.get cannot convert
        metrics = {name: obs.get for name, obs in observed.items()}
        input_rows = input_obs.get["rows"] if input_obs._jo.getRow().length() else 0
        meta: dict = {"group": g, "input_rows": input_rows,
                      "outputs": {name: {"rows": m["rows"], "xor64": m["xor64"]}
                                  for name, m in metrics.items()},
                      "run_id": run_id, "pipeline_version": PIPELINE_VERSION}
        for name, (event, engines) in events.items():
            if name in metrics:
                m = metrics[name]
                counts = {k: m[k] for k in engines if m[k]}
                if sum(counts.values()) != m["rows"]:
                    raise ValueError(f"group {g}: {m['rows'] - sum(counts.values())} "
                                     f"{name} rows outside the engines {list(engines)}")
                meta.setdefault("engine_events", {})[event] = counts
        meta["duration_sec"] = round(time.perf_counter() - t0, 3)
        commit_manifest(out_dir, g, meta)
        summary["processed"].append(g)

    record_run(out_dir, {
        "run_id": run_id,
        "pipeline_version": PIPELINE_VERSION,
        "engine_versions": engine_versions(),
        "n_groups": n_groups,
        "groups_processed": summary["processed"],
        "groups_skipped": summary["skipped"],
        "ts": time.time(),
    })
    return summary
