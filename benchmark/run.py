"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 benchmark/run.py --workload statements --seed 1 --seconds 1 --trace 0

A run generates the workload's inputs from the seed, starts one Spark
session on local[<cores>] and opens the inputs (set-up), then runs
passes over the whole input for at least ``--seconds`` seconds, one
client in a closed loop; a pass is never cut.  The first pass is
cold, as each invocation of ``job.py`` is.  Every pass's output is
checked.  ``--trace 1`` adds a traced pass and an untraced one after
the timed passes and reports per-layer metrics instead of end-to-end
ones.

Everything the run writes goes under ``.bench_work/`` in the checkout.
See PROTOCOL.md for the workloads, metrics and sizing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "universal_pdf_extractor_spark"
WORKLOAD_NAMES = ("statements", "near_dups")

END_TO_END = {
    "items_per_s": ("1/s", "input items (turns or documents) per second of a pass"),
    "cpu_ms_per_item": ("ms", "process-tree CPU time per input item"),
    "setup_s": ("s", "engine imports, session start and inputs open (the first Spark job)"),
    "peak_rss_mb": ("MB", "peak resident memory of the process tree in timed passes"),
}

PER_LAYER = {
    "tokenize.self_s": "s", "tokenize.rows_out": "count",
    "segment.self_s": "s", "segment.shuffle_write_mb": "MB",
    "extract.self_s": "s", "extract.records_out": "count",
    "extract.fallback_records": "count", "extract.fallback_share": "ratio",
    "classify.self_s": "s", "score.self_s": "s",
    "manifest.self_s": "s", "manifest.jobs_per_group": "count",
    "manifest.stages_per_group": "count",
    "dedup.ngram_s": "s", "dedup.minhash_s": "s", "dedup.simhash_s": "s",
    "dedup.components_s": "s", "dedup.signature_s": "s",
    "dedup.pairs_out": "count", "dedup.planted_recall": "ratio",
    "dedup.planted_pairs": "count", "dedup.natural_pairs": "count",
    "dedup.shuffle_write_mb": "MB",
    "textstats.quality_s": "s", "textstats.repetition_s": "s",
    "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum length of the timed loop; a pass is never cut")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="2g",
                    help="spark.driver.memory (a deployment setting sized to the host)")
    return ap.parse_args(argv)


def start_session(work_dir: str, app: str, driver_memory: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    conf = {
        # the keys job.py sets
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # deployment settings for one host
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.driver.memory": driver_memory,
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
        "spark.sql.session.timeZone": "UTC",
        # the status store keeps stage metrics without the web UI
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
    }
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process the session
    started has exited."""
    from pyspark import SparkContext

    from benchmark.procstat import tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                _kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        else:
            for p in alive:
                _kill(p, signal.SIGTERM)
        time.sleep(0.2)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2:].startswith("Z")


def _kill(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass


def _print_metric(name: str, value: float, unit: str, samples: int, note: str = "") -> None:
    print(f"{name:<28} {value:>14.6g} {unit:<6} n={samples}{'  ' + note if note else ''}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"benchmark: {PACKAGE}/ not found next to benchmark/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub))
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # every JVM (the spark-submit launcher too) would otherwise write its
    # hsperfdata file under /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:+PerfDisableSharedMem"]).strip()
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from benchmark.procstat import RssSampler, host_cpu_ticks, tree_cpu_seconds

    # set-up starts before pyspark and the engine are imported
    t_import = time.perf_counter()
    from benchmark.tracing import MB, Tracer
    from benchmark.workloads import WORKLOADS, Ops
    import_s = time.perf_counter() - t_import

    wl = WORKLOADS[args.workload](work_dir, args.seed)
    ops = Ops()
    me = os.getpid()
    t_gen = time.perf_counter()
    wl.prepare()
    print(f"# {wl.name}: seed {args.seed}, {wl.items} {wl.item}, {wl.input_note}; "
          f"inputs and oracle ready in {time.perf_counter() - t_gen:.1f} s")

    pass_s: list[float] = []
    cpu_ms: list[float] = []
    peaks: list[int] = []
    layer: dict = {}
    spark = None
    with RssSampler(me) as rss:

        def untraced_pass(pass_id: str) -> tuple[float, float, int]:
            """(wall seconds, CPU ms per item, peak tree RSS) of one pass."""
            sc = spark.sparkContext
            sc.setJobGroup(pass_id, pass_id)
            rss.start_window()
            c0, t = tree_cpu_seconds(me), time.perf_counter()
            wl.execute(pass_id)
            dt, dc = time.perf_counter() - t, tree_cpu_seconds(me) - c0
            peak = rss.window_peak()
            sc.setLocalProperty("spark.jobGroup.id", None)
            wl.check(pass_id, ops)
            return dt, dc * 1e3 / wl.items, peak

        t0 = time.perf_counter()
        try:
            spark = start_session(work_dir, f"benchmark-{wl.name}", args.driver_memory)
            wl.open(spark)  # runs the first Spark job: the parquet schema
            setup_s = import_s + time.perf_counter() - t0

            steal0 = host_cpu_ticks()
            loop_start = time.perf_counter()
            while not pass_s or time.perf_counter() - loop_start < args.seconds:
                dt, cpu, peak = untraced_pass(f"timed-{len(pass_s)}")
                pass_s.append(dt)
                cpu_ms.append(cpu)
                peaks.append(peak)
            steal1 = host_cpu_ticks()
            steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

            if args.trace:
                # the traced pass is compared with the untraced pass
                # after it: both follow the cold timed pass, and the
                # later one is the warmer of the two
                tracer = Tracer(spark)
                traced = wl.traced_pass(tracer, "traced", ops)
                warm_s = untraced_pass("warm-after")[0]
                whole = tracer.totals(pass_id="traced")
                root = tracer.spans[traced["root"]]
                layer = dict(traced["layer"])
                parts = traced["parts"]
                layer.update({
                    "spark.tasks": whole.tasks,
                    "spark.executor_run_s": whole.executor_run_s,
                    "spark.executor_cpu_s": whole.executor_cpu_s,
                    "spark.shuffle_write_mb": whole.shuffle_write_bytes / MB,
                    "spark.spill_mb": whole.spill_bytes / MB,
                    "trace.pass_s": root.duration,
                    "trace.overhead_s": root.duration - warm_s,
                })
                tracer.write(os.path.join(work_dir, "trace.json"))
        except Exception:  # noqa: BLE001 - a run that cannot finish prints no result
            traceback.print_exc()
            if spark is not None:
                stop_session(spark)
            return 1
        stop_session(spark)

    for p in ops.problems:
        print(f"# check failed: {p}", file=sys.stderr)

    items_per_s = [wl.items / s for s in pass_s]
    n = len(pass_s)
    print(f"# workload {wl.name}, seed {args.seed}: {wl.items} {wl.item} per pass, "
          f"{n} timed pass(es), pass_s {[round(s, 3) for s in pass_s]}, "
          f"host CPU steal {100 * steal_share:.1f}% in the timed loop, "
          f"set-up {setup_s:.3f} s (engine imports {import_s:.3f} s)")
    if args.trace:
        print(f"# traced pass {layer['trace.pass_s']:.3f} s, untraced pass after it "
              f"{warm_s:.3f} s: trace.overhead_s {layer['trace.overhead_s']:.3f} s; "
              f"untraced median of the timed passes {statistics.median(pass_s):.3f} s")
        print(f"# layer self times {sum(layer[k] for k in parts):.3f} s of traced pass "
              f"{layer['trace.pass_s']:.3f} s: "
              + ", ".join(f"{k} {layer[k]:.3f}" for k in parts))
        metrics = {}
        for name, unit in PER_LAYER.items():
            value = float(layer.get(name, 0.0))
            metrics[name] = {"value": value, "unit": unit}
            _print_metric(name, value, unit, 1, "" if name in layer else "(layer not in this workload)")
    else:
        values = {
            "items_per_s": statistics.median(items_per_s),
            "cpu_ms_per_item": statistics.median(cpu_ms),
            "setup_s": setup_s,
            "peak_rss_mb": max(peaks) / MB,
        }
        samples = {"items_per_s": n, "cpu_ms_per_item": n, "setup_s": 1, "peak_rss_mb": n}
        metrics = {}
        for name, (unit, note) in END_TO_END.items():
            metrics[name] = {"value": values[name], "unit": unit}
            _print_metric(name, values[name], unit, samples[name], note)
        _print_metric(f"{wl.item}_per_s", values["items_per_s"], "1/s", n,
                      "same as items_per_s")
    _print_metric("failed_share", ops.failed / ops.attempted, "ratio", ops.attempted,
                  f"{ops.failed} of {ops.attempted} operations failed")
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
