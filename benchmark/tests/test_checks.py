"""The output checks pass on correct output and catch a single change."""

from __future__ import annotations

import copy
import subprocess
import sys
import time

import pandas as pd
import pytest

from benchmark import checks, inputs, procstat
from benchmark.tracing import Tracer


def _outputs_from_oracle(oracle: dict[str, dict]) -> dict[str, pd.DataFrame]:
    """Output tables shaped as a pass reads them back from parquet."""
    turns, records, convs = [], [], []
    for conv_id, o in oracle.items():
        turns += [{**t, "conv_id": conv_id} for t in o["turns"]]
        for r in o["records"]:
            row = {**r, "conv_id": conv_id}
            for c in ("confidence_direction", "confidence_amount", "confidence_date"):
                row[c] = round(r[c], 4)
            records.append(row)
        convs.append({**o["conversation"], "conv_id": conv_id})
    return {"turns": pd.DataFrame(turns), "records": pd.DataFrame(records),
            "conversations": pd.DataFrame(convs)}


@pytest.fixture(scope="module")
def oracle():
    convs = inputs.statement_conversations(1, 120)
    return checks.oracle_results({t[0]["conv_id"]: t for t in convs})


def test_oracle_check_passes_on_matching_output(oracle):
    assert checks.compare_with_oracle(_outputs_from_oracle(oracle), oracle) == []


def test_oracle_check_catches_one_altered_turn(oracle):
    outputs = _outputs_from_oracle(oracle)
    turns = outputs["turns"]
    i = turns.index[len(turns) // 2]
    turns.at[i, "clean_text"] = turns.at[i, "clean_text"] + " altered"
    problems = checks.compare_with_oracle(outputs, oracle)
    assert len(problems) == 1 and "clean_text" in problems[0]


def test_oracle_check_catches_one_altered_record(oracle):
    outputs = _outputs_from_oracle(oracle)
    records = outputs["records"]
    i = records.index[0]
    records.at[i, "amount"] = records.at[i, "amount"] + 1
    problems = checks.compare_with_oracle(outputs, oracle)
    assert len(problems) == 1 and "amount" in problems[0]


def test_digest_checks():
    first = {"0": {"turns": [10, 123], "records": [5, 77]}}
    assert checks.compare_digests(first, copy.deepcopy(first), "p") == []
    later = copy.deepcopy(first)
    later["0"]["turns"][1] ^= 1
    assert checks.compare_digests(first, later, "p")
    rows = [(1, 2, 0.5), (0, 3, 0.75)]
    assert checks.rows_digest(rows) == checks.rows_digest(rows[::-1])
    assert checks.rows_digest(rows) != checks.rows_digest([(1, 2, 0.5), (0, 3, 0.7)])


def test_pair_check_and_components_reference():
    expected = {(1, 2, 0.8), (2, 3, 0.6), (7, 9, 0.5)}
    assert checks.compare_pairs(list(expected), expected, "ngram") == []
    assert checks.compare_pairs([(1, 2, 0.8), (2, 3, 0.6)], expected, "ngram")
    assert checks.compare_pairs(list(expected) + [(1, 2, 0.8)], expected, "ngram")
    comps = checks.components_reference(expected)
    assert comps == {(1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False),
                     (7, 7, 2, True), (9, 7, 2, False)}
    assert checks.planted_recall(expected, [(2, 1), (3, 9)]) == 0.5
    # (2, 3) joins two copies of source 1; (7, 9) joins no planted family
    assert checks.planted_and_natural(expected, [(1, 2), (1, 3)]) == (2, 1)


def test_tree_cpu_counts_a_reaped_child():
    before = procstat.tree_cpu_seconds(procstat.os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.3: pass"], check=True)
    assert procstat.tree_cpu_seconds(procstat.os.getpid()) - before >= 0.25


def test_tree_pids_sees_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procstat.tree_pids(procstat.os.getpid())
        assert procstat.tree_rss_bytes(procstat.os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)


class _FakeContext:
    def setJobGroup(self, group, description):  # noqa: N802 - Spark's name
        self.group = group

    def setLocalProperty(self, key, value):  # noqa: N802 - Spark's name
        self.group = value


class _FakeSpark:
    sparkContext = _FakeContext()


def test_span_self_time_excludes_children():
    tracer = Tracer(_FakeSpark())
    with tracer.span("manifest", "p"):
        time.sleep(0.05)
        with tracer.span("tokenize", "p"):
            assert _FakeSpark.sparkContext.group == "p/1/tokenize"
            time.sleep(0.1)
        assert _FakeSpark.sparkContext.group == "p/0/manifest"
    assert _FakeSpark.sparkContext.group is None
    root = tracer.named("manifest")[0]
    child = tracer.named("tokenize")[0]
    assert tracer.spans[child].parent == root
    assert tracer.self_time(root) == pytest.approx(
        tracer.spans[root].duration - tracer.spans[child].duration)
    assert 0.04 <= tracer.self_time(root) < tracer.spans[child].duration


def test_benchmark_json_declares_what_run_prints():
    import json
    import os

    from benchmark import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        name: unit for name, (unit, _) in run.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
