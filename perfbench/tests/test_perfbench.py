"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q          # fast tests only
    PERFBENCH_SLOW=1 python3 -m pytest perfbench/tests -q

The slow tests run the benchmark itself (about a minute per run).
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import datagen  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

slow = pytest.mark.skipif(
    not os.environ.get("PERFBENCH_SLOW"), reason="set PERFBENCH_SLOW=1 to run"
)


def _sequence(name: str, seed: int, passes: int = 3) -> list[list[str]]:
    wl = WORKLOADS[name](seed, "", "", spans.Tracer())
    return [wl.pass_ops(p) for p in range(-1, passes)]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_sequence(name):
    assert _sequence(name, 7) == _sequence(name, 7)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_other_seed_other_order_same_op_counts(name):
    a, b = _sequence(name, 7), _sequence(name, 8)
    assert a != b
    for pa_, pb in zip(a, b):
        assert collections.Counter(pa_) == collections.Counter(pb)


def test_inputs_are_a_function_of_the_seed():
    one = datagen.tpch_tables(5, 0.001)
    assert all(one[k].equals(v) for k, v in datagen.tpch_tables(5, 0.001).items())
    assert not one["lineitem"].equals(datagen.tpch_tables(6, 0.001)["lineitem"])
    docs = datagen.corpus_tables(5, 0.01)["documents"]
    assert docs.equals(datagen.corpus_tables(5, 0.01)["documents"])


def _ev(**kw) -> str:
    return json.dumps(kw)


SYNTHETIC_LOG = [
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_100,
           "Stage IDs": [0, 1]}),
    *[
        _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": run * 500_000,
            "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40,
                                     "Fetch Wait Time": 0},
            "Input Metrics": {"Bytes Read": 1000},
            "Output Metrics": {"Bytes Written": 0},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7}})
        for sid, run in ((0, 10), (0, 10), (0, 40), (1, 20))
    ],
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_600,
           "Job Result": {"Result": "JobSucceeded"}}),
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 12_000,
           "Stage IDs": [2]}),
    _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor Run Time": 5, "Executor CPU Time": 5_000_000}}),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_200,
           "Job Result": {"Result": "JobFailed"}}),
]


def _synthetic_spans() -> list[spans.Span]:
    op = spans.Span("a", "op", 0, 10.0, 0.0, 0, t1=11.0)
    ex = spans.Span("a.exec", "exec", 0, 10.05, 0.0, 0, t1=10.9, parent=0)
    other = spans.Span("b", "op", 0, 11.9, 0.0, 0, t1=12.5)
    return [op, ex, other]


def test_event_log_fold_sums():
    jobs, stages = spans.parse_event_log(SYNTHETIC_LOG)
    sp = _synthetic_spans()
    assert spans.attribute_jobs(jobs, sp) == {0: 1, 1: 2}
    a = spans.fold(jobs, stages, sp, [0])
    assert (a["jobs"], a["jobs_cancelled"], a["stages"], a["tasks"]) == (1, 0, 2, 4)
    assert a["executor_run_s"] == pytest.approx(0.080)
    assert a["executor_cpu_s"] == pytest.approx(0.040)
    assert a["gc_s"] == pytest.approx(0.004)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"]) == (400, 160)
    assert (a["input_bytes"], a["spill_bytes"]) == (4000, 28)
    assert a["job_s"] == pytest.approx(0.5)
    assert a["task_skew"] == pytest.approx(4.0)  # stage 0: max 40 / median 10
    b = spans.fold(jobs, stages, sp, [2])
    assert (b["jobs"], b["jobs_cancelled"], b["tasks"]) == (0, 1, 1)
    assert b["executor_run_s"] == pytest.approx(0.005)
    assert spans.self_s(sp, 0) == pytest.approx(1.0 - 0.85)


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == report.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


DETERMINISTIC = ["frame.py4j_calls", "storage.files_written"]


@slow
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_counters(name):
    a, b = _run(name, 3, 1), _run(name, 3, 1)
    assert a["correct"] and b["correct"]
    for key in DETERMINISTIC:
        assert a["metrics"][key]["value"] == b["metrics"][key]["value"], key
    # AQE launches one extra small job in some analytic runs
    assert abs(a["metrics"]["spark.jobs"]["value"] - b["metrics"]["spark.jobs"]["value"]) <= 1
    # log records carry wall-clock times, so their byte counts move in
    # the last digits
    assert a["metrics"]["storage.write_amp"]["value"] == pytest.approx(
        b["metrics"]["storage.write_amp"]["value"], rel=1e-4
    )


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(BENCH):
        if f.endswith(".py"):
            with open(os.path.join(BENCH, f), "rb") as src:
                (tmp_path / "perfbench" / f).write_bytes(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytic", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""


def test_compare_takes_one_rounding_step_but_not_two():
    import pandas as pd

    import checks

    want = pd.DataFrame({"g": ["a", "b"], "avg": [0.049688, 38000.000001]})
    tie = pd.DataFrame({"g": ["a", "b"], "avg": [0.049687, 38000.000002]})
    off = pd.DataFrame({"g": ["a", "b"], "avg": [0.049686, 38000.000001]})
    assert checks.compare(tie, want) is None
    assert checks.compare(off, want) == "values differ in avg (max dev 2e-06)"
