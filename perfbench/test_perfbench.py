"""The benchmark's own tests: smoke runs of every workload at sf0.001,
untraced and traced, plus checks of the tracer and the result contract.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke runs start one Spark JVM each and take several minutes in all.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run as bench  # noqa: E402
from spans import Rebinder, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7
# Counts that must repeat exactly between two runs of the same seed.
EXACT = ("queries.build_jobs", "exec.jobs", "pipeline.jobs", "sinks.skipped_writes", "stream.input_rows")


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=240
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, p.stdout[-3000:]
    return res


@pytest.fixture(scope="module", params=WORKLOADS)
def smoke(request):
    """One untraced and two traced smoke runs of a workload."""
    w = request.param
    untraced = _result(_run(ROOT, "--workload", w, "--seed", str(SEED), "--smoke", "--trace", "0"))
    traced = []
    for _ in range(2):
        traced.append(_result(_run(ROOT, "--workload", w, "--seed", str(SEED), "--smoke", "--trace", "1")))
        spans = json.loads((ROOT / f".perfbench/runs/{w}-seed{SEED}-smoke-spans.json").read_text())
        traced[-1]["spans"] = spans
    return w, untraced, traced


def test_benchmark_json_names_the_printed_metrics():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in doc["workloads"]} <= set(WORKLOADS)


def test_every_metric_printed_with_its_unit(smoke):
    _, untraced, traced = smoke
    assert {n: m["unit"] for n, m in untraced["metrics"].items()} == bench.END_TO_END
    for res in traced:
        assert {n: m["unit"] for n, m in res["metrics"].items()} == bench.PER_LAYER
    assert all(m["value"] > 0 for m in untraced["metrics"].values())


def test_spans_nest_and_self_times_are_not_negative(smoke):
    for res in smoke[2]:
        t = Tracer(enabled=True)
        t.spans = res["spans"]
        assert t.spans
        for name, start, end, parent, _ in t.spans:
            assert start <= end, name
            if parent >= 0:
                _, p_start, p_end, _, _ = t.spans[parent]
                assert p_start <= start and end <= p_end, name
        assert min(t.self_times()) >= 0


def test_counts_repeat_exactly(smoke):
    _, _, (a, b) = smoke
    for name in EXACT:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "hourly", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_a_run_short_of_its_shape_is_incomplete():
    from types import SimpleNamespace

    run = SimpleNamespace(required={"hour": 3, "rerun": 2, "trigger": 3}, samples={"hour": [{}] * 3, "trigger": [{}]})
    assert bench.incomplete(run) == {"rerun": 2, "trigger": 3}
    run.samples.update(rerun=[{}] * 2, trigger=[{}] * 3)
    assert bench.incomplete(run) == {}


def test_self_time_subtracts_covered_children():
    t = Tracer(enabled=True)
    t.spans = [
        ["op", 0.0, 10.0, -1, "a"],
        ["child", 1.0, 4.0, 0, "a"],
        ["child", 3.0, 6.0, 0, "a"],  # overlaps the first child: covered once
        ["grandchild", 1.5, 2.0, 1, "a"],
    ]
    assert t.self_times() == [5.0, 2.5, 3.0, 0.5]
    assert t.by_op()["a"]["child"] == [5.5, 2]


def test_rebinder_restores_every_binding():
    class Owner:
        def method(self):
            return 1

    t = Tracer(enabled=True)
    rb = Rebinder()
    original = vars(Owner)["method"]
    rb.methods(Owner, t, lambda m: f"x.{m}")
    assert Owner().method() == 1 and t.spans[0][0] == "x.method"
    rb.restore()
    assert vars(Owner)["method"] is original
