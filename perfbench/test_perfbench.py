"""The benchmark's own tests: tiny-size smoke runs of each workload, a
consistency check of the traced spans, failure accounting, the recorded
query results against their DuckDB oracles, and the refusal to run outside
a checkout of the repository.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
_runs: dict[tuple[str, int], tuple[dict, dict]] = {}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """(record line, result line) of one tiny run, shared between tests."""
    if (workload, trace) not in _runs:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        _runs[workload, trace] = json.loads(lines[-2]), json.loads(lines[-1])
    return _runs[workload, trace]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_named_metric_is_printed_with_its_unit(workload, trace):
    _, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    named = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_trace_spans_are_consistent(workload):
    record, result = _run(workload, 1)
    assert record["spans"]
    for name, span in record["spans"].items():
        # a job charged to a span ran inside it
        assert span["jobs_s"] <= span["wall_s"] + 0.05, name
        assert span["driver_floor_s"] >= 0, name
        assert 0 <= span["core_busy"] <= 1.05, name
    metrics = result["metrics"]
    assert metrics["trace.run_s"]["value"] == pytest.approx(record["pass_s"][0])
    assert 0 < metrics["trace.overhead_s"]["value"] < metrics["trace.run_s"]["value"]


def test_a_failed_call_is_counted_and_never_lowers_a_time():
    sys.path.insert(0, HERE)
    import run

    def broken():
        raise ValueError("broken call")

    passes, failures, _ = run.measure([("ok", lambda: None), ("broken", broken)], 0)
    assert failures == [["broken"]]
    assert passes[0]["broken"] == run.FAILED_CALL_S


def test_recorded_query_results_match_their_oracles():
    pytest.importorskip("duckdb")
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from recommender_system_with_pyspark_spark import registry
    from recommender_system_with_pyspark_spark.testing import duckdb_result_hash

    registry.load_all_queries()
    assert set(workloads.EXPECTED) == set(workloads.QUERIES)
    for name in workloads.QUERIES:
        got = duckdb_result_hash(registry.ORACLES[name], workloads.TESTDATA)
        assert got == workloads.EXPECTED[name], name


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
