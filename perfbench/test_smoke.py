"""Smoke tests for the benchmark at its smallest size (``--tiny``: 1000
events per tick, a 100-document corpus, no warm-up, one unit).

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

They show that every workload runs to its end and prints the metrics
BENCHMARK.json names, and that the correctness checks fail when an expected
count or a result is tampered with. Each test starts its own Spark session.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_runs_to_its_end_traced(workload):
    result = _run(workload, trace=1)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert result["metrics"]["spark.jobs"]["value"] > 0
    assert (ROOT / ".perfbench" / f"trace-{workload}-3.json").is_file()


def test_untraced_run_prints_end_to_end_metrics():
    result = _run("pipeline_tick", trace=0)
    assert result["correct"] is True
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_tampered_expectations_fail_the_checks(tmp_path):
    sys.path.insert(0, str(ROOT))
    from perfbench import run
    from perfbench.queries import QuerySuite
    from perfbench.tick import PipelineTick
    from perfbench.trace import NullTracer

    run.pin_session_env(tmp_path / "work")
    from autonomous_orchestrator_ai_spark.session import get_spark

    spark = get_spark("perfbench-smoke")
    try:
        tick = PipelineTick(spark, tmp_path / "tick", 5, 500, 1, NullTracer())
        tick.generate()
        tick.land(0)
        assert tick.unit(0) == 0
        assert tick.check() == []
        batch = tick.work / "in" / "batch_0000.jsonl"
        lines = batch.read_text().splitlines(keepends=True)
        batch.write_text("".join(lines + lines[:1]))  # one event more expected
        assert any("total_records" in p for p in tick.check())

        suite = QuerySuite(("token_pmi_pairs",), spark, tmp_path / "q", 5, 100,
                           NullTracer())
        suite.generate()
        assert suite.unit(0) == 0
        assert suite.check() == []
        cols, rows = suite.outputs[(0, "token_pmi_pairs")]
        suite.outputs[(0, "token_pmi_pairs")] = (cols, rows[1:])
        assert suite.check() != []
    finally:
        run.stop_session(spark)
