"""Small-scale end-to-end runs of every workload through run.main.

Each run starts its own local Spark JVM, so this module takes a few
minutes.  The traced runs also execute the reference check suite, so
every workload's outputs are checked by it here."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench_run(monkeypatch, capsys, workload: str, trace: int) -> dict:
    monkeypatch.setitem(workloads.SIZES, workload, 400)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    code = run.main(["--workload", workload, "--seed", "5", "--seconds", "0",
                     "--trace", str(trace)])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 1
    return result["metrics"]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run(monkeypatch, capsys, workload):
    m = bench_run(monkeypatch, capsys, workload, 1)
    assert list(m) == [x["name"] for x in BENCH["per_layer"]]
    assert m["checks.runner.assertions"]["value"] > 100
    assert m["checks.runner.failed"]["value"] == 0
    matching = sum(v["value"] for k, v in m.items() if k.startswith("matching."))
    if workload == "mart_analytics":
        assert matching == 0
        assert m["plans.analyses.self_s"]["value"] > 0
    else:
        assert m["matching.engine.videos_searched"]["value"] > 0
        assert m["spark.plans.dag.match.jobs"]["value"] > 0
    if workload == "incremental_sync":
        assert m["matching.cache.hit_ratio"]["value"] > 0.5


def test_untraced_run_reports_the_end_to_end_metrics(monkeypatch, capsys):
    m = bench_run(monkeypatch, capsys, "mart_analytics", 0)
    assert list(m) == [x["name"] for x in BENCH["end_to_end"]]
    assert m["match_recall"]["value"] == m["match_precision"]["value"] == 1.0
    assert all(v["value"] > 0 for v in m.values())


def test_no_program_exits_nonzero(monkeypatch, tmp_path):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "mart_analytics", "--seed", "1", "--seconds", "1"]) == 2
