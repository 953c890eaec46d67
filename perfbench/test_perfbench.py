"""Smoke tests of the benchmark at a tiny configuration.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test runs a workload in-process through ``run.measure`` (its own
Spark session, started and stopped per call): two scenarios with no
warm-up, or two catalog queries on tables a tenth of the benchmark's
size.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = {
    "scenario_suite": {"warmup_ops": 0, "min_ops": 2},
    "catalog_headline": {"queries": ("q3_shipping_priority", "text_stats"),
                         "scale": 0.1, "warmup_passes": 0},
}


def _measure(workload: str, trace: bool, **extra):
    return bench.measure(workload, seed=7, seconds=0, trace=trace,
                         **TINY[workload], **extra)


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_present_with_its_unit(workload, trace):
    result, detail, _ = _measure(workload, trace)
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 2
    assert {m["name"]: m["unit"] for m in listed} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], float), name
    par = detail["parallelism"]
    assert par["master"] == f"local[{par['nproc']}]"
    assert par["defaultParallelism"] == par["shuffle_partitions"] == par["nproc"]
    assert set(detail["load_1m"]) == {"start", "end"}


def test_wrong_expected_error_count_fails_every_scenario(monkeypatch):
    real = workloads.failing_rows_sql
    monkeypatch.setattr(
        workloads, "failing_rows_sql",
        lambda path: real(path).replace("count(*)", "count(*) + 1", 1))
    result, detail, _ = _measure("scenario_suite", trace=False)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] == 2
    assert all("rule-mirror count" in f for f in detail["failures"])


def test_wrong_oracle_fails_that_querys_runs():
    wrong = {"text_stats": "SELECT doc_id FROM documents WHERE doc_id < 0"}
    result, detail, run = _measure("catalog_headline", trace=False,
                                   oracles=wrong)
    assert not result["correct"]
    assert result["failed"] == run.op_names.count("text_stats") >= 1
    assert any(f.startswith("text_stats:") for f in detail["failures"])


def test_timed_catalog_runs_end_in_a_noop_write():
    """The status store shows each timed query run's last SQL execution
    as a V2 write command (the noop sink), never a bare count."""
    _, _, run = _measure("catalog_headline", trace=True)
    assert run.write_roots and len(run.write_roots) == run.attempted
    for op, roots in run.write_roots.items():
        assert roots and roots[-1] == "OverwriteByExpression", (op, roots)
