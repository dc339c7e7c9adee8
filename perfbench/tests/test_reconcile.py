"""End-to-end checks of the benchmark itself: short runs of each listed
workload, whose records must reconcile, and the contract of the command."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics, run

ROOT = run.ROOT
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _run(workload: str, seed: int, trace: int = 0, cwd: str = ROOT):
    cmd = BENCHMARK["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "2",
        "--trace", str(trace),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _record(workload: str, seed: int, trace: int = 0) -> dict:
    path = os.path.join(run.STATE, "records", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def test_metric_names_match_the_benchmark_file():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(metrics.END_TO_END)
    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(metrics.PER_LAYER)
    for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
        units = metrics.END_TO_END if "bound" in m else metrics.PER_LAYER
        assert m["unit"] == units[m["name"]]
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result = _result(_run(workload, 101))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(metrics.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_query_mix_parts_sum_to_each_query_wall():
    rec = _record("query_mix", 101)
    assert rec["queries"]
    for q in rec["queries"]:
        parts = q["build_s"] + q["exec_s"] + q["clear_s"]
        assert abs(parts - q["wall_s"]) < 0.01, q


def test_cdc_tail_trigger_time_fits_inside_each_round():
    rec = _record("cdc_tail", 101)
    assert rec["rounds"]
    for rnd in rec["rounds"]:
        assert 0 < rnd["busy_s"] <= rnd["wall_s"], rnd
    assert rec["checks"]["distinct_txn_order"] == rec["checks"]["rows"]


def test_traced_run_reports_every_per_layer_metric():
    result = _result(_run("cdc_tail", 102, trace=1))
    assert set(result["metrics"]) == set(metrics.PER_LAYER)
    layers = {k: v["value"] for k, v in result["metrics"].items()}
    assert layers["streaming.jobs_per_batch"] >= 1
    assert layers["manifest_sink.add_batch_ms"] > 0
    assert 0 < layers["cdc.admitted_ratio"] < 1
    spans = os.path.join(run.STATE, "records", "spans-cdc_tail-seed102-trace1.jsonl")
    with open(spans) as fh:
        names = {json.loads(line)["name"] for line in fh}
    assert {"setup", "round", "cdc.build", "stream.batch", "stream.addBatch"} <= names


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCHMARK["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(BENCHMARK["workloads"][0]["name"], 1, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
