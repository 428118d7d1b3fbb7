"""Tests of the benchmark itself, at toy sizes.

    python3 -m pytest perfbench/tests -q

The oracle and percentile tests are pure Python. The run tests drive
``perfbench/run.py`` in this process (one Spark session start, then
restarts that reuse the JVM) and take a few minutes in all.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, oracle, run  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TOY = {
    "csv_import": {"rows_per_file": 200},
    "lake_upsert": {"seed_rows": 2000, "batch_rows": 40},
    "lake_read_mix": {"rows_per_commit": 40, "append_rows": 20},
}


# ------------------------------------------------------------- pure Python

def test_csv_model_stats_and_error_rows():
    m = oracle.CsvImportModel()
    first = m.apply([["1", "a", "5", "1.50", "2024-01-02"], ["2", "b", "6", "2.00", "2024-01-03"]])
    assert first["created"] and first["inserted"] == 2 and first["updated"] == 0
    second = m.apply([
        ["2", "b2", "7", "3.25", "2024-02-01"],   # update
        ["3", "c", "x1", "1.00", "2024-02-01"],   # malformed int
        ["3", "c", "8", "1.00", "2024-02-01"],    # insert
        ["3", "c3", "9", "1.00", "2024-02-02"],   # duplicate key, wins
        ["4", "d", "1", "1.2.3", "2024-13-45"],  # malformed decimal and date
    ])
    assert {k: second[k] for k in ("found", "valid", "invalid", "duplicate", "inserted", "updated")} == {
        "found": 5, "valid": 3, "invalid": 2, "duplicate": 1, "inserted": 1, "updated": 1,
    }
    assert second["invalid_idx"] == [2, 5]
    assert m.rows[3] == (3, "c3", 9, 1.0, oracle.parse_date("2024-02-02"))


def test_lake_model_history_and_changes():
    m = oracle.LakeModel()
    m.commit(upserts=[(1, 1, "a", 1.0), (2, 2, "b", 2.0)])
    m.commit()
    m.commit(upserts=[(2, 3, "b", 2.0), (3, 3, "c", 3.0)], deletes=[1])
    assert m.version == 2
    assert m.lookup(1, version=0) == [(1, 1, "a", 1.0)] and m.lookup(1) == []
    assert sorted(m.changes(0, 2)) == [
        ("delete", (1, 1, "a", 1.0)), ("insert", (3, 3, "c", 3.0)), ("update", (2, 3, "b", 2.0)),
    ]
    assert m.range_rows(2, 3, 1) == [(2, 2, "b", 2.0)]


def test_tail_needs_ten_samples_beyond():
    t = harness.tail(list(range(100)))
    assert (t["percentile"], t["beyond"]) == (90.0, 10)
    t = harness.tail(list(range(39)))
    assert (t["percentile"], t["value"], t["beyond"]) == (100.0, 38, 0)
    t = harness.tail(list(range(40)))
    assert (t["percentile"], t["value"], t["beyond"]) == (75.0, 29, 10)


def test_benchmark_json_matches_the_command():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(run.WORKLOADS)
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.COMPARED)
    for m in BENCHMARK["end_to_end"]:
        assert m["unit"] == run.END_TO_END_UNITS[m["name"]]
    for m in BENCHMARK["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits nonzero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "csv_import", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# --------------------------------------------------------------- toy runs

def _run(monkeypatch, workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cls = run.WORKLOADS[workload]
    monkeypatch.setattr(cls, "SIZES", dict(cls.SIZES, **TOY[workload]))
    out = io.StringIO()
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        with contextlib.redirect_stdout(out):
            rc = run.main([
                "--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace), *extra,
            ])
        with open(os.path.join(run.OUT_DIR, f"{workload}-seed7-trace{trace}.json")) as fh:
            artifact = json.load(fh)
    finally:
        os.chdir(cwd)
    assert rc == 0
    return json.loads(out.getvalue().strip().splitlines()[-1]), artifact


@pytest.mark.parametrize("workload", sorted(TOY))
def test_untraced_run_reports_every_metric_and_passes_the_oracle(monkeypatch, workload):
    result, artifact = _run(monkeypatch, workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: run.END_TO_END_UNITS[k] for k in run.COMPARED
    }
    assert set(artifact["metrics"]) == set(run.END_TO_END_UNITS)
    assert all(v > 0 for v in artifact["metrics"].values())
    assert artifact["failed_op_frac"] == 0.0


@pytest.mark.parametrize("workload", sorted(TOY))
def test_traced_run_reports_every_layer_metric(monkeypatch, workload):
    result, artifact = _run(monkeypatch, workload, 1)
    assert result["correct"] and result["failed"] == 0
    names = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert result["metrics"]["spark.jobs_per_op"]["value"] > 0
    trace = artifact["trace"]
    # the self times of an op's spans add up to the op's wall time, within
    # the tracing overhead measured on the same op sequence
    n = len(trace["op_wall_vs_self_sum"])
    slack = max(abs(trace["traced_pass_s"] - trace["untraced_pass_s"]) / n, 0.05)
    for latency, root_wall, self_sum in trace["op_wall_vs_self_sum"]:
        assert abs(root_wall - self_sum) < 1e-6
        assert abs(latency - self_sum) <= slack


@pytest.mark.parametrize("workload", sorted(TOY))
def test_planted_wrong_expectation_is_a_failure(monkeypatch, workload):
    result, artifact = _run(monkeypatch, workload, 0, "--plant-wrong")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert artifact["problems"]
