"""The benchmark's own test: each workload at a tiny size, in process.

    python3 -m pytest perfbench/test_perfbench.py -q

Pins the output schema (every metric name and unit of BENCHMARK.json) and
checks that operation counts follow from the arguments alone, not from how
fast the host runs. Takes a few minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

import run
import workloads

BENCHMARK = json.load(open(os.path.join(run.REPO, "BENCHMARK.json")))
# tiny inputs and counts; the code paths are the full ones
TINY = {
    "ROWS_PER_FILE": 200,
    "STREAM_WARMUP_TRIGGERS": 2,
    "LANDED_FILES": 8,
    "LANDED_FILES_PER_TRIGGER": 4,
    "REFRESH_WARMUP": 2,
    "CATALOG_SCALE": 0.002,
    "MIX_WARMUP_ROUNDS": 1,
}


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    for name, value in TINY.items():
        monkeypatch.setattr(workloads, name, value)
    monkeypatch.setattr(run, "SETUP_REPEATS", 2)
    monkeypatch.setattr(run, "SINGLE_THREAD_FILES", 8)
    # run.isolate points these into the run's directory; restore them after
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_WAREHOUSE_DIR"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.chdir(tmp_path)
    return tmp_path


def _run(capsys, workload: str, trace: int) -> tuple[int, dict, dict]:
    code = run.main(
        ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    )
    lines = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(lines[-2])["context"], json.loads(lines[-1])


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCHMARK[kind]}


def test_op_counts_follow_arguments_only(monkeypatch):
    first = {w: workloads.op_counts(w, 20) for w in run.WORKLOAD_NAMES}
    # a host ten times slower: nothing the counts read may change
    real = run.time.perf_counter
    monkeypatch.setattr(run.time, "perf_counter", lambda: real() * 10)
    assert {w: workloads.op_counts(w, 20) for w in run.WORKLOAD_NAMES} == first
    assert first["catalog_joins"].steady % len(workloads.MIX) == 0


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_end_to_end_schema_and_counts(tiny, capsys, workload):
    code, ctx, result = _run(capsys, workload, 0)
    assert code == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    counts = workloads.op_counts(workload, 1)
    assert (ctx["warmup_ops"], ctx["steady_ops"]) == (counts.warmup, counts.steady)
    assert result["attempted"] == counts.total
    if workload == "query_landed":
        # the tail is drawn from the five queries of every steady refresh
        assert ctx["latency_tail_samples"] == 5 * counts.steady
    assert not os.path.exists(tiny / ".bench_tmp")


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_traced_run_reports_every_layer(tiny, capsys, workload):
    code, _, result = _run(capsys, workload, 1)
    assert code == 0 and result["correct"] is True
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _units("per_layer")
    spans = (tiny / ".bench_trace" / f"{workload}-7.jsonl").read_text().splitlines()
    assert {"name", "start", "end", "parent", "op"} <= set(json.loads(spans[0]))
