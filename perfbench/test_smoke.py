"""Smoke test of the benchmark at its tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json is printed with its unit,
that no operation fails, that a seed always produces the same inputs, and
that a traced run leaves spans for every layer.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

WORKLOADS = ("prep_temporal", "llm_data")
LAYERS = {"session", "preprocessor", "functions", "query", "caching", "spark", "udf"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, seed: int = 7) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    record_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(record_line)["record"], json.loads(result_line)


def _check_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_same_seed_same_inputs(tmp_path):
    for wl in WORKLOADS:
        a = inputs.generate(wl, 3, "tiny", str(tmp_path / f"{wl}-a"))
        b = inputs.generate(wl, 3, "tiny", str(tmp_path / f"{wl}-b"))
        c = inputs.generate(wl, 4, "tiny", str(tmp_path / f"{wl}-c"))
        assert a == b, wl
        assert a["input_sha256"] != c["input_sha256"], wl
    # another seed moves the null pattern, not the null share
    x3 = pq.read_table(str(tmp_path / "prep_temporal-a" / "prep.parquet"))["x0"]
    x4 = pq.read_table(str(tmp_path / "prep_temporal-c" / "prep.parquet"))["x0"]
    assert x3.null_count == x4.null_count
    assert x3.is_null().to_pylist() != x4.is_null().to_pylist()


def test_untraced_run_prints_end_to_end_metrics():
    record, result = _run("prep_temporal", trace=0)
    _check_metrics(result, _spec()["end_to_end"])
    assert result["metrics"]["ok_ratio"]["value"] == 1.0
    assert all(c["ok"] for c in record["checks"])
    env = record["env"]
    assert env["default_parallelism"] == env["cpus_requested"] == env["nproc"]
    again, _ = _run("prep_temporal", trace=0)
    assert again["inputs"]["input_sha256"] == record["inputs"]["input_sha256"]


def test_traced_runs_cover_every_layer():
    layers: set[str] = set()
    for wl in WORKLOADS:
        record, result = _run(wl, trace=1)
        _check_metrics(result, _spec()["per_layer"])
        assert result["metrics"]["spark.jobs"]["value"] > 0, wl
        span_file = max(
            glob.glob(os.path.join(ROOT, ".perfbench-work", "spans", f"{wl}-seed7-trace1-*.json")),
            key=os.path.getmtime,
        )
        with open(span_file) as f:
            layers |= {s["layer"] for s in json.load(f)["spans"]}
    assert LAYERS <= layers, LAYERS - layers

