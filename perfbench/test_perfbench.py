"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q

The end-to-end tests start Spark and take a few minutes.
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
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from spans import self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(d):
        for name in files:
            path = os.path.join(base, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, d)] = f.read()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = inputs.input_dir(str(tmp_path / "a"), workload, 5)
    b = inputs.input_dir(str(tmp_path / "b"), workload, 5)
    files_a, files_b = _tree_bytes(a), _tree_bytes(b)
    assert files_a and files_a == files_b
    c = inputs.input_dir(str(tmp_path / "c"), workload, 6)
    assert _tree_bytes(c) != files_a


def test_mixed_input_files_carry_like_text_volume(tmp_path):
    import pyarrow.parquet as pq

    d = inputs.input_dir(str(tmp_path), "extract_mixed", 5)
    data = os.path.join(d, "data")
    chars = [sum(len(t or "") for t in pq.read_table(
        os.path.join(data, f), columns=["text"])["text"].to_pylist())
        for f in sorted(os.listdir(data))]
    assert len(chars) == inputs.MIXED_FILES
    assert max(chars) / min(chars) < 1.02


def test_input_cache_reuses_finished_and_replaces_partial(tmp_path):
    d = inputs.input_dir(str(tmp_path), "extract_mixed", 5)
    mark = os.path.join(d, "data", "part-00000.parquet")
    before = os.path.getmtime(mark)
    assert inputs.input_dir(str(tmp_path), "extract_mixed", 5) == d
    assert os.path.getmtime(mark) == before
    os.remove(os.path.join(d, "_DONE"))  # as a killed run leaves it
    inputs.input_dir(str(tmp_path), "extract_mixed", 5)
    assert os.path.exists(os.path.join(d, "_DONE"))


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 2, "start": 3.5, "end": 4.5},
    ]
    got = self_times(spans)
    assert got == pytest.approx({"pass": 5.0, "a": 3.0, "b": 2.0, "c": 1.0})


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_are_the_ones_in_benchmark_json(trace, key):
    p = _run(["--workload", "extract_mixed", "--seed", "3", "--seconds", "1",
              "--trace", str(trace)], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    units = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "extract_mixed", "--seed", "1", "--seconds", "1",
              "--trace", "0"], str(tmp_path))
    assert p.returncode != 0
    assert p.stdout == ""
