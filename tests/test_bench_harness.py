"""bench.py's harness contract, without Spark: the usage text names
exactly the env vars the source reads, the pin file covers the headline,
ratios are emitted only at the pin's conditions, and the N→4N cohort is
sized from the CPU count."""

from __future__ import annotations

import importlib
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_PY = os.path.join(REPO, "bench.py")


@pytest.fixture(scope="module")
def bench():
    before = os.environ.get("SPARKOCR_EXTRACT_MEMO")
    sys.path.insert(0, REPO)
    try:
        mod = importlib.import_module("bench")
    finally:
        sys.path.remove(REPO)
        after = os.environ.pop("SPARKOCR_EXTRACT_MEMO", None)
        if before is not None:
            os.environ["SPARKOCR_EXTRACT_MEMO"] = before
    # importing must not change the pytest process's environment
    assert after == before
    return mod


def test_help_names_exactly_the_env_vars_read():
    p = subprocess.run([sys.executable, BENCH_PY, "--help"],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0
    assert p.stdout == ""
    named = set(re.findall(r"\b[A-Z][A-Z0-9]*(?:_[A-Z0-9]+)+\b", p.stderr))
    with open(BENCH_PY) as f:
        read = set(re.findall(r"os\.environ\.get\(\s*\"([A-Z0-9_]+)\"",
                              f.read()))
    assert named == read == {"SPARK_GRAFT_SF_DIR"}


def test_pin_covers_the_headline(bench):
    with open(bench.PIN_PATH) as f:
        pin = json.load(f)
    assert set(pin) == {"sf_dir", "cpus", "queries"}
    assert set(pin["queries"]) == set(bench.HEADLINE)
    assert all(v > 0 for v in pin["queries"].values())


def test_ratios_only_at_the_pins_conditions(bench, tmp_path):
    pin = {"sf_dir": str(tmp_path), "cpus": 4,
           "queries": {"a": 2.0, "b": 0.5}}
    timings = {"a": 3.0, "b": 0.5, "c": 1.0}
    assert bench.ratios_to_pin(timings, str(tmp_path), 4, pin) == {
        "a": 1.5, "b": 1.0}
    # same directory spelled differently still matches
    assert bench.ratios_to_pin(timings, str(tmp_path) + "/", 4, pin)
    assert bench.ratios_to_pin(timings, str(tmp_path), 32, pin) == {}
    assert bench.ratios_to_pin(timings, str(tmp_path / "x"), 4, pin) == {}


@pytest.mark.parametrize("cpus,size", [
    (1, None), (2, None), (3, None), (4, (1, 4)), (6, (1, 4)),
    (8, (2, 8)), (32, (2, 8)),
])
def test_cohort_size(bench, cpus, size):
    assert bench.cohort_size(cpus) == size
