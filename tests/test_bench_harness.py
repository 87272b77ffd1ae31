"""The scaling harnesses' contract, without Spark: bench.py's usage text
names exactly the env vars the source reads, the pin file covers the
headline, ratios are emitted only at the pin's conditions, the N→4N
cohort is sized from the CPU count, and bench.py, the standalone-cluster
study and the corpus-ops probe size and pin by one rule, on CPUs of the
affinity mask."""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_PY = os.path.join(REPO, "bench.py")
SCRIPTS = ("scripts.bench_cluster_scaling", "scripts.bench_corpus_ops")


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


@pytest.fixture(scope="module")
def harnesses(bench):
    """Import the cluster study and the corpus-ops probe; importing must
    start no process and change no env var."""
    def no_process(*args, **kwargs):
        raise AssertionError(f"import started a process: {args}")

    env = dict(os.environ)
    sys.path.insert(0, REPO)
    mp = pytest.MonkeyPatch()
    mp.setattr(subprocess, "Popen", no_process)
    try:
        for name in SCRIPTS:
            sys.modules.pop(name, None)
        mods = [importlib.import_module(name) for name in SCRIPTS]
    finally:
        mp.undo()
        sys.path.remove(REPO)
    assert dict(os.environ) == env
    return mods


def test_scaling_scripts_import_without_side_effects(harnesses):
    assert [m.__name__ for m in harnesses] == list(SCRIPTS)


def test_only_bench_reads_the_mask_and_the_sf_dir():
    for path in glob.glob(os.path.join(REPO, "scripts", "*.py")):
        with open(path) as f:
            src = f.read()
        for word in ("sched_getaffinity", "sched_setaffinity", "taskset",
                     "SPARK_GRAFT_SF_DIR", "N_WORKERS"):
            assert word not in src, (path, word)
    with open(BENCH_PY) as f:
        assert f.read().count("os.sched_getaffinity(") == 1


# (mask, (N, 4N, cluster partitions), corpus-ops (partitions, packer
# shards)); at 32 CPUs every derived value is the literal it replaced
@pytest.mark.parametrize("mask,cluster,layout", [
    ({4, 5, 6, 7}, (1, 4, 16), (16, 8)),
    (set(range(32)), (2, 8, 32), (32, 16)),
])
def test_one_sizing_and_pinning_rule(bench, harnesses, monkeypatch,
                                     tmp_path, capsys, mask, cluster,
                                     layout):
    cluster_mod, corpus_mod = harnesses
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(mask))
    assert cluster_mod.cluster_size() == cluster
    n, n4, _ = cluster

    # bench.py shard i pins to pin(i): one CPU each, disjoint, in the mask
    shards = [bench.pin(i).args[1] for i in range(n4)]
    assert all(len(s) == 1 and s <= mask for s in shards)
    assert len(set().union(*shards)) == n4

    # the cluster's worker JVMs, launched with no process started
    launched = []

    def fake_spawn(cmd, log, env, preexec_fn=None):
        launched.append((cmd, preexec_fn))
        with open(log, "w") as f:
            f.write("Successfully registered with master")
        return SimpleNamespace(poll=lambda: None)

    monkeypatch.setattr(cluster_mod, "CLUSTER_DIR", str(tmp_path))
    monkeypatch.setattr(cluster_mod, "_port_open", lambda port: True)
    monkeypatch.setattr(cluster_mod, "_spawn", fake_spawn)
    assert len(cluster_mod.start_cluster()) == 1 + n4
    workers = [fn.args[1] for cmd, fn in launched
               if "org.apache.spark.deploy.worker.Worker" in cmd]
    assert workers == shards

    # the corpus-ops children: local[c] pinned to the mask's first c CPUs
    children = {}

    def fake_run(cmd, **kwargs):
        children[int(cmd[cmd.index("--_child") + 1])] = (
            kwargs["preexec_fn"].args[1],
            tuple(int(v) for v in cmd[cmd.index("--_layout") + 1:][:2]))
        result = {"n_docs": 10, "substr_sec": 1.0, "para_sec": 1.0,
                  "mix_pack_sec": 1.0, "total_sec": 3.0,
                  "docs_per_sec": 3.3}
        return SimpleNamespace(stdout="RESULT " + json.dumps(result))

    monkeypatch.setattr(corpus_mod.subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["bench_corpus_ops.py"])
    corpus_mod.main()
    assert json.loads(capsys.readouterr().out)["n_cores"] == [n, n4]
    first = sorted(mask)
    assert children == {n: (set(first[:n]), layout),
                        n4: (set(first[:n4]), layout)}
