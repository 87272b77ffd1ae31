"""scripts/make_testdata.py CLI: ``--seed`` reaches ``gen`` and the
default seed is 42. Runs at sf0.001, where one ``gen`` takes about a
second."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "make_testdata.py")
sys.path.insert(0, os.path.join(REPO, "scripts"))

from make_testdata import gen  # noqa: E402


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("seed", [7, None], ids=["seed7", "default"])
def test_cli_seed_matches_gen(tmp_path, seed):
    cli_dir, gen_dir = tmp_path / "cli", tmp_path / "gen"
    cmd = [sys.executable, SCRIPT, "0.001", str(cli_dir)]
    if seed is not None:
        cmd += ["--seed", str(seed)]
    subprocess.run(cmd, check=True, capture_output=True)
    gen(0.001, str(gen_dir), 42 if seed is None else seed)
    got, want = _files(cli_dir), _files(gen_dir)
    assert sorted(got) == sorted(want) and len(want) == 10
    for name in want:
        assert got[name] == want[name], name
