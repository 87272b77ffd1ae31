"""Structural guards on the driver contract itself (round-2 postmortem).

Three failure classes that pytest must make impossible, because the
driver's artifact is the only hard signal and it arrives once per round:

1. **Oracle type portability** — DuckDB promotes integer ``sum`` (incl.
   window sums) to HUGEINT, which the DRIVER's hash formatter renders
   differently than the local mirror's fetchall (the only two round-2
   hash failures were exactly the only two HUGEINT-output oracles, both
   bit-exact locally). Every oracle's DESCRIBE must be free of
   HUGEINT/UHUGEINT/DECIMAL.
2. **Budget truncation** — the driver runs ~50 queries and stops; a
   contract that grows past the budget, or whose early queries are slow
   enough to starve the tail of a time budget, silently loses coverage.
   queries() must stay ≤ 50 entries and the full suite must finish well
   inside a hard wall-clock bound.
3. **Tie nondeterminism** — the asof oracle leans on "no (user_id, ts)
   ties among click events" (DuckDB's ASOF pick among tied right rows is
   unspecified); a testdata regen that introduces ties would make the
   comparison flaky. Assert the precondition on the data itself.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

FORBIDDEN_KINDS = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _output_types(con, sql: str) -> dict[str, str]:
    rel = con.execute(f"DESCRIBE {sql}")
    return {name: typ for name, typ, *_ in rel.fetchall()}


def test_no_hugeint_or_decimal_oracle_columns(duck):
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        for col, typ in _output_types(duck, sql).items():
            if any(k in typ.upper() for k in FORBIDDEN_KINDS):
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns with driver-unportable types (CAST them to "
        f"BIGINT/DOUBLE in the oracle SQL): {offenders}")


def test_lint_catches_a_hugeint_regression(duck):
    """The lint must actually fire on the round-2 failure shape: an
    unparenthesized sum(BIGINT) promotes to HUGEINT in DuckDB."""
    types = _output_types(
        duck, "SELECT sum(CAST(1 AS BIGINT)) AS n FROM range(3)")
    assert any(k in types["n"].upper() for k in FORBIDDEN_KINDS), types


def test_queries_fit_the_driver_budget():
    """The round-2 driver artifact stopped at exactly 50 queries; every
    entry past #50 in dict order gets NO correctness row at all."""
    assert len(entrymod.queries()) <= 50


def test_asof_oracle_tie_precondition(duck):
    """No (user_id, ts) ties among click events at any committed sf —
    the asof oracle's determinism rests on this (see the NOTE in
    oracle_sql()['asof_join_events'])."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(p):
            continue
        n = duck.execute(
            f"""SELECT count(*) FROM (
                  SELECT user_id, ts FROM '{p}'
                  WHERE event_type = 'click'
                  GROUP BY user_id, ts HAVING count(*) > 1
                )"""
        ).fetchone()[0]
        assert n == 0, (
            f"{sf}: {n} tied (user_id, ts) click groups — the asof "
            "oracle comparison is no longer deterministic; add a "
            "tiebreak to the oracle or regenerate the data")


def test_full_suite_completes_inside_wall_budget():
    """Run the complete 50-query correctness mirror at sf0.01 under a
    hard wall-clock budget (~3× the current quiet-box time) — harness
    truncation by slowness must be visible to the builder, not just the
    judge. Also re-asserts end-to-end that every query passes its
    oracle. The only queries allowed to skip are ``DATA_FILE_QUERIES``
    whose data file is absent from this box."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.dirname(
             os.path.abspath(__file__))), "scripts", "check_correctness.py")],
        capture_output=True, text=True, timeout=420,
    )
    wall = time.time() - t0
    tail = "\n".join(proc.stdout.splitlines()[-4:])
    assert proc.returncode == 0, (
        f"correctness mirror failed after {wall:.0f}s:\n{tail}\n"
        f"{proc.stderr[-1000:]}")
    assert "0 fail" in proc.stdout, tail
    for line in proc.stdout.splitlines():
        if line.startswith("skip "):
            name, path = line.split()[1].rstrip(":"), line.split()[4]
            assert name in entrymod.DATA_FILE_QUERIES, line
            assert not os.path.exists(path), line


def test_least_verified_queries_stay_first():
    """The least-driver-verified queries are deliberately ordered FIRST
    in queries() so a budget-truncated harness always covers them: the
    three round-5 rotation queries (streaming's first driver row, the
    sampling/chunking stretch row, the rollup+cube+monthly merge), then
    the round-4 rotation. An accidental reorder would silently demote
    them behind long-green rows."""
    order = list(entrymod.queries())
    new_r5 = [
        "streaming_extract_ledger", "dsir_chunk_documents",
        "rollup_cube_sales",
    ]
    new_r4 = {
        "gopher_c4_documents", "dedup_battery_documents",
        "lm_ppl_documents", "lm_model_scores_documents",
        "mix_pack_documents", "corpus_funnels",
    }
    assert order[:3] == new_r5, order[:3]
    assert set(order[3:9]) == new_r4, order[3:9]
