"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark at sf0.01, run the matching ``oracle_sql()``
on DuckDB over the same parquet, compare row count + column names +
order-insensitive value hash. Run: python scripts/check_correctness.py
[sf_dir] [--query name ...] (each --query limits the run to the named
queries — substring match — for fast iteration on one operator).

A query that reads a data file from outside testdata
(``DATA_FILE_QUERIES`` in ``__spark_entry__``) and raises
FileNotFoundError because that file is absent is reported as a `skip`
line naming the file; it counts as neither a pass nor a fail.

At an sf_dir other than sf0.01 the golden-oracle queries (whose oracle
is a committed sf0.01 pin, not SQL over the input tables) are skipped
with a `skip` line; the run then checks scale-independence of the
pure-SQL oracle family. Verified 2026-08-20 at sf0.001: all 28 SQL
oracles pass, and the 18 hash-fails of a naive off-pin run were all
golden-pinned queries (the other 4 goldens' outputs happen to be
scale-insensitive and passed even against the pin). Verified the same
day at sf0.1 (10x the driver's compare scale, 100x the sf0.001 run):
all 28 SQL oracles pass there too — the oracle family agrees with the
Spark plans across a 100x input-size span."""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def value_hash(rows, cols) -> str:
    """Order-insensitive hash: per-row canonical string under name-sorted
    columns, rows sorted, then sha256."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "\x1f".join(_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "nan"
        # 12 significant digits: oracle values are pre-rounded (2-6 dp)
        # but can reach ~1e8, where 6 sig digits would mask real
        # mismatches of up to +/-50 — keep the gate strict
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    s = str(v)
    if "\n" in s or "\x1f" in s or "\\" in s:
        # text cells carry real newlines (full_text, clean_text): left
        # raw, a newline inside a cell is ambiguous with the row
        # separator, so two DIFFERENT row multisets could canonicalize
        # to the same byte stream and false-PASS the gate
        s = (s.replace("\\", "\\\\").replace("\n", "\\n")
             .replace("\x1f", "\\x1f"))
    return s


def main():
    args = sys.argv[1:]
    only: list[str] = []
    while "--query" in args:
        i = args.index("--query")
        if i + 1 >= len(args):
            sys.exit("usage: check_correctness.py [sf_dir] "
                     "[--query name ...] (--query needs a value)")
        only.append(args[i + 1])
        del args[i:i + 2]
    sf = args[0] if args else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from sparkocr.session import get_spark

    # The committed golden-oracle fixtures are sf0.01 PINS (see
    # scripts/make_oracle_goldens.py): at any other sf_dir those queries
    # compare fresh Spark output against sf0.01 data and hash-fail by
    # construction. Label them so an off-sf run reads as what it is — a
    # scale-independence check of the pure-SQL oracle family only.
    pin_dir = "/root/testdata/sf0.01"
    if os.path.exists(sf) and os.path.exists(pin_dir):
        # realpath both sides: a relative path or symlink to the pin dir
        # must still count as on-pin, else the golden-oracle family is
        # silently skipped (ADVICE r4)
        off_pin = os.path.realpath(sf) != os.path.realpath(pin_dir)
    else:
        off_pin = os.path.normpath(sf) != os.path.normpath(pin_dir)
    golden = set(getattr(entrymod, "GOLDEN_ORACLE_QUERIES", ()))
    data_file_queries = set(getattr(entrymod, "DATA_FILE_QUERIES", ()))

    spark = get_spark(cores=8, app_name="correctness", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = n_pinned = n_missing = 0
    for name, fn in qs.items():
        if only and not any(pat in name for pat in only):
            continue
        if off_pin and name in golden:
            print(f"skip  {name}: golden oracle is an sf0.01 pin "
                  "[expected mismatch off-pin]")
            n_pinned += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except FileNotFoundError as e:
            if (name not in data_file_queries or not e.filename
                    or os.path.exists(e.filename)):
                print(f"FAIL  {name}: spark error: {e}")
                n_fail += 1
                continue
            # a box without the file cannot check the query: not a pass
            print(f"skip  {name}: data file {e.filename} is missing")
            n_missing += 1
            continue
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in osql:
            print(f"rows  {name}: {len(srows)} rows ({dt:.1f}s) [rows-only]")
            n_rows_only += 1
            continue
        try:
            rel = con.execute(osql[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            hs, hd = value_hash(srows, scols), value_hash(drows, dcols)
            if hs != hd:
                problems.append(f"value hash {hs} vs {hd}")
                # show a sample diff
                sset = set(
                    "\x1f".join(_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                dset = set(
                    "\x1f".join(_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i]))
                    for r in drows
                )
                only_s = list(sset - dset)[:3]
                only_d = list(dset - sset)[:3]
                problems.append(f"spark-only {only_s} | duck-only {only_d}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows ({dt:.1f}s)")
            n_pass += 1
    pinned = f", {n_pinned} sf0.01-pinned skipped" if n_pinned else ""
    missing = f", {n_missing} skipped for a missing data file" if n_missing else ""
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail"
          f"{pinned}{missing}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
