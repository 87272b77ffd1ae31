"""Seeded input generation for the benchmark workloads.

Inputs are made once per (workload, seed, generator version) under the
work directory and reused by later runs with the same key. The program
under test only ever sees the generated parquet files.

- ``extract_mixed``: ``sparkocr.fixtures.generate_turns`` transcripts
  plus a planted hostile tail (about 2% of rows), written as three
  files, so the scan yields three input splits. Rows are dealt to the
  files by text length, so the three tasks of a pass carry like work.
  Half of the rows are also written as many small files under
  ``small_files``, the shape an appending producer leaves behind; the
  traced run's checkpoint probe reads them.
- ``corpus_dedup``: ``scripts/make_testdata.gen`` documents (planted
  duplicate pairs, Heaps-law vocabulary); only ``documents.parquet`` is
  kept.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change for a given seed, so stale
# cache entries are never reused.
GEN_VERSION = 7

MIXED_CONVS = 2200       # about 24k turns
MIXED_FILES = 3
SMALL_FILES = 64
CORPUS_SF = 0.02         # 1k documents
HOSTILE_FRAC = 0.02

TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

# Rows that leave the batch fast paths: entity-minted tags make a crop's
# canonical form carry markup (per-turn fallback), numeric references to
# lone surrogates exercise the surrogate guards, and null text takes the
# error path. Raw lone surrogates cannot be written to parquet by
# pyarrow, so they are planted as character references.
_HOSTILE_TEXTS = (
    None,
    "Intro &lt;b&gt;bold claim&lt;/b&gt; followed by plain words here",
    "first line of notes\nsecond line with &lt;i&gt;minted&lt;/i&gt; tags\nthird",
    "surrogate reference &#55296; inside an otherwise plain sentence",
    "pair &#xD83D;&#xDE00; of references then more text to read",
    "<div>markup row with &lt;script&gt;alert(1)&lt;/script&gt; inside</div>",
    "[PAGE 1]\nReport body with &lt;b&gt;minted&lt;/b&gt; markup text\n"
    "\f[PAGE 2]\nSecond page body line that keeps going",
)


def _hostile_rows(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for k in range(n):
        text = _HOSTILE_TEXTS[k % len(_HOSTILE_TEXTS)]
        # document-shaped payloads need the tool role to reach the router
        role = "tool" if text and "\f" in text else rng.choice(
            ("user", "assistant", "tool", "system"))
        rows.append({
            "conv_id": f"hostile-{seed:04d}-{k:05d}",
            "turn_idx": 0,
            "role": role,
            "text": text,
            "tool": "pdf_reader" if role == "tool" else "",
            "ts": None,
        })
    return rows


def _turn_rows(seed: int) -> list[dict]:
    from sparkocr.fixtures import generate_turns

    rows = list(generate_turns(seed, MIXED_CONVS))
    rows.extend(_hostile_rows(seed, int(len(rows) * HOSTILE_FRAC)))
    # spread conversations and shapes over the files
    random.Random(seed).shuffle(rows)
    return rows


def _write_files(rows: list[dict], out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        table = pa.Table.from_pylist(chunk, schema=TURN_SCHEMA)
        # one row group per file: one scan split per file
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"),
                       row_group_size=max(len(chunk), 1))


def _deal_by_length(rows: list[dict], n_files: int, seed: int) -> list[dict]:
    """Reorder ``rows`` so that ``_write_files`` gives each file every
    n-th row by text length: the files get like length mixes, and the
    pass time, set by the slowest task, varies less from seed to seed."""
    by_len = sorted(rows, key=lambda r: len(r["text"] or ""))
    out = []
    rng = random.Random(seed)
    for f in range(n_files):
        part = by_len[f::n_files]
        rng.shuffle(part)
        out.extend(part)
    return out


def _gen_corpus(seed: int, out_dir: str) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        import make_testdata
    finally:
        sys.path.pop(0)
    tmp = out_dir + ".tables"
    # gen() prints one line per table; stdout is reserved for the result
    with contextlib.redirect_stdout(sys.stderr):
        make_testdata.gen(CORPUS_SF, tmp, seed)
    os.makedirs(out_dir)
    os.replace(os.path.join(tmp, "documents.parquet"),
               os.path.join(out_dir, "documents.parquet"))
    shutil.rmtree(tmp)


def input_dir(work: str, workload: str, seed: int) -> str:
    """Path of the generated input of (workload, seed), made on first
    use. A finished input carries a ``_DONE`` marker; a half-written one
    from a killed run is replaced."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    data = os.path.join(d, "data")
    os.makedirs(d)
    if workload == "extract_mixed":
        rows = _turn_rows(seed)
        _write_files(_deal_by_length(rows, MIXED_FILES, seed), data,
                     MIXED_FILES)
        _write_files(rows[:len(rows) // 2], os.path.join(d, "small_files"),
                     SMALL_FILES)
    elif workload == "corpus_dedup":
        _gen_corpus(seed, data)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    open(os.path.join(d, "_DONE"), "w").close()
    return d
