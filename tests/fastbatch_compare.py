"""Shared byte-exactness comparator for the fastbatch differential
checks — the ONE home imported by both the committed hypothesis suite
(tests/test_fastbatch.py) and the sustained pre-release harness
(scripts/fuzz_fastbatch.py), so the two can never drift apart (e.g. if
Block grows a field, both update together). Deliberately
dependency-light: plain asserts, no pytest/hypothesis imports, usable
from a bare interpreter."""

import numpy as np

from sparkocr.config import FLAGSHIP_CONFIG
from sparkocr.detect import (
    TurnGrid,
    box_span,
    crop_box,
    find_text_boxes,
    no_surrogates,
)
from sparkocr.engine import EXTRACT_RESULT_FIELDS
from sparkocr.fastbatch import batch_extract_simple, detect_batch, extract_batch
from sparkocr.pipeline import extract_turn, extract_turn_auto


def _assert_same(t, r, want):
    assert r.error_code == want.error_code, ascii(t)
    assert r.error_msg == want.error_msg, ascii(t)
    assert r.full_text == want.full_text, ascii(t)
    assert len(r.blocks) == len(want.blocks), ascii(t)
    for a, b in zip(r.blocks, want.blocks):
        assert a == b, (ascii(t), a, b)  # frozen dataclass: bitwise fields


def assert_matches(texts, config=FLAGSHIP_CONFIG, min_eligible=None,
                   allow_formfeed=False, roles=None):
    """For every row either the batch result is byte-identical to
    pipeline.extract_turn (text, confidence BITS, spans, geometry,
    block type) or the row is declared ineligible (None) and falls
    back. Returns the number of rows that took the fast path.
    ``allow_formfeed`` mirrors the engine's non-routing mode: \\f rows
    run the stage-3 general machine and are still compared against
    extract_turn (which folds \\f — the same fallback the engine uses
    when routing is off). ``roles`` mirrors the routing mode: the
    oracle becomes extract_turn_auto(t, role) — the engine's
    route_documents fallback — so stage-4 document rows are compared
    against the layout-parse branch."""
    got = batch_extract_simple(list(texts), config,
                               allow_formfeed=allow_formfeed,
                               roles=roles)
    n_fast = 0
    for k, (t, r) in enumerate(zip(texts, got)):
        if r is None:
            continue
        n_fast += 1
        if roles is not None:
            want = extract_turn_auto(t, roles[k], config)
        else:
            want = extract_turn(t, config)
        _assert_same(t, r, want)
    if min_eligible is not None:
        assert n_fast >= min_eligible, (n_fast, min_eligible)
    return n_fast


def assert_extract_batch(texts, config=FLAGSHIP_CONFIG, roles=None):
    """Full coverage of the engine's one dispatch: ``extract_batch``
    answers EVERY row of its Arrow result, byte-identical to
    ``extract_turn_auto(t, role)`` when ``roles`` is given and to
    ``extract_turn(t)`` when it is not: every block field, and the
    confidence as float32 bits. Returns the row count."""
    got = extract_batch(list(texts), roles, config)
    assert got.schema.names == [f.name for f in EXTRACT_RESULT_FIELDS]
    rows = got.to_pylist()
    assert len(rows) == len(texts), (len(rows), len(texts))
    for k, (t, r) in enumerate(zip(texts, rows)):
        if roles is not None:
            want = extract_turn_auto(t, roles[k], config)
        else:
            want = extract_turn(t, config)
        assert r["error_code"] == want.error_code, ascii(t)
        assert r["error_msg"] == want.error_msg, ascii(t)
        assert r["full_text"] == want.full_text, ascii(t)
        assert r["n_blocks"] == len(want.blocks), ascii(t)
        assert len(r["blocks"]) == len(want.blocks), ascii(t)
        for a, b in zip(r["blocks"], want.blocks):
            w = dict(b.__dict__)
            a_bits = np.float32(a.pop("confidence")).view(np.uint32)
            w_bits = np.float32(w.pop("confidence")).view(np.uint32)
            assert a_bits == w_bits, (ascii(t), a_bits, w_bits)
            assert a == w, (ascii(t), a, w)
    return len(rows)


def assert_detect_batch(texts, config=FLAGSHIP_CONFIG):
    """The ``spans``/``blocks`` kernel: ``detect_batch`` gives every row
    exactly what the per-turn ``find_text_boxes`` / ``box_span`` /
    ``crop_box`` give for the row alone, and ``[]`` for a null or
    surrogate-bearing row. Returns the row count."""
    got = detect_batch(list(texts), config)
    assert len(got) == len(texts), (len(got), len(texts))
    for t, row in zip(texts, got):
        if t is None or not no_surrogates(t):
            assert row == [], ascii(t)
            continue
        grid = TurnGrid(t)
        want = []
        for b in find_text_boxes(grid, config):
            crop, start, end = crop_box(grid, b)
            assert (start, end) == box_span(grid, b), ascii(t)
            want.append((crop, b.left, b.top, b.width, b.height, start, end))
        assert row == want, ascii(t)
    return len(got)
