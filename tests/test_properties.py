"""Property-based tests (hypothesis) for the single-turn pipeline —
invariants that must hold on ARBITRARY input, not just fixtures."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sparkocr.config import DEFAULT_CONFIG, FLAGSHIP_CONFIG
from sparkocr.detect import Box, TurnGrid, crop_box, find_text_boxes, merge_overlapping_boxes
from sparkocr.pipeline import extract_turn
from sparkocr.recognize import decode
from sparkocr.textgrid import char_scores

# text with markup-ish fragments, CJK, emoji, control chars mixed in
_chunks = st.sampled_from([
    "hello world", "<div>", "</div>", "<a href=x>", "</a>", "<!--", "-->",
    "<script>", "</script>", "轻舟已过万重山", "こんにちは世界", "안녕하세요",
    "a", " ", "\n", "\t", "\r", "\f", "😀", "…", "。", "|", "x" * 40,
    "\x1b[31m", "<", ">", '"', "0123456789",
])
texts = st.lists(_chunks, min_size=0, max_size=40).map("".join)


@settings(max_examples=150, deadline=None)
@given(texts)
def test_extract_turn_total_and_consistent(text):
    """Never raises; spans are valid half-open intervals into the turn;
    full_text is exactly the block texts joined; confidences bounded."""
    r = extract_turn(text, FLAGSHIP_CONFIG)
    assert r.error_code is None, (r.error_code, r.error_msg)
    assert r.full_text == "\n".join(b.text for b in r.blocks)
    for i, b in enumerate(r.blocks):
        assert b.pos == i
        assert 0 <= b.start <= b.end <= len(text)
        assert 0.0 <= b.confidence <= 1.0
        assert b.width > 0 and b.height > 0


@settings(max_examples=150, deadline=None)
@given(texts)
def test_detection_spans_ordered_and_disjoint_lines(text):
    """Boxes come out in discovery order: offsets non-decreasing."""
    grid = TurnGrid(text)
    boxes = find_text_boxes(grid, DEFAULT_CONFIG.with_overrides(merge_boxes=False))
    starts = [crop_box(grid, b)[1] for b in boxes]
    assert starts == sorted(starts)


@settings(max_examples=150, deadline=None)
@given(texts)
def test_decode_emits_subset_in_order(text):
    """Decode only ever keeps a subsequence of its input codepoints."""
    cp, scores, blank = char_scores(text)
    d_cp, d_sc = decode(cp, scores, blank, DEFAULT_CONFIG)
    assert len(d_cp) == len(d_sc) <= len(cp)
    # subsequence check
    it = iter(cp.tolist())
    assert all(any(c == x for x in it) for c in d_cp.tolist())


_box = st.builds(
    Box,
    left=st.integers(0, 200), top=st.integers(0, 400),
    width=st.integers(1, 60), height=st.integers(1, 80),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_box, max_size=12), st.integers(0, 3))
def test_merge_reaches_fixpoint_and_shrinks(boxes, thr):
    merged = merge_overlapping_boxes(boxes, thr)
    assert len(merged) <= len(boxes)
    # NOT asserted: idempotence. The reference algorithm (det.rs:388-424,
    # replicated verbatim) is not a true fixpoint: a box finalized into
    # `result` cannot absorb a union that grows later (hypothesis found
    # the 3-box counterexample). Re-merging may only ever shrink further:
    assert len(merge_overlapping_boxes(merged, thr)) <= len(merged)
    # every input box is contained in some output box
    for b in boxes:
        assert any(
            m.left <= b.left and m.top <= b.top
            and m.right >= b.right and m.bottom >= b.bottom
            for m in merged
        )


@settings(max_examples=150, deadline=None)
@given(texts)
def test_box_span_equals_crop_box_offsets(text):
    """The cheap span path and the materializing crop path must agree on
    every detected box for arbitrary ragged input (review finding: the
    unclamped end bled past short last lines)."""
    from sparkocr.detect import box_span

    grid = TurnGrid(text)
    for cfg in (DEFAULT_CONFIG, FLAGSHIP_CONFIG):
        for b in find_text_boxes(grid, cfg):
            _, start, end = crop_box(grid, b)
            assert box_span(grid, b) == (start, end)
            assert 0 <= start <= end <= len(grid.text)


_single_line_chunks = st.sampled_from([
    "hello world", "a", " ", "\t", "…", "。", "|", "x" * 40, '"',
    "0123456789", "轻舟已过万重山", "[PAGE 3]", "=== PAGE 4 ===",
    "[HEADER]", "- item", "  lots of padding  ", "!!", "done.",
])
single_line_texts = st.lists(
    _single_line_chunks, min_size=0, max_size=12).map("".join)


@settings(max_examples=200, deadline=None)
@given(single_line_texts)
def test_single_line_fast_path_matches_general_path(text):
    """One markup-free line detects exactly as it does with a trailing
    empty line: the empty second line contributes no box and, with
    border ≤ 16, does not change the first line's clamps."""
    assert "\n" not in text and "<" not in text and "\x1b" not in text
    for cfg in (DEFAULT_CONFIG, FLAGSHIP_CONFIG):
        fast = find_text_boxes(TurnGrid(text), cfg)
        general = find_text_boxes(TurnGrid(text + "\n"), cfg)
        assert fast == general, (text, fast, general)
