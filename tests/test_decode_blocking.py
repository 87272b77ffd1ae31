"""Block-boundary regression tests for the crop-aligned flat-decode
blocking (fastbatch.FLAT_DECODE_CHUNK) and the grid-aligned detection
blocking (detect.DETECT_CHUNK).

The differential fuzz exercises both implicitly at the production block
size; these tests force pathological block sizes (tiny, one-crop-per-
block, crop-larger-than-block) and assert bit-identity against the
single-block path, so a future edit that breaks alignment or drops the
at-least-one-crop guarantee fails loudly rather than only at scale.
"""
import sparkocr.detect as dt
import sparkocr.fastbatch as fb
from sparkocr.config import DEFAULT_CONFIG
from sparkocr.detect import TurnGrid
from sparkocr.recognize import canonicalize


def _canon_pool():
    """A mixed pool of already-canonicalized, in-domain crops: short,
    empty-ish, punctuation-heavy, multi-line, and one crop long enough
    to exceed any tiny test block size."""
    raws = [
        "plain prose line",
        "a",
        "!!!???...",
        "two\nlines of body",
        "tabs\tand  spaces",
        "x" * 700,                      # longer than the tiny chunk below
        "unicode 日本語 text",
        "trailing punct...",
        "",                             # empty canon: conf 0.0 branch
        "MIXED case With Stops. And, commas",
    ] * 7  # 70 crops, varied order
    return [canonicalize(r, DEFAULT_CONFIG.max_rec_lines) for r in raws]


def test_flat_decode_blocking_bit_identical(monkeypatch):
    canons = _canon_pool()
    monkeypatch.setattr(fb, "FLAT_DECODE_CHUNK", 1 << 30)
    whole = fb.decode_canons_flat(canons, DEFAULT_CONFIG)
    for chunk in (1, 16, 64, 257, 1024):
        monkeypatch.setattr(fb, "FLAT_DECODE_CHUNK", chunk)
        assert fb.decode_canons_flat(canons, DEFAULT_CONFIG) == whole


def test_flat_decode_oversized_single_crop(monkeypatch):
    # a single crop larger than the block must decode whole (the
    # acc == 0 guard), aligned with its neighbors
    canons = [canonicalize("small", None),
              canonicalize("y" * 5000, None),
              canonicalize("after", None)]
    monkeypatch.setattr(fb, "FLAT_DECODE_CHUNK", 1 << 30)
    whole = fb.decode_canons_flat(canons, DEFAULT_CONFIG)
    monkeypatch.setattr(fb, "FLAT_DECODE_CHUNK", 100)
    assert fb.decode_canons_flat(canons, DEFAULT_CONFIG) == whole
    assert len(whole[0]) == 3 and whole[0][1].startswith("y")


def test_detection_blocking_bit_identical(monkeypatch):
    texts = [
        "one line of text",
        "<div>markup <b>row</b></div>\nwith a second line",
        "",
        "para one\n\npara two after a blank\nand a third line",
        "<a href=x>link heavy</a> " * 6,
        "z" * 900,
        "[PAGE 3]\nreal body text under a boiler line",
    ] * 5  # 35 rows, block boundaries land mid-pool
    grid = TurnGrid(texts)
    monkeypatch.setattr(dt, "DETECT_CHUNK", 1 << 30)
    whole = dt.find_text_boxes_batch(grid, DEFAULT_CONFIG)
    for chunk in (1, 50, 400, 2048):
        monkeypatch.setattr(dt, "DETECT_CHUNK", chunk)
        got = dt.find_text_boxes_batch(grid, DEFAULT_CONFIG)
        assert got == whole
    # and the blocked result still matches the per-text function
    monkeypatch.setattr(dt, "DETECT_CHUNK", 128)
    blocked = dt.find_text_boxes_batch(grid, DEFAULT_CONFIG)
    per_grid = [dt.find_text_boxes(TurnGrid(t), DEFAULT_CONFIG)
                for t in texts]
    assert blocked == per_grid


def test_detection_oversized_single_grid(monkeypatch):
    grid = TurnGrid(["tiny", "w" * 4000 + "\nsecond line", "tail row"])
    monkeypatch.setattr(dt, "DETECT_CHUNK", 1 << 30)
    whole = dt.find_text_boxes_batch(grid, DEFAULT_CONFIG)
    monkeypatch.setattr(dt, "DETECT_CHUNK", 64)
    assert dt.find_text_boxes_batch(grid, DEFAULT_CONFIG) == whole
