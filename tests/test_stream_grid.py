"""Stream-boundary tests for the batch grid (``detect.TurnGrid(texts)``):
every batch caller joins its rows into ONE character stream — each
text, then one gap slot — so markup that is cut at a row end must
never bridge into the next row. The planted rows below put the halves
of a tag, an unclosed comment/script/anchor, a long-s script opener,
CRLF, form-feed and astral text right next to a gap, and the batch
result must equal the one-row batches and the per-turn path."""

import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkocr.config import DEFAULT_CONFIG, FLAGSHIP_CONFIG
from sparkocr.detect import (
    Box,
    TurnGrid,
    box_span,
    crop_box,
    find_text_boxes,
    find_text_boxes_batch,
)
from sparkocr.engine import SparkOcrEngine
from sparkocr.fastbatch import detect_batch, extract_batch
from sparkocr.textgrid import _TAG_RE, codepoints, tag_spans

from fastbatch_compare import assert_extract_batch

_BODY = "visible body text that is long enough to detect"

BOUNDARY_ROWS = [
    f"{_BODY} <b",                    # a tag cut at the row end …
    f"x> {_BODY}",                    # … whose '>' opens the next row
    f"{_BODY} <!-- unclosed comment",
    f"{_BODY} --> after the comment closer",
    f"{_BODY} <script>var x = 1;",
    f"</script> {_BODY}",
    f"{_BODY} <a href=x>link text",
    f"{_BODY} </a> then more words",
    f"<ſcript>long s opener {_BODY}",  # U+017F matches 's' under IGNORECASE
    f"{_BODY} </ſcript> tail words",
    f"{_BODY} with a trailing carriage return\r",
    f"\nleading newline row {_BODY}",
    f"{_BODY} crlf line\r\n",
    f"\r\n{_BODY} after a leading crlf",
    f"{_BODY} page one\f",
    f"\fpage two {_BODY}",
    f"\U0001F600 astral start {_BODY}",
    f"{_BODY} astral end \U0001D518",
    "<b",
    ">",
    "",
    "\x1b[31",
    f"m {_BODY}",
    f"{_BODY} <a href=q>unclosed anchor <!-- <a> -->",
    f"text <i>inside</i> {_BODY}\nsecond line <!-- x",
]
ROLES = ["tool" if "\f" in t else ("user", "assistant")[i % 2]
         for i, t in enumerate(BOUNDARY_ROWS)]


@pytest.mark.parametrize("cfg", [FLAGSHIP_CONFIG, DEFAULT_CONFIG,
                                 DEFAULT_CONFIG.with_merge_boxes(False),
                                 DEFAULT_CONFIG.with_rect_border_size(0)])
@pytest.mark.parametrize("routing", [False, True])
def test_boundary_rows_batch_equals_one_row_batches_and_per_turn(cfg,
                                                                routing):
    roles = ROLES if routing else None
    # every row against the per-turn extract_turn_auto / extract_turn
    assert assert_extract_batch(BOUNDARY_ROWS, cfg, roles=roles) \
        == len(BOUNDARY_ROWS)
    whole = extract_batch(BOUNDARY_ROWS, roles, cfg).to_pylist()
    for k, t in enumerate(BOUNDARY_ROWS):
        one = extract_batch([t], [roles[k]] if routing else None, cfg)
        assert one.to_pylist() == [whole[k]], ascii(t)


def _verb_rows(texts, cfg):
    rows = detect_batch(texts, cfg)
    spans = [[(Box(*c[1:5]), c[5:]) for c in row] for row in rows]
    crops = [[c[0] for c in row] for row in rows]
    return spans, crops


def _per_turn(text, cfg):
    grid = TurnGrid(text)
    boxes = find_text_boxes(grid, cfg)
    return ([(b, box_span(grid, b)) for b in boxes],
            [crop_box(grid, b)[0] for b in boxes])


@pytest.mark.parametrize("cfg", [FLAGSHIP_CONFIG,
                                 DEFAULT_CONFIG.with_rect_border_size(0)])
def test_detect_batch_equals_per_turn_detection(cfg):
    """The spans/blocks verbs' batch kernel equals the per-turn
    find_text_boxes / box_span / crop_box on every row; a surrogate row
    gives [] without emptying its neighbours, and null rows give []."""
    texts = BOUNDARY_ROWS + ["lone \ud800 surrogate " + _BODY,
                             None] + BOUNDARY_ROWS[::-1]
    spans, crops = _verb_rows(texts, cfg)
    for k, t in enumerate(texts):
        if t is None or "\ud800" in t:
            assert spans[k] == [] and crops[k] == []
            continue
        want_spans, want_crops = _per_turn(t, cfg)
        assert spans[k] == want_spans, ascii(t)
        assert crops[k] == want_crops, ascii(t)
    assert any(spans)  # the planted rows do detect something


def test_batch_grid_rows_equal_one_text_grids():
    grid = TurnGrid(BOUNDARY_ROWS)
    got = find_text_boxes_batch(grid, FLAGSHIP_CONFIG)
    for r, t in enumerate(BOUNDARY_ROWS):
        one = TurnGrid(t)
        assert got[r] == find_text_boxes(one, FLAGSHIP_CONFIG), ascii(t)
        n = len(t)
        s = int(grid.starts[r])
        for name in ("mk", "opq", "an"):
            assert (getattr(grid, name)[s:s + n]
                    == getattr(one, name)[:n]).all(), (name, ascii(t))


def test_spans_and_blocks_verbs_on_boundary_rows(spark):
    """engine.spans / engine.blocks over one Arrow batch of the planted
    rows equal the per-turn detection of each row."""
    texts = list(BOUNDARY_ROWS)
    df = spark.createDataFrame(
        pd.DataFrame({"turn_idx": range(len(texts)), "text": texts}))
    eng = SparkOcrEngine(spark)
    rows = eng.spans(df).orderBy("turn_idx").collect()
    crows = eng.blocks(df).orderBy("turn_idx").collect()
    for row, crow, t in zip(rows, crows, texts):
        want_spans, want_crops = _per_turn(t, FLAGSHIP_CONFIG)
        assert [(b.start, b.end) for b in row.boxes] \
            == [span for _, span in want_spans], ascii(t)
        assert [(b.left, b.top, b.width, b.height) for b in row.boxes] \
            == [(b.left, b.top, b.width, b.height)
                for b, _ in want_spans], ascii(t)
        assert list(crow.crops) == want_crops, ascii(t)


# --- the vectorized tag scan against its regex oracle --------------------

_tag_text = st.lists(st.sampled_from(
    ["<", ">", "/", "!", "a", "Z", "ſ", "1", " ", "\n", "<b>", "</a >",
     "<!--", "-->", "<a href=x>", "x", "\x00", "\x0f", "\x01", "é"]),
    max_size=30).map("".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_tag_text, min_size=1, max_size=6))
def test_tag_spans_equal_regex_per_row(rows):
    """``tag_spans`` over a gap-joined stream returns exactly the
    per-row ``_TAG_RE.finditer`` matches, shifted to stream offsets."""
    stream = "\n".join(rows) + "\n"
    want = []
    pos = 0
    bounds = []
    for t in rows:
        want += [(pos + m.start(), pos + m.end())
                 for m in _TAG_RE.finditer(t)]
        if "<" in t:
            bounds.append(pos + len(t))
        pos += len(t) + 1
    s, e = tag_spans(codepoints(stream), bounds)
    assert list(zip(s.tolist(), e.tolist())) == want
    # the one-text case: the text's end is the only row end
    for t in rows:
        s, e = tag_spans(codepoints(t), [len(t)])
        assert list(zip(s.tolist(), e.tolist())) \
            == [m.span() for m in _TAG_RE.finditer(t)]


def test_long_s_script_opener_is_a_script():
    """``_SCRIPT_RE`` is IGNORECASE, so U+017F opens a script: no
    lowercase substring gate may skip it."""
    from sparkocr.textgrid import _SCRIPT_RE, opaque_mask

    t = "<ſcript>hidden"
    assert re.match(_SCRIPT_RE, t)
    assert opaque_mask(t).all()


# --- the class-table flat decode against the per-crop decode -------------

@pytest.mark.parametrize("cfg", [
    DEFAULT_CONFIG,
    DEFAULT_CONFIG.with_punct_min_score(0.35),   # punctuation BORDERLINE
    DEFAULT_CONFIG.with_min_score(0.96),         # words RESET
    DEFAULT_CONFIG.with_min_score(1.0).with_punct_min_score(0.35),
    DEFAULT_CONFIG.with_dictionary(tuple("helo wrd.!,\n")),
    DEFAULT_CONFIG.with_punct_min_score(0.04),   # markup punct HIGH
    DEFAULT_CONFIG.with_dictionary(tuple("helo wrd.!,\n<>/b[m")),
])
def test_class_table_decode_equals_recognize_crop(cfg):
    """``decode_canons_flat`` (``recognize.decode_kinds`` over
    ``textgrid.text_kinds``) equals ``recognize_crop`` per crop — text
    and confidence bits — under thresholds that make a BORDERLINE kind,
    make words RESET, make markup punctuation HIGH, and under
    dictionaries, for plain and markup-bearing crops alike: tags, ANSI,
    comments, punctuation at markup edges and markup at a crop's first
    and last character, next to the stream's separators."""
    import numpy as np

    from sparkocr.fastbatch import decode_canons_flat
    from sparkocr.recognize import canonicalize, recognize_crop

    raws = ["hello world!!", "..!!,,", "aa bb  cc", "", "x\ny..z",
            "日本語。。text", "\U0001F600 ok", "helo. wrd, hello!!!",
            "a" * 300 + "...",
            "<b>bold</b> text!!", "x.<i>y</i>,z", "\x1b[31mred\x1b[0m.",
            "<!-- c -->!", "!<b>!", "<1notag> stays text", "ends with <b>",
            "!starts after a tag crop", "<b>", "&lt;i&gt;minted&lt;/i&gt;!",
            "<!-- unclosed comment", "<script>x</script>..", "a <b\nc> d"]
    canons = [canonicalize(r, cfg.max_rec_lines) for r in raws]
    texts, confs = decode_canons_flat(canons, cfg)
    for c, t, f in zip(canons, texts, confs):
        want_t, want_f, _ = recognize_crop(c, cfg)
        assert t == want_t, ascii(c)
        assert np.float32(f).view(np.uint32) \
            == np.float32(want_f).view(np.uint32), ascii(c)
