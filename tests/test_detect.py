"""Operator-level unit tests for the detection stage (SURVEY.md §2.2:
D1-D10). Constants and edge-case semantics are pinned to the reference:
THRESHOLD=200, MIN_BOX_SIZE=5 (exclusive), border expansion with +1
width/height, transitive merge with re-queue."""

from sparkocr.config import (
    DEFAULT_CONFIG,
    EngineConfig,
    GLYPH_BOTTOM,
    GLYPH_TOP,
    LINE_HEIGHT,
)
from sparkocr.detect import (
    Box,
    TurnGrid,
    boxes_overlap_with_threshold,
    crop_box,
    find_text_boxes,
    line_scores,
    merge_boxes,
    merge_overlapping_boxes,
)

NOMERGE = EngineConfig(rect_border_size=0, merge_boxes=False)


def boxes(text, cfg=NOMERGE):
    return find_text_boxes(TurnGrid(text), cfg)


# --- D3: line scoring ----------------------------------------------------

def test_pure_text_line_scores_255():
    g = TurnGrid("hello world this is content")
    assert line_scores(g).tolist() == [255]


def test_nav_line_scores_zero_via_link_density():
    g = TurnGrid('<a href="/x">Home</a> <a href="/y">Docs</a>')
    # all visible text is anchor text → link_density 1 → score 0
    assert line_scores(g).tolist() == [0]


def test_markup_heavy_line_below_threshold():
    # text_density = 5 / (5 + 0.25*24) = 0.4545… → score 115 ≤ 200
    g = TurnGrid("<div class='verylongclass'>hello</div>"[:])
    s = line_scores(g)
    assert s[0] <= 200


def test_inline_tag_keeps_prose_line_on():
    # one small tag must not sink a prose line (MARKUP_WEIGHT=0.25)
    g = TurnGrid("The quick <b>brown</b> fox jumps over the lazy dog again")
    assert line_scores(g)[0] > 200


def test_boilerplate_markers_score_zero():
    for ln in ("[HEADER] Confidential", "[FOOTER] page 1", "[PAGE 3]",
               "=== PAGE 2 ==="):
        assert line_scores(TurnGrid(ln)).tolist() == [0], ln


# --- D4/D5: runs + min-size filter --------------------------------------

def test_min_box_size_filter_boundary():
    # width = len-1 must be > 5 → 6-char run dropped, 7-char run kept
    assert boxes("abcdef") == []
    bs = boxes("abcdefg")
    assert len(bs) == 1
    assert (bs[0].left, bs[0].width) == (0, 7)


def test_empty_and_whitespace_only():
    assert boxes("") == []
    assert boxes("   \n  \t ") == []
    assert boxes("<div><span></span></div>") == []


def test_runs_split_at_markup():
    bs = boxes("leftcontent<br>rightcontent")
    assert len(bs) == 2
    assert (bs[0].left, bs[0].width) == (0, 11)
    assert (bs[1].left, bs[1].width) == (15, 12)


def test_run_trims_whitespace_but_bridges_words():
    bs = boxes("  hello brave world  ")
    assert len(bs) == 1
    assert (bs[0].left, bs[0].width) == (2, 17)  # "hello brave world"


# --- D6: border expansion ------------------------------------------------

def test_border_expansion_clamped_to_segment_and_grid():
    cfg = EngineConfig(rect_border_size=12, merge_boxes=False)
    bs = find_text_boxes(TurnGrid("  hello brave world  "), cfg)
    assert len(bs) == 1
    b = bs[0]
    # x: run [2,18] grows by 12 but clamps at segment bounds [0,20]
    assert (b.left, b.right) == (0, 20)
    # y: glyph band [16,31] grows by 12 within the line band
    assert (b.top, b.bottom) == (GLYPH_TOP - 12, GLYPH_BOTTOM + 12)
    # +1 semantics (det.rs:375-376)
    assert b.width == 21 and b.height == 40


def test_border_does_not_cross_markup():
    cfg = EngineConfig(rect_border_size=12, merge_boxes=False)
    bs = find_text_boxes(TurnGrid("abcdefgh<b>ijklmnopq</b>"), cfg)
    assert len(bs) == 2
    assert (bs[0].left, bs[0].right) == (0, 7)       # clamped at <b>
    assert (bs[1].left, bs[1].right) == (11, 19)     # clamped at tags


# --- D8/D9/D10: merge ----------------------------------------------------

def _b(left, top, right, bottom):
    return Box(left, top, right - left + 1, bottom - top + 1)


def test_overlap_predicate_horizontal_threshold():
    # both boxes expand by t, so threshold 1 bridges gaps up to 2 columns
    a = _b(0, 0, 10, 15)
    b = _b(12, 0, 20, 15)   # gap of 1 col (11) → bridged
    assert boxes_overlap_with_threshold(a, b, 1)
    c = _b(13, 0, 20, 15)   # gap of 2 cols (11,12): 11 < 12 → not bridged
    assert not boxes_overlap_with_threshold(a, c, 1)


def test_overlap_predicate_vertical_closeness():
    # heights 16 → vt = int(16*0.4) = 6
    a = _b(0, 0, 20, 15)
    assert boxes_overlap_with_threshold(a, _b(0, 21, 20, 36), 1)   # 15+6 >= 21
    assert not boxes_overlap_with_threshold(a, _b(0, 22, 20, 37), 1)


def test_merge_boxes_union():
    m = merge_boxes(_b(5, 0, 10, 15), _b(0, 10, 7, 30))
    assert (m.left, m.top, m.right, m.bottom) == (0, 0, 10, 30)


def test_transitive_merge_chain():
    # A overlaps B, merged AB then overlaps C (det.rs:413-416 re-queue)
    a = _b(0, 0, 10, 15)
    b = _b(9, 12, 30, 27)
    c = _b(28, 24, 40, 39)
    out = merge_overlapping_boxes([a, b, c], 1)
    assert len(out) == 1
    m = out[0]
    assert (m.left, m.top, m.right, m.bottom) == (0, 0, 40, 39)


def test_merge_keeps_disjoint_boxes_in_order():
    a = _b(0, 0, 10, 15)
    z = _b(0, 200, 10, 215)
    assert merge_overlapping_boxes([a, z], 1) == [a, z]


def test_adjacent_lines_merge_into_paragraph():
    cfg = EngineConfig(rect_border_size=10, merge_boxes=True, merge_threshold=1)
    bs = find_text_boxes(TurnGrid("first line of paragraph\nsecond line here"), cfg)
    assert len(bs) == 1
    # blank line breaks the paragraph
    bs2 = find_text_boxes(
        TurnGrid("first line of paragraph\n\nsecond paragraph here"), cfg
    )
    assert len(bs2) == 2


# --- C1: crop ------------------------------------------------------------

def test_crop_single_line_span_offsets():
    g = TurnGrid("  hello brave world  ")
    bs = find_text_boxes(g, NOMERGE)
    crop, start, end = crop_box(g, bs[0])
    assert crop == "hello brave world"
    assert (start, end) == (2, 19)
    assert g.text[start:end] == "hello brave world"


def test_crop_multiline_blanks_markup():
    cfg = EngineConfig(rect_border_size=10, merge_boxes=True, merge_threshold=1)
    g = TurnGrid("alpha beta gamma delta\nepsilon <b>zeta</b> etaeta")
    bs = find_text_boxes(g, cfg)
    assert len(bs) == 1
    crop, start, end = crop_box(g, bs[0])
    # markup chars inside the crop window blanked to spaces
    assert "<b>" not in crop and "zeta" in crop
    assert crop.split("\n")[0].strip() == "alpha beta gamma delta"


def test_crop_formfeed_and_cr_are_line_breaks():
    g = TurnGrid("pagecontent one\fpagecontent two")
    assert len(g.lines) == 2
    assert g.text[15] == "\n"


def test_config_builder_parity():
    """Fluent builder setters mirror Det/Rec builders (det.rs:97-116,
    rec.rs:131-141): chainable, frozen, value-preserving."""
    from sparkocr.config import DEFAULT_CONFIG

    cfg = (
        DEFAULT_CONFIG.with_rect_border_size(12)
        .with_merge_boxes(False)
        .with_merge_threshold(3)
        .with_min_score(0.7)
        .with_punct_min_score(0.2)
    )
    assert (cfg.rect_border_size, cfg.merge_boxes, cfg.merge_threshold,
            cfg.min_score, cfg.punct_min_score) == (12, False, 3, 0.7, 0.2)
    assert DEFAULT_CONFIG.rect_border_size == 10  # original untouched


# --- box_span / crop_box span agreement (round-2 review fix) -------------

def test_box_span_clamps_to_short_last_line():
    """Merged multi-line box whose LAST line is shorter than the widest
    line: the span end must clamp to that line's length (review finding:
    unclamped right+1 bled past len(text))."""
    from sparkocr.detect import box_span

    text = "aaaa bbbb cccc dddd aaaa\nzzzz yyy"
    grid = TurnGrid(text)
    bxs = find_text_boxes(grid, EngineConfig(rect_border_size=12,
                                             merge_boxes=True))
    assert len(bxs) == 1
    crop, start, end = crop_box(grid, bxs[0])
    assert (start, end) == (0, 33)
    assert (start, end) == box_span(grid, bxs[0])
    assert end <= len(text)


def test_box_span_matches_crop_box_on_ragged_inputs():
    """box_span must equal crop_box's offsets for every detected box on
    ragged multi-line inputs (the cheap path and the materializing path
    can never disagree)."""
    from sparkocr.detect import box_span

    cases = [
        "short\nmuch longer line of prose here\nmid",
        "wide wide wide wide wide\nx\nwide wide wide wide wide",
        "a line of text\n\n\nanother line down here\ntiny",
        "prose first line here\nsecond much longer prose line going on\nend.",
    ]
    for text in cases:
        grid = TurnGrid(text)
        for cfg in (NOMERGE, EngineConfig(rect_border_size=12, merge_boxes=True)):
            for b in find_text_boxes(grid, cfg):
                _, start, end = crop_box(grid, b)
                assert box_span(grid, b) == (start, end), (text, b)


def test_commented_out_script_opener_does_not_mask_to_eof():
    """A <script> opener inside an HTML comment is inert text: honoring
    it would extend the unclosed-script fallback mask over the rest of
    the turn and drop all real content after the comment (review
    finding). Comments mask BEFORE script, as the textgrid header
    promises."""
    from sparkocr.textgrid import opaque_mask

    text = ("<!-- <script src=x> --> Visible paragraph of real content "
            "that is long enough to outweigh the markup on this line.")
    mask = opaque_mask(text)
    vis = text.index(" Visible")
    assert mask[: text.index("-->") + 3].all()      # the comment itself
    assert not mask[vis:].any()                     # content survives

    # a REAL unclosed script still masks to end-of-text
    m2 = opaque_mask("<script>var x=1; no closer. tail text")
    assert m2.all()

    from sparkocr import extract_turn, FLAGSHIP_CONFIG

    r = extract_turn(text, FLAGSHIP_CONFIG)
    assert "Visible paragraph of real content" in r.full_text


def test_find_text_boxes_batch_matches_per_grid():
    """The batched detector (one diff/searchsorted pass over a batch
    grid) must return EXACTLY find_text_boxes' boxes for every row —
    including single-line rows (the fast path's documented equivalence
    with the general path), markup, ANSI, form-feed docs, boiler lines,
    and empty/whitespace rows."""
    from sparkocr.config import DEFAULT_CONFIG, EngineConfig
    from sparkocr.detect import (TurnGrid, find_text_boxes,
                                 find_text_boxes_batch)
    from sparkocr.fixtures import turns_pandas

    texts = [t for t in turns_pandas(seed=3, n_convs=10)["text"]
             if isinstance(t, str)]
    texts += [
        "", "   ", "one line", "a\nb\nc", "[PAGE 1]", "=== PAGE 2 ===",
        "<b>tag</b> line\nplain second line",
        "page one\fpage two\fpage three",
        "nav <a href=x>link</a> body",
        "\x1b[31mred\x1b[0m",
    ]
    for cfg in (DEFAULT_CONFIG, EngineConfig(merge_boxes=False),
                EngineConfig(rect_border_size=0)):
        got = find_text_boxes_batch(TurnGrid(texts), cfg)
        for t, bs in zip(texts, got):
            assert bs == find_text_boxes(TurnGrid(t), cfg)


# --- late-round-4 fast-path branches (byte-identity pins) ------------------


def test_crop_box_fullwidth_fast_path_matches_slow_path():
    """The full-width single-slice return of crop_box must equal the
    per-line clamp+join on shapes that straddle the gate: trailing
    whitespace (right+1 < len(ln) on some line), ragged line lengths,
    markup pulled into the span by a vertical merge, and empty interior
    lines."""
    from sparkocr.detect import find_text_boxes

    cases = [
        "full width line one\nand a second full line",      # fast path
        "trailing spaces here   \nsecond line",              # not full-width
        "short\nmuch longer second line than one",           # ragged
        "para one\n\npara two after a blank line",           # empty interior
        "<b>lead</b> markup then text\nplain second line",   # markup in span
        "  indented first\n    deeper second",               # left > 0
    ]
    for cfg in (DEFAULT_CONFIG, EngineConfig(rect_border_size=0),
                EngineConfig(merge_boxes=False)):
        for t in cases:
            grid = TurnGrid(t)
            for box in find_text_boxes(grid, cfg):
                crop, s, e = crop_box(grid, box)
                # reference: the original per-line clamp+join, verbatim
                y0 = min(box.top // LINE_HEIGHT, len(grid.lines) - 1)
                y1 = min(box.bottom // LINE_HEIGHT, len(grid.lines) - 1)
                parts = []
                for y in range(y0, y1 + 1):
                    ln = grid.lines[y]
                    off = grid.line_offsets[y]
                    a = min(box.left, len(ln))
                    b = min(box.right + 1, len(ln))
                    if b <= a:
                        parts.append("")
                        continue
                    seg = grid.cp[off + a: off + b].copy()
                    seg[grid.mk[off + a: off + b]] = 32
                    parts.append(seg.tobytes().decode("utf-32-le"))
                assert crop == "\n".join(parts)


def test_merge_two_box_unroll_matches_fixpoint():
    """_merge_ltrb's two-box unroll must agree with the general fixpoint
    on merging and non-merging pairs in both input orders."""
    from sparkocr.detect import _merge_ltrb

    pairs = [
        [(0, 2, 10, 12), (3, 18, 12, 28)],    # vertical neighbors: merge
        [(0, 2, 10, 12), (0, 200, 10, 210)],  # far apart: keep both
        [(0, 2, 10, 12), (40, 2, 55, 12)],    # same line, far right: keep
        [(0, 2, 10, 12), (11, 2, 20, 12)],    # within threshold: merge
    ]
    for pair in pairs:
        for queue in (list(pair), list(reversed(pair))):
            got = _merge_ltrb(list(queue), 1)
            # reference: force the general path by appending a sentinel
            # far outside any overlap, then dropping it
            sentinel = (10_000, 10_000, 10_010, 10_010)
            ref = _merge_ltrb(list(queue) + [sentinel], 1)
            assert sentinel in ref
            ref.remove(sentinel)
            assert got == ref


def test_batched_boiler_gate_spans_grids():
    """Boiler zeroing in the batched detector is vectorized over the
    global char stream; bracket-bearing boiler lines must still score
    zero when they sit in different rows of one batch grid (and bracket
    lookalikes must stay on)."""
    from sparkocr.detect import find_text_boxes, find_text_boxes_batch

    texts = [
        "[PAGE 3]\nreal content line here",
        "=== PAGE 9 ===\nmore real content",
        "[not boiler but bracketed] stays on",
        "x = y + z is fine too",
        "[HEADER] masthead\nbody line survives",
    ]
    got = find_text_boxes_batch(TurnGrid(texts), DEFAULT_CONFIG)
    for t, bs in zip(texts, got):
        assert bs == find_text_boxes(TurnGrid(t), DEFAULT_CONFIG)


def test_boiler_gate_chars_cover_the_regex():
    """The '['/'=' pre-filter (scalar in _zero_boiler_lines, char codes
    0x5B/0x3D in the batched detector) must never skip a line the
    boiler regex would match: is_boiler_line(ln) implies '[' or '='
    in ln. Pinned structurally on every regex alternative's
    representative, then fuzzed over the regex's own alphabet."""
    import random
    import string

    from sparkocr.textgrid import is_boiler_line

    for ln in ["[HEADER] x", "  [footer] y", "[PAGE 3]",
               "=== PAGE 12 ===", "\t===page 1===  "]:
        assert is_boiler_line(ln)
        assert "[" in ln or "=" in ln
        # stripping the gate chars must also kill the match — the gate
        # is exact, not merely conservative, on these shapes
        stripped = ln.replace("[", "").replace("]", "").replace("=", "")
        assert not is_boiler_line(stripped)

    rng = random.Random(7)
    alphabet = string.ascii_letters + string.digits + " \t[]=PAGEheaderfooter"
    for _ in range(20000):
        ln = "".join(rng.choice(alphabet)
                     for _ in range(rng.randint(0, 24)))
        if is_boiler_line(ln):
            assert "[" in ln or "=" in ln
