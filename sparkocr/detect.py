"""Stage 1 — detection: locate content regions ("boxes") in a turn's text.

Pipeline (reference analog in parens, all /root/reference/src/det.rs):

1. build the line×column grid               (preprocess, det.rs:176-230)
2. per-line content score 0..255            (run_model's prob map, det.rs:232-349)
3. binarize at THRESHOLD=200, find per-line
   non-markup runs = external contours      (find_contours, det.rs:351-360)
4. bounding box, drop width/height<=5       (bounding_rect, det.rs:491-518)
5. border expansion, clamped                (find_box, det.rs:363-380)
6. optional transitive overlap merge        (merge_overlapping_boxes, det.rs:388-424)

Deviation from the reference geometry, by design: horizontal border
expansion clamps at the enclosing non-markup segment (markup characters
are background, not image), so crops never contain cut-open tags.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .config import (
    DEFAULT_CONFIG,
    EngineConfig,
    GLYPH_BOTTOM,
    GLYPH_TOP,
    LINE_HEIGHT,
    MARKUP_WEIGHT,
    MIN_BOX_SIZE,
    THRESHOLD,
    VERTICAL_CLOSENESS,
)
from .textgrid import (
    anchor_mask,
    codepoints,
    is_boiler_line,
    markup_mask,
    opaque_mask,
)


@dataclass(frozen=True)
class Box:
    """Axis-aligned region in grid coordinates (x = char column, y = grid
    sub-row). Same shape as imageproc Rect {left, top, width, height}."""

    left: int
    top: int
    width: int
    height: int

    @property
    def right(self) -> int:
        return self.left + self.width - 1

    @property
    def bottom(self) -> int:
        return self.top + self.height - 1


class TurnGrid:
    """The character grid of one text or of a batch of texts, as ONE
    character stream: each text, then one gap slot. ``TurnGrid(text)``
    is the one-text case (row 0); ``TurnGrid(texts)`` is the batch grid
    every batch caller builds once — no grid per row.

    - each text is folded first: \\r and \\f are line separators too,
      and same-length replacements keep char offsets identical to the
      original text. "\\r\\n" maps to " \\n" (trailing space, trimmed by
      the box bounds) — mapping it to "\\n\\n" would insert a phantom
      blank line per CRLF break and silently defeat vertical block
      merging for CRLF documents. A text is folded alone, so its
      trailing \\r never pairs with the gap.
    - the gap slot is "\\n": every row's last line ends like its inner
      lines, and no run, line or escape sequence crosses rows.
    - ``cp`` (codepoints), ``opq``/``mk``/``an`` (opaque, markup and
      anchor masks, see textgrid) cover the whole stream; the regexes
      run per row (``rows``), so no markup bridges two rows. ``mkb`` is
      ``mk`` as bytes, for ``crop_box``'s C-level markup probes.
    - line table: ``line_offsets[g]`` is where stream line ``g`` starts
      (its text ends one char before the next line's start; the last
      entry is the stream length), and row ``r``'s lines are
      ``line0[r]`` … ``line0[r + 1] - 1``. ``starts[r]`` is where row
      ``r`` starts (``starts[-1]`` is the stream length).

    Encoding raises on a lone surrogate, for the whole batch; batch
    callers keep such rows out (``no_surrogates``)."""

    __slots__ = ("text", "cp", "opq", "mk", "mkb", "an", "starts", "line0",
                 "line_offsets")

    def __init__(self, texts):
        if isinstance(texts, str):
            texts = [texts]
        text = "\n".join(texts) + "\n" if texts else ""
        if "\r" in text or "\f" in text:
            text = "\n".join([t.replace("\r\n", " \n").replace("\r", "\n")
                              .replace("\f", "\n") for t in texts]) + "\n"
        self.text = text
        lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
        self.starts = starts = np.zeros(len(texts) + 1, dtype=np.int64)
        np.cumsum(lens + 1, out=starts[1:])
        self.cp = cp = codepoints(text)
        rows = [(s, s + n) for s, n, t in zip(starts.tolist(), lens.tolist(),
                                              texts) if "<" in t] \
            if "<" in text else []
        self.opq = opaque_mask(text, rows)
        self.mk = markup_mask(text, self.opq, rows, cp)
        self.mkb = self.mk.tobytes()  # one byte per char, for crop_box
        self.an = anchor_mask(text, self.opq, rows)
        nl_pos = np.flatnonzero(cp == 10)
        self.line_offsets = [0] + (nl_pos + 1).tolist()
        self.line0 = np.searchsorted(nl_pos, starts).tolist()

    @property
    def lines(self) -> list[str]:
        """Every row's lines, in stream order (the one-text case: its
        lines)."""
        return self.text[:-1].split("\n")


def no_surrogates(t: str) -> bool:
    """True unless ``t`` holds a surrogate code unit, which makes the
    grid's UTF-32 encode raise (the per-turn path then returns an
    InferenceError row). ascii fast-gate first; the utf-16 probe is a C
    loop that raises on ANY surrogate code unit — lone or
    adjacent-paired (a str CAN hold '\\ud83d\\ude00' via surrogatepass
    round-trips; both shapes make the UTF-32 encode raise) — and passes
    astral-plane characters."""
    if t.isascii():
        return True
    try:
        t.encode("utf-16-le")
        return True
    except UnicodeEncodeError:
        return False


def _density_scores(
    line_id: np.ndarray,
    vis_ns: np.ndarray,
    mk: np.ndarray,
    an: np.ndarray,
    n_lines: int,
) -> np.ndarray:
    """THE single home of the per-line density formula (det.rs:342's
    ``(p*255).min(255) as u8`` analog):

        score = min(255, 255 * text_density * (1 - link_density))
        text_density = n_text / (n_text + MARKUP_WEIGHT * n_markup)
        link_density = n_anchor / max(n_text, 1)

    over per-line char counts bincounted from ``line_id``. ``an`` is
    the raw anchor mask; the visible-anchor intersection happens
    here."""
    n_text = np.bincount(line_id[vis_ns], minlength=n_lines).astype(np.float64)
    n_markup = np.bincount(line_id[mk], minlength=n_lines).astype(np.float64)
    n_anchor = np.bincount(line_id[an & vis_ns],
                           minlength=n_lines).astype(np.float64)
    text_density = np.divide(
        n_text, n_text + MARKUP_WEIGHT * n_markup,
        out=np.zeros(n_lines), where=n_text > 0,
    )
    link_density = np.divide(
        n_anchor, np.maximum(n_text, 1.0),
        out=np.zeros(n_lines), where=n_text > 0,
    )
    return np.minimum(
        text_density * (1.0 - link_density) * 255.0, 255.0
    ).astype(np.int64)


def _block_scores(grid: TurnGrid, r0: int, r1: int):
    """The probability map of rows ``r0 … r1-1``, one pass over their
    slice of the stream: ``(a, cp, mk, nl, line_id, score)`` — the
    slice's stream offset, its codepoints, markup and newline masks,
    each char's line (block-local; a newline or gap slot belongs to the
    line it ends) and each line's score in 0..255.

    score = 255 * text_density * (1 - link_density) (``_density_scores``),
    and layout boilerplate lines ([HEADER]/[FOOTER]/[PAGE n] markers)
    score 0. Every ``_BOILER_LINE_RE`` alternative needs a '[' or '='
    (``tests/test_detect.py`` pins gate↔regex agreement), so only
    positive lines holding one run the regex."""
    a, b = int(grid.starts[r0]), int(grid.starts[r1])
    l0 = grid.line0[r0]
    n_lines = grid.line0[r1] - l0
    cp, mk = grid.cp[a:b], grid.mk[a:b]
    nl = cp == 10
    # dtype=int64 keeps the accumulate single-dtype: numpy's buffered
    # bool→int64 cast INSIDE add.accumulate collapses under memory-bus
    # pressure (measured on a degraded-capacity box, 16M elements:
    # 45-700 ns/el vs a flat 5-7 ns/el for the same-dtype loop; the two
    # are equal when the box is healthy)
    line_id = np.cumsum(nl, dtype=np.int64) - nl
    vis_ns = ~mk & ~((cp == 9) | (cp == 32) | nl)
    score = _density_scores(line_id, vis_ns, mk, grid.an[a:b], n_lines)
    bracket = (cp == 0x5B) | (cp == 0x3D)   # '[' or '='
    has_bracket = np.bincount(line_id[bracket], minlength=n_lines) > 0
    offs, text = grid.line_offsets, grid.text
    for y in np.flatnonzero((score > 0) & has_bracket).tolist():
        g = l0 + y
        if is_boiler_line(text[offs[g]:offs[g + 1] - 1]):
            score[y] = 0
    return a, cp, mk, nl, line_id, score


def line_scores(grid: TurnGrid) -> np.ndarray:
    """Per-line content score in 0..255 — the probability map — for
    every line of ``grid`` (see ``_block_scores``)."""
    return _block_scores(grid, 0, len(grid.line0) - 1)[-1]


def find_text_boxes(
    grid: TurnGrid, config: EngineConfig = DEFAULT_CONFIG
) -> list[Box]:
    """Full detection of a one-text grid: grid → ordered list of boxes
    (find_text_rect, det.rs:121-132) — the one-row case of
    ``find_text_boxes_batch``."""
    return _find_text_boxes_block(grid, 0, 1, config)[0]


def find_text_boxes_batch(
    grid: TurnGrid, config: EngineConfig = DEFAULT_CONFIG
) -> list[list[Box]]:
    """Detection over every row of a batch grid: one list of boxes per
    row. Order = discovery order: top line first, left to right within
    a line (contour discovery order analog).

    One diff/searchsorted pass over the stream replaces a per-line
    segment loop, and one per-line bincount/divide pass scores every
    line (``_block_scores``):

    - ok = not markup, not newline, line score > THRESHOLD; newlines
      and gap slots break runs, so runs never cross lines or rows
    - per run, the visible-char trim becomes two searchsorteds into
      the visible-position index
    - width filter (c1-c0 without +1, det.rs:509-510), border expansion
      clamped at the run ends, and the +1 box construction
      (det.rs:375-376) are vectorized over all runs
    - ``_merge_ltrb`` (det.rs:388-424) runs per row

    Run order (ascending stream position) IS discovery order, so each
    row's box order is the per-text order by construction.

    Detection runs in row-aligned blocks of ``DETECT_CHUNK`` chars —
    rows are independent, so splitting the stream is result-identical;
    blocking keeps the ~12 stream-sized temporaries allocator-warm and
    cache-sized instead of paying a fresh first-touch mmap per batch
    (the same page-fault effect measured on the flat decode — see
    fastbatch.FLAT_DECODE_CHUNK). Document pages and the ``blocks``
    verb make streams of several MB."""
    n_rows = len(grid.line0) - 1
    out: list[list[Box]] = []
    r0 = 0
    while r0 < n_rows:
        r1 = int(np.searchsorted(grid.starts, grid.starts[r0] + DETECT_CHUNK,
                                 side="right")) - 1
        r1 = max(r1, r0 + 1)
        out.extend(_find_text_boxes_block(grid, r0, r1, config))
        r0 = r1
    return out


DETECT_CHUNK = 1 << 18  # chars per detection block (see docstring above)


def _find_text_boxes_block(
    grid: TurnGrid, r0: int, r1: int, config: EngineConfig = DEFAULT_CONFIG
) -> list[list[Box]]:
    """One detection block: the boxes of rows ``r0 … r1-1`` (see
    ``find_text_boxes_batch``)."""
    border = config.rect_border_size
    boxes_out: list[list[Box]] = [[] for _ in range(r0, r1)]
    a, cp, mk, nl, line_id, score = _block_scores(grid, r0, r1)
    ok_all = ~mk & ~nl & (score > THRESHOLD)[line_id]
    vis_all = ok_all & (cp != 0x20) & (cp != 0x09)
    # run edges alternate start, end: every change of ok_all, padded
    # with False on both sides
    padded = np.zeros(len(ok_all) + 2, dtype=bool)
    padded[1:-1] = ok_all
    edges = np.flatnonzero(padded[1:] != padded[:-1])
    starts, ends = edges[0::2], edges[1::2]
    vis_idx = np.flatnonzero(vis_all)
    lo = np.searchsorted(vis_idx, starts)
    hi = np.searchsorted(vis_idx, ends)
    keep = hi > lo                       # run has a visible char
    starts, ends, lo, hi = starts[keep], ends[keep], lo[keep], hi[keep]
    if not starts.size:
        return boxes_out  # no runs anywhere: every row stays []
    c0 = vis_idx[lo]
    c1 = vis_idx[hi - 1]
    keep = (c1 - c0) > MIN_BOX_SIZE
    starts, ends, c0, c1 = starts[keep], ends[keep], c0[keep], c1[keep]
    if not starts.size:
        return boxes_out
    left_g = np.maximum(c0 - border, starts)
    right_g = np.minimum(c1 + border, ends - 1)
    # Per-run geometry, vectorized. Runs never cross lines, so the
    # block line of a run's first visible char gives its row (rows'
    # first lines are ascending), the row-local line y, and the line's
    # start in the block (0, then every newline position + 1).
    row_l0 = np.array(grid.line0[r0:r1 + 1], dtype=np.int64) - grid.line0[r0]
    line_starts = np.concatenate(([0], np.flatnonzero(nl) + 1))
    y_blk = line_id[c0]
    row = np.searchsorted(row_l0, y_blk, side="right") - 1
    y = y_blk - row_l0[row]
    ls = line_starts[y_blk]
    tops = np.maximum(y * LINE_HEIGHT + GLYPH_TOP - border, 0)
    bottoms = np.minimum(y * LINE_HEIGHT + GLYPH_BOTTOM + border,
                         (row_l0[row + 1] - row_l0[row]) * LINE_HEIGHT - 1)
    l_l = (left_g - ls).tolist()               # row-coord left/right
    r_l = (right_g - ls).tolist()
    t_l = tops.tolist()
    b_l = bottoms.tolist()
    row_ids = np.arange(r1 - r0)
    run_lo = np.searchsorted(row, row_ids, side="left")
    run_hi = np.searchsorted(row, row_ids, side="right")
    for k in np.flatnonzero(run_hi > run_lo).tolist():
        a, b = int(run_lo[k]), int(run_hi[k])
        items = list(zip(l_l[a:b], t_l[a:b], r_l[a:b], b_l[a:b]))
        if config.merge_boxes and len(items) > 1:
            items = _merge_ltrb(items, config.merge_threshold)
        boxes_out[k] = [Box(l, t, r - l + 1, bb - t + 1)
                        for (l, t, r, bb) in items]
    return boxes_out


def boxes_overlap_with_threshold(a: Box, b: Box, threshold: int) -> bool:
    """Horizontal overlap within ±threshold AND vertical closeness within
    40% of the smaller height — verbatim predicate from det.rs:429-464."""
    a_left, a_right = a.left - threshold, a.right + threshold
    b_left, b_right = b.left - threshold, b.right + threshold
    horizontal = not (a_right < b_left or b_right < a_left)
    vt = int(min(a.height, b.height) * VERTICAL_CLOSENESS)
    if a.top <= b.top:
        vertical = a.bottom + vt >= b.top
    else:
        vertical = b.bottom + vt >= a.top
    return horizontal and vertical


def merge_boxes(a: Box, b: Box) -> Box:
    """Union of two boxes (det.rs:469-486)."""
    left = min(a.left, b.left)
    right = max(a.right, b.right)
    top = min(a.top, b.top)
    bottom = max(a.bottom, b.bottom)
    return Box(left, top, right - left + 1, bottom - top + 1)


def _merge_ltrb(queue: list[tuple], threshold: int) -> list[tuple]:
    """The transitive-merge fixpoint on plain ``(left, top, right,
    bottom)`` int tuples — the exact det.rs:388-424 algorithm (pop head,
    absorb every overlapping box, re-queue at the FRONT when anything
    merged so A∪B can still absorb C) with the overlap predicate
    (det.rs:429-464) and union (det.rs:469-486) inlined. Tuples instead
    of ``Box`` because the fixpoint is the one per-turn Python loop the
    batch path keeps: ``Box.right``/``Box.bottom`` property calls and
    frozen-dataclass construction dominated its profile (~1M property
    calls per 40k-turn batch)."""
    if len(queue) == 2:
        # two-box unrolling of the fixpoint (the dominant call shape):
        # merge → one box, nothing left to absorb; no merge → both
        # boxes in input order — exactly what the loop below produces
        (ml, mt, mr, mb), (l, t, r, b) = queue
        if mr + threshold >= l - threshold \
                and r + threshold >= ml - threshold:
            vt = int(min(mb - mt + 1, b - t + 1) * VERTICAL_CLOSENESS)
            if (mb + vt >= t) if mt <= t else (b + vt >= mt):
                return [(ml if ml < l else l, mt if mt < t else t,
                         mr if mr > r else r, mb if mb > b else b)]
        return queue
    result: list[tuple] = []
    while queue:
        ml, mt, mr, mb = queue.pop(0)
        merged_any = False
        i = 0
        while i < len(queue):
            l, t, r, b = queue[i]
            # horizontal overlap within ±threshold (both boxes expanded)
            if mr + threshold >= l - threshold \
                    and r + threshold >= ml - threshold:
                # vertical closeness within 40% of the smaller height
                vt = int(min(mb - mt + 1, b - t + 1) * VERTICAL_CLOSENESS)
                if (mb + vt >= t) if mt <= t else (b + vt >= mt):
                    if l < ml:
                        ml = l
                    if t < mt:
                        mt = t
                    if r > mr:
                        mr = r
                    if b > mb:
                        mb = b
                    queue.pop(i)
                    merged_any = True
                    continue
            i += 1
        if merged_any:
            queue.insert(0, (ml, mt, mr, mb))
        else:
            result.append((ml, mt, mr, mb))
    return result


def merge_overlapping_boxes(boxes: list[Box], threshold: int) -> list[Box]:
    """Iterative transitive merge, verbatim algorithm from det.rs:388-424
    (pop head, absorb every overlapping box, re-queue at the FRONT when
    anything merged so A∪B can still absorb C). The fixpoint itself runs
    on (l, t, r, b) tuples (``_merge_ltrb``); this wrapper owns the
    Box↔tuple conversion for per-turn callers."""
    if len(boxes) <= 1:
        # nothing can overlap; the fixpoint would return the same list
        # after one pop/append — ~1.3 boxes/turn on transcript corpora
        # makes this the dominant call shape
        return list(boxes)
    merged = _merge_ltrb(
        [(b.left, b.top, b.left + b.width - 1, b.top + b.height - 1)
         for b in boxes],
        threshold,
    )
    return [Box(l, t, r - l + 1, b - t + 1) for (l, t, r, b) in merged]


def _span(grid: TurnGrid, box: Box, row: int):
    """``(base, y0, y1, start, end)``: row ``row``'s stream offset, the
    box's first and last stream lines (clamped to the row's last line)
    and its half-open char span in the row's text. THE single home of
    the span arithmetic: ``box_span`` returns it, ``crop_box`` crops
    it, so the property suite's box_span == crop_box offsets holds by
    construction.

    Clamping: for merged multi-line boxes whose LAST line is shorter
    than the widest line, box.right+1 must clamp to that line's length
    or the span would bleed past the line break (and past len(text) on
    the final line) and disagree with extract's spans for the same
    box."""
    offs = grid.line_offsets
    l0 = grid.line0[row]
    last = grid.line0[row + 1] - 1
    y0 = min(l0 + box.top // LINE_HEIGHT, last)
    y1 = min(l0 + box.bottom // LINE_HEIGHT, last)
    base = offs[l0]
    o0, o1 = offs[y0], offs[y1]
    start = o0 + min(box.left, offs[y0 + 1] - 1 - o0) - base
    end = o1 + min(box.left + box.width, offs[y1 + 1] - 1 - o1) - base
    return base, y0, y1, start, end


def box_span(grid: TurnGrid, box: Box, row: int = 0) -> tuple[int, int]:
    """Half-open char span of a box in row ``row``'s original text —
    the offsets crop_box computes, WITHOUT materializing the crop string
    (the cheap path for detection-only queries like GetTextRects)."""
    return _span(grid, box, row)[3:]


def crop_box(grid: TurnGrid, box: Box, row: int = 0) -> tuple[str, int, int]:
    """Extract a box's text from row ``row`` of the grid (find_text_img
    / crop_imm analog, det.rs:137-152), read straight from the stream.

    Markup characters inside the crop window are blanked to spaces (they
    are background pixels); lines joined by \n. Returns
    (crop_text, span_start, span_end) with char offsets into the row's
    original text (half-open)."""
    offs, text, mkb = grid.line_offsets, grid.text, grid.mkb
    base, y0, y1, span_start, span_end = _span(grid, box, row)
    left, b_right = box.left, box.left + box.width
    parts = []
    if mkb.find(1, base + span_start, base + span_end) < 0:
        # markup-free span (the dominant shape — detection runs exclude
        # markup chars, so a crop only carries markup pulled in by the
        # border or a vertical merge): nothing to blank anywhere
        if left == 0 and all(offs[y + 1] - 1 - offs[y] <= b_right
                             for y in range(y0, y1 + 1)):
            # full-width too: every covered line's clamp is [0, len],
            # so the per-line slice+join IS the contiguous text
            # substring — one slice
            return (text[base + span_start:base + span_end],
                    span_start, span_end)
        for y in range(y0, y1 + 1):
            o, n = offs[y], offs[y + 1] - 1 - offs[y]
            parts.append(text[o + min(left, n):o + min(b_right, n)])
        return "\n".join(parts), span_start, span_end
    for y in range(y0, y1 + 1):
        o, n = offs[y], offs[y + 1] - 1 - offs[y]
        a, b = o + min(left, n), o + min(b_right, n)
        if mkb.find(1, a, b) < 0:
            # nothing to blank (or an empty clamp): the crop is a plain
            # slice of the line — skip the copy/fancy-index/UTF-32
            # round-trip for the common shape
            parts.append(text[a:b])
            continue
        seg = grid.cp[a:b].copy()
        seg[grid.mk[a:b]] = 32
        parts.append(seg.tobytes().decode("utf-32-le"))
    return "\n".join(parts), span_start, span_end
