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
from .textgrid import anchor_mask, codepoints, is_boiler_line, markup_mask, opaque_mask


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
    """Parsed grid for one turn's text: lines, offsets, markup mask."""

    __slots__ = ("text", "lines", "line_offsets", "cp", "mk", "opq", "grid_h")

    def __init__(self, text: str):
        # \r and \f are line separators too; same-length replacements keep
        # char offsets identical to the original text. "\r\n" maps to
        # " \n" (trailing space, trimmed by the box bounds) — mapping it
        # to "\n\n" would insert a phantom blank line per CRLF break and
        # silently defeat vertical block merging for CRLF documents.
        self.text = (text.replace("\r\n", " \n")
                     .replace("\r", "\n").replace("\f", "\n"))
        self.lines = self.text.split("\n")
        offs, pos = [], 0
        for ln in self.lines:
            offs.append(pos)
            pos += len(ln) + 1
        self.line_offsets = offs
        self.cp = codepoints(self.text)
        self.opq = opaque_mask(self.text)
        self.mk = markup_mask(self.text, self.opq)
        self.grid_h = len(self.lines) * LINE_HEIGHT


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

    over per-line char counts bincounted from ``line_id``. Both scorers
    — the per-grid :func:`line_scores` and the batched
    ``_find_text_boxes_block`` (which feeds it one concatenated
    gap-joined stream) — call this helper, so an edit to the scoring
    semantics lands in both by construction. ``an`` is the raw anchor
    mask; the visible-anchor intersection happens here."""
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


def _zero_boiler_lines(score: np.ndarray, lines) -> np.ndarray:
    """Boiler-line tail of the scorer: [HEADER]/[FOOTER]/[PAGE n] marker
    lines score 0. The '['/'=' substring test is an exact fast gate —
    every ``_BOILER_LINE_RE`` alternative requires one of the two (the
    batched detector applies the same gate vectorized over char codes
    0x5B/0x3D; ``tests/test_detect.py`` pins gate↔regex agreement)."""
    for y, ln in enumerate(lines):
        if score[y] > 0 and ("[" in ln or "=" in ln) and is_boiler_line(ln):
            score[y] = 0
    return score


def line_scores(grid: TurnGrid) -> np.ndarray:
    """Per-line content score in 0..255 — the probability map.

    score = 255 * text_density * (1 - link_density), truncated like the
    reference's ``(p*255).min(255) as u8`` (det.rs:342), where
    text_density = text_chars / (text_chars + MARKUP_WEIGHT*markup_chars)
    and link_density = anchor text chars / text chars. Layout boilerplate
    lines ([HEADER]/[FOOTER]/[PAGE n] markers) score 0.
    """
    n_lines = len(grid.lines)
    cp, mk = grid.cp, grid.mk
    if len(cp) == 0:
        return np.zeros(n_lines, dtype=np.int64)
    nl = cp == 10
    # newline char belongs to the line it ends
    # dtype=int64 keeps the accumulate single-dtype: numpy's buffered
    # bool→int64 cast INSIDE add.accumulate collapses under memory-bus
    # pressure (measured on this box's degraded-capacity state, 16M
    # elements: 45-700 ns/el vs a flat 5-7 ns/el for the same-dtype
    # loop; the two are equal when the box is healthy). Explicit dtype
    # makes the cost state-independent — on a 32-thread executor node
    # the bus pressure is the NORMAL state.
    line_id = np.cumsum(nl, dtype=np.int64) - nl
    ws = (cp == 9) | (cp == 32) | nl
    vis_ns = ~mk & ~ws
    an = anchor_mask(grid.text, grid.opq)
    score = _density_scores(line_id, vis_ns, mk, an, n_lines)
    return _zero_boiler_lines(score, grid.lines)


def find_text_boxes(
    grid: TurnGrid, config: EngineConfig = DEFAULT_CONFIG
) -> list[Box]:
    """Full detection: grid → ordered list of boxes (find_text_rect,
    det.rs:121-132). Order = discovery order: top line first, left to
    right within a line (contour discovery order analog).

    Deliberately a per-ON-line loop, not a whole-grid vectorization: a
    measured global diff/searchsorted variant was ~20% SLOWER on real
    transcript turns (short texts — the fixed cost of full-array passes
    exceeds the loop it saves; only lines above threshold do any work
    here)."""
    scores = line_scores(grid)
    on = scores > THRESHOLD
    border = config.rect_border_size
    boxes: list[Box] = []
    for y in np.flatnonzero(on):
        ls = grid.line_offsets[y]
        le = ls + len(grid.lines[y])
        if le <= ls:
            continue
        seg_ok = ~grid.mk[ls:le]
        d = np.diff(np.concatenate(([0], seg_ok.astype(np.int8), [0])))
        starts = np.flatnonzero(d == 1)
        ends = np.flatnonzero(d == -1)
        seg_cp = grid.cp[ls:le]
        ws = (seg_cp == 9) | (seg_cp == 32)
        for s, e in zip(starts, ends):
            nz = np.flatnonzero(~ws[s:e])
            if nz.size == 0:
                continue
            c0 = int(s + nz[0])
            c1 = int(s + nz[-1])
            # width without +1, mirroring bounding_rect (det.rs:509-510);
            # glyph height is constant 15 so only width can fail the filter
            if c1 - c0 <= MIN_BOX_SIZE:
                continue
            left = max(c0 - border, int(s))
            right = min(c1 + border, int(e) - 1)
            top = max(int(y) * LINE_HEIGHT + GLYPH_TOP - border, 0)
            bottom = min(int(y) * LINE_HEIGHT + GLYPH_BOTTOM + border, grid.grid_h - 1)
            # +1 here, mirroring find_box (det.rs:375-376)
            boxes.append(Box(left, top, right - left + 1, bottom - top + 1))
    if config.merge_boxes:
        boxes = merge_overlapping_boxes(boxes, config.merge_threshold)
    return boxes


def find_text_boxes_batch(
    grids: list[TurnGrid], config: EngineConfig = DEFAULT_CONFIG
) -> list[list[Box]]:
    """``find_text_boxes`` over MANY grids with the per-ON-line segment
    loop (the measured hot spot on multi-line/markup input — three
    ``flatnonzero`` calls per line) replaced by ONE diff/searchsorted
    pass over all grids' concatenated character arrays, and the
    per-grid ``line_scores`` call replaced by ONE global per-line
    bincount/divide pass over the same concatenation (the same
    ``_density_scores`` formula; the boiler-line tail runs per line
    verbatim). Semantics are the general path exactly —
    ``merge_overlapping_boxes`` is still called per grid, and the run
    arithmetic mirrors the per-line code:

    - ok = not markup, not newline, line score > THRESHOLD; a one-slot
      False gap between grids keeps runs from bridging grids (newlines
      already break runs within a grid, so runs never cross lines)
    - per run, the visible-char trim (per-line ``nz``) becomes two
      searchsorteds into the global visible-position index
    - width filter (c1-c0 without +1, det.rs:509-510), border
      expansion clamped at the run ends, and the +1 box construction
      (det.rs:375-376) are vectorized over all runs

    Run order (ascending global position) IS discovery order (top line
    first, left to right within a line), so per-grid box order matches
    ``find_text_boxes`` by construction. Differential-tested against
    the per-grid function by the fastbatch and layout suites.

    Detection runs in grid-aligned blocks of ``DETECT_CHUNK`` chars —
    grids are independent, so splitting the batch is result-identical;
    blocking keeps the ~12 stream-sized temporaries allocator-warm and
    cache-sized instead of paying a fresh first-touch mmap per batch
    (the same page-fault effect measured on the flat decode — see
    fastbatch.FLAT_DECODE_CHUNK)."""
    total = sum(len(g.cp) for g in grids)
    if total <= DETECT_CHUNK:
        return _find_text_boxes_block(grids, config)
    out: list[list[Box]] = []
    i, k = 0, len(grids)
    while i < k:
        j, acc = i, 0
        while j < k and (acc == 0 or acc + len(grids[j].cp) <= DETECT_CHUNK):
            acc += len(grids[j].cp)
            j += 1
        out.extend(_find_text_boxes_block(grids[i:j], config))
        i = j
    return out


DETECT_CHUNK = 1 << 18  # chars per detection block (see docstring above)


def _find_text_boxes_block(
    grids: list[TurnGrid], config: EngineConfig = DEFAULT_CONFIG
) -> list[list[Box]]:
    """One detection block: the whole-stream pass of
    ``find_text_boxes_batch`` over a grid-aligned slice."""
    border = config.rect_border_size
    boxes_out: list[list[Box]] = [[] for _ in grids]
    if not grids:
        return boxes_out
    # Global character arrays: every grid contributes its chars plus ONE
    # gap slot marked as a newline, so line segmentation ("newline
    # belongs to the line it ends") closes each grid's final line and
    # run detection cannot bridge grids. Line SCORING then runs once
    # over the concatenation — per-line bincounts/divides replace a
    # line_scores call per grid (the measured per-grid overhead on
    # short transcript turns).
    gap_cp = np.full(1, 10, dtype=np.uint32)
    gap_b = np.zeros(1, dtype=bool)
    cp_parts: list[np.ndarray] = []
    mk_parts: list[np.ndarray] = []
    an_parts: list[np.ndarray] = []
    for grid in grids:
        cp_parts.append(grid.cp)
        cp_parts.append(gap_cp)
        mk_parts.append(grid.mk)
        mk_parts.append(gap_b)
        an_parts.append(anchor_mask(grid.text, grid.opq))
        an_parts.append(gap_b)
    cp_all = np.concatenate(cp_parts)
    mk_all = np.concatenate(mk_parts)
    an_all = np.concatenate(an_parts)
    nl = cp_all == 10
    # explicit dtype: see line_scores — a bool-input accumulate pays a
    # buffered per-element cast that collapses under memory-bus
    # pressure (13.9 s of a 26.5 s profile on a 39k-grid batch in the
    # box's degraded state; equal-cost when healthy)
    line_id = np.cumsum(nl, dtype=np.int64) - nl
    ws = (cp_all == 9) | (cp_all == 32) | nl
    vis_ns = ~mk_all & ~ws
    n_lines_total = sum(len(g.lines) for g in grids)
    score = _density_scores(line_id, vis_ns, mk_all, an_all, n_lines_total)
    # boiler-line zeroing — the exact _zero_boiler_lines tail. The
    # per-line Python sweep (score>0 + two substring scans per line) is
    # replaced by its vectorized equivalent: the '['/'=' gate comes
    # from the already-built global char stream (a bracket char is
    # never a newline, so per-line bincount over line_id sees exactly
    # the chars the per-line `in` scans saw), and only the surviving
    # candidate lines run the verbatim is_boiler_line regex.
    lines_per_grid = np.fromiter((len(g.lines) for g in grids),
                                 dtype=np.int64, count=len(grids))
    grid_line_base = np.concatenate(([0], np.cumsum(lines_per_grid)[:-1]))
    bracket = (cp_all == 0x5B) | (cp_all == 0x3D)   # '[' or '='
    has_bracket = np.bincount(line_id[bracket],
                              minlength=n_lines_total) > 0
    cand = np.flatnonzero((score > 0) & has_bracket)
    if cand.size:
        cand_g = np.searchsorted(grid_line_base, cand, side="right") - 1
        cand_y = cand - grid_line_base[cand_g]
        for gl, g, y in zip(cand.tolist(), cand_g.tolist(),
                            cand_y.tolist()):
            if is_boiler_line(grids[g].lines[y]):
                score[gl] = 0
    on_line = score > THRESHOLD
    ok_all = ~mk_all & ~nl & on_line[line_id]
    vis_all = ok_all & (cp_all != 0x20) & (cp_all != 0x09)
    sizes = np.fromiter((len(g.cp) + 1 for g in grids),
                        dtype=np.int64, count=len(grids))
    bases = np.concatenate(([0], np.cumsum(sizes)[:-1]))

    d = np.diff(ok_all.astype(np.int8), prepend=np.int8(0),
                append=np.int8(0))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    vis_idx = np.flatnonzero(vis_all)
    lo = np.searchsorted(vis_idx, starts)
    hi = np.searchsorted(vis_idx, ends)
    keep = hi > lo                       # run has a visible char
    starts, ends, lo, hi = starts[keep], ends[keep], lo[keep], hi[keep]
    if starts.size:
        c0 = vis_idx[lo]
        c1 = vis_idx[hi - 1]
        keep = (c1 - c0) > MIN_BOX_SIZE
        starts, ends, c0, c1 = starts[keep], ends[keep], c0[keep], c1[keep]
    else:
        c0 = c1 = starts
    g_of = np.searchsorted(bases, starts, side="right") - 1
    left_g = np.maximum(c0 - border, starts)
    right_g = np.minimum(c1 + border, ends - 1)

    if not len(starts):
        return boxes_out  # no runs anywhere: every grid stays []
    # Per-run geometry, vectorized (this was a per-run Python loop with
    # a bisect and a Box construction per run — 240k Box.__init__ on a
    # 40k-grid batch). Runs never cross lines, so the global line index
    # of a run's first visible char supplies both the grid-local line
    # (minus the grid's first line) and the line's global text start
    # (global line starts = 0 plus every newline position + 1 — gap
    # slots included, consistent with line_id's numbering). The
    # original's ``min(bisect-1, last)`` clamp needs no analog: c0 is a
    # visible char inside its grid, so its line is always in range.
    line_starts = np.concatenate(([0], np.flatnonzero(nl) + 1))
    y_glob = line_id[c0]
    y = y_glob - grid_line_base[g_of]          # grid-local line of run
    ls = line_starts[y_glob]                   # global offset of line
    tops = np.maximum(y * LINE_HEIGHT + GLYPH_TOP - border, 0)
    bottoms = np.minimum(y * LINE_HEIGHT + GLYPH_BOTTOM + border,
                         lines_per_grid[g_of] * LINE_HEIGHT - 1)
    l_l = (left_g - ls).tolist()               # grid-coord left/right:
    r_l = (right_g - ls).tolist()              # (pos - base) - (ls - base)
    t_l = tops.tolist()
    b_l = bottoms.tolist()
    grid_ids = np.arange(len(grids))
    run_lo = np.searchsorted(g_of, grid_ids, side="left")
    run_hi = np.searchsorted(g_of, grid_ids, side="right")
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


def box_span(grid: TurnGrid, box: Box) -> tuple[int, int]:
    """Half-open char span of a box in the original text — the offsets
    crop_box computes, WITHOUT materializing the crop string (the cheap
    path for detection-only queries like GetTextRects).

    Clamping mirrors crop_box exactly: for merged multi-line boxes whose
    LAST line is shorter than the widest line, box.right+1 must clamp to
    that line's length or the span would bleed past the line break (and
    past len(text) on the final line) and disagree with extract's spans
    for the same box."""
    y0 = min(box.top // LINE_HEIGHT, len(grid.lines) - 1)
    y1 = min(box.bottom // LINE_HEIGHT, len(grid.lines) - 1)
    start = grid.line_offsets[y0] + min(box.left, len(grid.lines[y0]))
    end = grid.line_offsets[y1] + min(box.right + 1, len(grid.lines[y1]))
    return start, end


def crop_box(grid: TurnGrid, box: Box) -> tuple[str, int, int]:
    """Extract a box's text (find_text_img / crop_imm analog, det.rs:137-152).

    Markup characters inside the crop window are blanked to spaces (they
    are background pixels); lines joined by \\n. Returns
    (crop_text, span_start, span_end) with char offsets into the original
    turn text (half-open)."""
    y0 = min(box.top // LINE_HEIGHT, len(grid.lines) - 1)
    y1 = min(box.bottom // LINE_HEIGHT, len(grid.lines) - 1)
    right = box.right
    # span arithmetic has exactly ONE home: the property suite asserts
    # box_span == crop_box offsets, and sharing the code makes that
    # true by construction
    span_start, span_end = box_span(grid, box)
    if not grid.mk[span_start:span_end].any():
        # markup-free span (the dominant shape — detection runs exclude
        # markup chars, so a crop only carries markup pulled in by the
        # border or a vertical merge): nothing to blank anywhere
        if box.left == 0:
            for y in range(y0, y1 + 1):
                if right + 1 < len(grid.lines[y]):
                    break
            else:
                # full-width too: every covered line's clamp is
                # [0, len(ln)], so the per-line slice+join IS the
                # contiguous text substring — one slice
                return grid.text[span_start:span_end], span_start, span_end
        parts = []
        for y in range(y0, y1 + 1):
            ln = grid.lines[y]
            a = min(box.left, len(ln))
            b = min(right + 1, len(ln))
            parts.append(ln[a:b] if b > a else "")
        return "\n".join(parts), span_start, span_end
    parts = []
    for y in range(y0, y1 + 1):
        ln = grid.lines[y]
        off = grid.line_offsets[y]
        a = min(box.left, len(ln))
        b = min(right + 1, len(ln))
        if b <= a:
            parts.append("")
            continue
        mk_win = grid.mk[off + a : off + b]
        if not mk_win.any():
            # nothing to blank: the crop is a plain slice of the line
            # (cp[off+i] ≡ ln[i] by TurnGrid construction) — skip the
            # copy/fancy-index/UTF-32 round-trip for the common shape
            parts.append(ln[a:b])
            continue
        seg = grid.cp[off + a : off + b].copy()
        seg[mk_win] = 32
        parts.append(seg.tobytes().decode("utf-32-le"))
    return "\n".join(parts), span_start, span_end
