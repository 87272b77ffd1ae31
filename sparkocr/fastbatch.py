"""Batch-vectorized fast paths for common turn shapes (round-4 work).

Entry points (what the Spark engine's UDFs call):

- ``extract_batch(texts, roles, config)`` — the one extraction
  dispatch: every row is answered; the batch stages below answer what
  they can and the residue runs the per-turn
  ``pipeline.extract_turn_auto``. No other module decides which stage
  a row takes. The result is columnar: an Arrow ``RecordBatch`` with
  the engine's ``EXTRACT_RESULT_FIELDS`` columns, typed by Spark's own
  Arrow mapping, ready for ``mapInArrow`` to hand back as is. Its block
  columns are gathered straight from the flat decode's per-crop lists
  in row order — no ``Block``/``TurnResult`` objects for batch rows;
  only the residue rows' ``TurnResult`` objects are spliced in.
  ``batch_extract_simple`` is the ``TurnResult`` view of the same
  per-crop lists (residue rows ``None``), for callers that time the
  batch stages alone.
- ``recognize_batch(texts, config)`` — the RecognizeText kernel:
  in-domain rows pool into the flat decode, the rest run
  ``recognize_crop`` per row.

The per-turn pipeline already short-circuits the common chat-message
shape — one line, no markup, no ANSI — inside ``detect.find_text_boxes``
(det.py fast path), but the per-turn cost was still dominated by the
~40 small numpy allocations each ``recognize_crop`` call makes. This
module lifts that work to the Arrow-batch level, in two stages:

- **Stage 1 (single-line)**: eligible turns are detected with cheap
  C-level string scans and their canonical crops enter the flat decode
  directly (one box per turn by construction).
- **Stage 2 (multi-line plain)**: turns with newlines but still no
  markup/ANSI/form-feed — 60%+ of transcript-shaped corpora — run
  per-LINE detection with the same C-level string ops (for plain text
  the whole probability-map cascade reduces to "has a visible char and
  is not boilerplate": density is 1, score is exactly 255 or 0), then
  the verbatim transitive merge (``detect.merge_overlapping_boxes`` —
  the exact fixpoint, not a re-implementation) over each turn's
  handful of line boxes, then crop assembly by plain string slicing
  (no markup to blank).

Crops from BOTH stages are concatenated into ONE flat codepoint array
(NUL separators) and decoded by the shared state machine
(``recognize.decode`` with ``seg_ids`` — the single home of the decode
semantics, rec.rs:344-398) in a handful of numpy passes. Per-row
Python shrinks to string slicing plus one small float32 reduction.

Byte-exactness contract: for every eligible turn the result equals
``pipeline.extract_turn`` EXACTLY (text, confidence bits, spans,
geometry, block type) — enforced by the differential suite in
tests/test_fastbatch.py. Anything the flat machine cannot reproduce
bit-for-bit (entities decoding into markup, lone surrogates) is
declared ineligible and falls back to the per-turn path; eligibility
errs toward fallback, never toward approximation.

Stage-1 eligible = text is a str containing none of ``\\n \\r \\f <
\\x1b`` whose canonical crop still contains no ``<``/ESC (entity
decode can mint them). Stage-2 eligible = str containing a newline
(``\\n``/``\\r``) but no ``< \\x1b \\f`` — form-feed turns stay on the
per-turn path so the document router (pipeline.extract_turn_auto)
keeps seeing them.

- **Stage 3 (markup-bearing)**: turns containing ``<`` or ESC (but no
  form-feed) run the EXACT general detection semantics — ``TurnGrid``
  and ``line_scores`` are the per-turn functions themselves, and the
  transitive merge is ``detect.merge_overlapping_boxes`` — but the
  per-ON-line segment loop of ``find_text_boxes`` (3 ``flatnonzero``
  calls per line, the measured hot spot on markup rows) is replaced by
  ONE diff/searchsorted pass over the whole batch's concatenated
  character grid. Crops assemble through ``detect.crop_box`` (markup
  blanked — so their canonical form is normally markup-free and in the
  flat decode's domain) and pool into the same flat decode as stages
  1/2.

The domain gate is shared by all three stages (``_canon_in_domain``):
a crop whose canonical form would make ``char_scores`` see a non-empty
markup mask — entity decode minting real tags, an ANSI run surviving
into the crop — falls the whole row back to the per-turn path, which
owns the markup-scoring branch. Text that merely CONTAINS ``<`` but
forms no tag (``<1notag>``) and lone ESC bytes the ANSI scanner does
not match stay in-domain: both score identically on either path.

Entity-minted newlines (``&#10;``) stay in-domain:
detection geometry comes from the pre-canonicalize lines on both
paths, and ``canonicalize`` caps the crop's line count at
``max_rec_lines`` (no overflow is possible), so the flat machine
scores/emits the minted ``\\n`` exactly as ``recognize_crop`` does —
covered by the ``&#10;`` rows of the randomized differential test.
The decode boundary rules are preserved across the flat array: the
NUL separator is a CTC blank (resets ``last_char``, emits nothing)
and the punct-collapse pass is crop-id-guarded so it never merges
across crops.
"""

from __future__ import annotations

from operator import attrgetter

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .config import (
    DEFAULT_CONFIG,
    GLYPH_BOTTOM,
    GLYPH_TOP,
    LINE_HEIGHT,
    MIN_BOX_SIZE,
    SCORE_OTHER,
    SCORE_PUNCT,
    SCORE_WORD,
    EngineConfig,
)
from .detect import (
    Box,
    TurnGrid,
    _merge_ltrb,
    crop_box,
    find_text_boxes_batch,
)
from .engine import EXTRACT_RESULT_FIELDS
from .pipeline import Block, TurnResult, extract_turn_auto
from .recognize import canonicalize, classify_block, decode, recognize_crop
from .textgrid import (
    _NL,
    is_boiler_line,
    markup_mask,
    punct_mask,
    word_char_mask,
)

# the Arrow form of the engine's result columns (Spark's own type
# mapping, so the engine can hand the batch to Spark as is)
_RESULT_SCHEMA = to_arrow_schema(StructType(EXTRACT_RESULT_FIELDS))
_BLOCK_TYPE = _RESULT_SCHEMA.field("blocks").type.value_type
# the per-crop block columns: every block field after ``pos``, which
# the gather derives from the row's slice
_BLOCK_COLS = tuple(f.name for f in _BLOCK_TYPE)[1:]
_block_values = attrgetter(*_BLOCK_COLS)


class _Pool:
    """One batch's flat-decode pool. ``spans[i]`` is row i's
    ``(k0, k1)`` slice of the per-crop lists once a batch stage has
    answered it (``k0 == k1``: no blocks) and ``None`` while the row is
    residue. A crop's meta is ``(left, top, width, height, start, end,
    block_type)``; ``block_type`` is ``None`` unless the stage already
    knows it (stage 4's layout region)."""

    def __init__(self, n: int):
        self.spans: list = [None] * n
        self.canons: list[str] = []
        self.metas: list[tuple] = []

    def add(self, i: int, canons: list, metas: list) -> None:
        k0 = len(self.canons)
        self.spans[i] = (k0, k0 + len(canons))
        self.canons.extend(canons)
        self.metas.extend(metas)


def _no_surrogates(t: str) -> bool:
    """Lone surrogates make the per-turn path fail its UTF-32 encode in
    TurnGrid and return an InferenceError ROW — the flat machine's
    short-circuits (empty/boiler/narrow) would otherwise answer before
    ever encoding, so surrogate-bearing turns must fall back up front
    to reproduce that error behavior exactly. ascii fast-gate first;
    the utf-16 probe is a C loop that raises on ANY surrogate code
    unit — lone or adjacent-paired (a str CAN hold '\\ud83d\\ude00'
    via surrogatepass round-trips; both shapes must fall back, since
    both make the per-turn UTF-32 encode raise) — and passes
    astral-plane characters."""
    if t.isascii():
        return True
    try:
        t.encode("utf-16-le")
        return True
    except UnicodeEncodeError:
        return False


def _canon_in_domain(canon: str) -> bool:
    """True when the flat machine scores this canonical crop exactly as
    ``char_scores`` would: the machine assumes the markup mask is empty,
    so a crop is in-domain iff ``markup_mask(canon)`` marks nothing.
    The substring scan is the exact fast gate (every tag/comment match
    needs ``<``, every ANSI match needs ESC); when one of those chars IS
    present the mask itself decides — e.g. ``<1notag>`` is not a tag and
    stays in-domain, while entity-minted ``<i>`` or an ANSI run leaves."""
    if "<" not in canon and "\x1b" not in canon:
        return True
    return not markup_mask(canon).any()


def _eligible(t) -> bool:
    """The det.py fast-path shape: one line (no \\n, and no \\r/\\f that
    TurnGrid would fold into one), no markup, no ANSI."""
    return (
        isinstance(t, str)
        and "\n" not in t and "\r" not in t and "\f" not in t
        and "<" not in t and "\x1b" not in t
        and _no_surrogates(t)
    )


def _eligible_multiline(t) -> bool:
    """Stage 2: multi-line plain text. No markup/ANSI, and no form-feed
    (the document router keys on \\f — those rows must keep reaching
    pipeline.extract_turn_auto on the per-turn path)."""
    return (
        isinstance(t, str)
        and ("\n" in t or "\r" in t) and "\f" not in t
        and "<" not in t and "\x1b" not in t
        and _no_surrogates(t)
    )


def _eligible_markup(t) -> bool:
    """Stage 3: markup/ANSI-bearing turns. Form-feed rows stay on the
    per-turn path (document router); surrogate rows fall back up front
    (same reason as stages 1/2)."""
    return (
        isinstance(t, str)
        and ("<" in t or "\x1b" in t) and "\f" not in t
        and _no_surrogates(t)
    )


def _eligible_formfeed(t) -> bool:
    """Form-feed rows for the NON-routing extract path: when the caller
    is ``extract_turn`` (no document router in play), ``TurnGrid``
    folds ``\\f`` to ``\\n`` and the turn is just another general-path
    turn — the stage-3 machine handles it exactly. Callers that route
    documents (``extract_turn_auto``) must NOT enable this: the router
    keys on ``\\f`` and those rows need to reach it."""
    return isinstance(t, str) and "\f" in t and _no_surrogates(t)


def _document_batch(d_rows, config: EngineConfig, pool: _Pool) -> None:
    """Stage-4: routing-mode document turns (tool role + form-feed).
    The layout parse runs batched (``layout.parse_documents_batch`` —
    every page of every payload shares one detection pass) and the
    body/table region decodes pool into the shared flat decode.
    Byte-identical to ``pipeline.extract_turn_auto``'s document branch:
    blocks carry the region type as block_type and page-granular
    geometry (left=0, top=page·LINE_HEIGHT, width=span length), pos
    counts only the decoded body/table blocks — the region type rides
    in the crop's meta, so ``_decode_flat`` does not classify it."""
    from .layout import parse_documents_batch

    texts = [t for _, t in d_rows]
    all_regions = parse_documents_batch(texts, config)
    for (i, _), regions in zip(d_rows, all_regions):
        r_canons: list[str] = []
        r_metas: list[tuple] = []
        in_domain = True
        for reg in regions:
            if reg.region_type not in ("body", "table"):
                continue
            canon = canonicalize(reg.text, config.max_rec_lines)
            if not _canon_in_domain(canon):
                in_domain = False
                break
            r_canons.append(canon)
            r_metas.append((0, reg.page * LINE_HEIGHT, reg.end - reg.start,
                            LINE_HEIGHT, reg.start, reg.end,
                            reg.region_type))
        if in_domain:
            pool.add(i, r_canons, r_metas)


def _markup_batch(m_rows, config: EngineConfig, pool: _Pool) -> None:
    """Stage-3 detection + crop assembly for a batch of markup-bearing
    (or, under ``allow_formfeed``, form-feed) turns. Detection is
    ``detect.find_text_boxes_batch`` — the exact general-path semantics
    with the per-ON-line segment loop batched over all turns at once —
    and ``crop_box`` is the per-turn function. Successful rows append
    their crops to the shared flat-decode pool; a row whose crop
    canonicalizes out of the flat machine's domain (see
    ``_canon_in_domain``) stays residue (per-turn fallback)."""
    grids = [TurnGrid(t) for _, t in m_rows]
    all_boxes = find_text_boxes_batch(grids, config)
    for (i, _), grid, boxes in zip(m_rows, grids, all_boxes):
        r_canons: list[str] = []
        r_metas: list[tuple] = []
        in_domain = True
        for box in boxes:
            crop, start, end = crop_box(grid, box)
            canon = canonicalize(crop, config.max_rec_lines)
            if not _canon_in_domain(canon):
                in_domain = False   # markup scoring: per-turn path
                break
            r_canons.append(canon)
            r_metas.append((box.left, box.top, box.width, box.height,
                            start, end, None))
        if in_domain:
            pool.add(i, r_canons, r_metas)


def _plain_multiline_crops(t: str, config: EngineConfig, border: int):
    """Detection + crop assembly for one multi-line plain turn, with
    C-level string ops only — semantics verbatim from the general path
    (TurnGrid fold → line_scores → find_text_boxes → crop_box):

    - fold: ``\\r\\n`` → `` \\n`` (same length, offsets preserved),
      ``\\r`` → ``\\n`` (no \\f by eligibility)
    - per-line score: for text with no markup and no anchors the
      probability map is exactly 255 (any visible char, not boiler)
      or 0, so ON = visible and not boilerplate
    - one segment per ON line (no markup runs to split on); trim
      {tab, space}; drop width <= MIN_BOX_SIZE; expand by border,
      clamped to the line and the grid
    - the transitive merge is detect's fixpoint ITSELF (``_merge_ltrb``,
      the tuple kernel inside ``merge_overlapping_boxes``)
    - crop text: line slices joined by \\n (nothing to blank); spans
      via the box_span arithmetic

    Returns (canons, metas) where metas are per-crop ``_Pool`` metas,
    or None when any crop leaves the flat machine's domain (entity
    decode minting '<'/ESC) — the caller falls the whole row back to
    the per-turn path.
    """
    folded = t.replace("\r\n", " \n").replace("\r", "\n")
    lines = folded.split("\n")
    grid_h = len(lines) * LINE_HEIGHT
    # (left, top, right, bottom) tuples end-to-end: the merge fixpoint
    # runs on ltrb tuples anyway (detect._merge_ltrb), so building Box
    # objects before the merge just paid a conversion both ways
    ltrb: list[tuple] = []
    for y, ln in enumerate(lines):
        c0 = len(ln) - len(ln.lstrip(" \t"))
        if c0 == len(ln):  # empty or all-whitespace: score 0
            continue
        if ("[" in ln or "=" in ln) and is_boiler_line(ln):
            continue
        c1 = len(ln.rstrip(" \t")) - 1
        if c1 - c0 <= MIN_BOX_SIZE:
            continue
        left = max(c0 - border, 0)
        right = min(c1 + border, len(ln) - 1)
        top = max(y * LINE_HEIGHT + GLYPH_TOP - border, 0)
        bottom = min(y * LINE_HEIGHT + GLYPH_BOTTOM + border, grid_h - 1)
        ltrb.append((left, top, right, bottom))
    if config.merge_boxes and len(ltrb) > 1:
        ltrb = _merge_ltrb(ltrb, config.merge_threshold)
    if not ltrb:
        return [], []
    boxes = [Box(l, tp, r - l + 1, b - tp + 1) for (l, tp, r, b) in ltrb]
    lens = list(map(len, lines))
    offs, pos = [], 0
    for n_ln in lens:
        offs.append(pos)
        pos += n_ln + 1
    maxlen = max(lens)
    canons: list[str] = []
    metas: list[tuple] = []
    last = len(lines) - 1
    for box in boxes:
        y0 = min(box.top // LINE_HEIGHT, last)
        y1 = min(box.bottom // LINE_HEIGHT, last)
        b_right = box.right + 1
        if box.left == 0 and b_right >= maxlen:
            # full-width box (the dominant shape: unindented text whose
            # merged box spans every covered line end-to-end): every
            # covered line's clamp is [0, len(ln)], so the per-line
            # slice+join IS the contiguous folded substring — one slice
            crop = folded[offs[y0]:offs[y1] + lens[y1]]
        else:
            parts = []
            for y in range(y0, y1 + 1):
                n_ln = lens[y]
                a = box.left if box.left < n_ln else n_ln
                b = b_right if b_right < n_ln else n_ln
                parts.append(lines[y][a:b] if b > a else "")
            crop = "\n".join(parts)
        canon = canonicalize(crop, config.max_rec_lines)
        if not _canon_in_domain(canon):
            return None
        start = offs[y0] + min(box.left, lens[y0])
        end = offs[y1] + min(b_right, lens[y1])
        canons.append(canon)
        metas.append((box.left, box.top, box.width, box.height,
                      start, end, None))
    return canons, metas


def _batch_stages(texts, config: EngineConfig, allow_formfeed: bool,
                  roles) -> tuple[list, list[list]]:
    """Run batch stages 1-4 over ``texts`` and decode their pool once.
    Returns ``(spans, cols)``: ``cols`` are the per-crop block columns
    (``_BLOCK_COLS`` order, pool order) and ``spans[i]`` is row i's
    ``(k0, k1)`` slice of them, or ``None`` for a residue row that the
    caller must run through the per-turn pipeline. Flags as in
    ``batch_extract_simple``."""
    n = len(texts)
    pool = _Pool(n)
    border = config.rect_border_size
    grid_h1 = LINE_HEIGHT  # stage-1 grid: single line
    top1 = max(GLYPH_TOP - border, 0)
    bottom1 = min(GLYPH_BOTTOM + border, grid_h1 - 1)
    height1 = bottom1 - top1 + 1

    m_rows: list[tuple] = []  # stage-3 (markup/general) rows: (row index, text)
    d_rows: list[tuple] = []  # stage-4 (routed document) rows: (row index, text)
    for i in range(n):
        t = texts[i]
        if _eligible(t):
            # stage 1: single line — one box by construction
            if ("[" in t or "=" in t) and is_boiler_line(t):
                pool.add(i, [], [])
                continue
            c0 = len(t) - len(t.lstrip(" \t"))
            c1 = len(t.rstrip(" \t")) - 1
            if c1 - c0 <= MIN_BOX_SIZE:
                pool.add(i, [], [])
                continue
            left = max(c0 - border, 0)
            right = min(c1 + border, len(t) - 1)
            canon = canonicalize(t[left:right + 1], config.max_rec_lines)
            # post-canon gate: entity decode can mint '<' (markup
            # scoring leaves the flat machine's domain) — those rows
            # take the exact per-turn path. Minted '\n' needs no gate:
            # canonicalize caps line count, and the flat machine
            # reproduces recognize_crop's newline handling bit-for-bit
            # (see module docstring).
            if not _canon_in_domain(canon):
                continue
            pool.add(i, [canon], [(left, top1, right - left + 1, height1,
                                   left, right + 1, None)])
        elif _eligible_multiline(t):
            # stage 2: per-line detection + verbatim merge
            got = _plain_multiline_crops(t, config, border)
            if got is None:
                continue  # a crop minted markup: per-turn path
            pool.add(i, *got)
        elif _eligible_markup(t):
            m_rows.append((i, t))
        elif _eligible_formfeed(t):
            if roles is not None:
                (d_rows if roles[i] == "tool" else m_rows).append((i, t))
            elif allow_formfeed:
                m_rows.append((i, t))

    for batch_fn, batch_rows in ((_markup_batch, m_rows),
                                 (_document_batch, d_rows)):
        if not batch_rows:
            continue
        n_can0 = len(pool.canons)
        try:
            batch_fn(batch_rows, config, pool)
        except Exception:
            # defensive backstop (no known trigger — surrogates are
            # gated up front and the batch machines reuse the exact
            # per-turn primitives): roll the pool back and send every
            # row of this stage down the per-turn path, which
            # re-derives any empty rows identically
            del pool.canons[n_can0:]
            del pool.metas[n_can0:]
            for i, _ in batch_rows:
                pool.spans[i] = None

    if pool.canons:
        try:
            return pool.spans, _decode_flat(pool.canons, pool.metas, config)
        except Exception:
            # defensive backstop for a poison batch (no known trigger —
            # surrogates are gated up front and entity decode/NFC cannot
            # mint them): retry nothing here — per-row fallback preserves
            # the per-turn path's own poison-row containment
            pool.spans = [None if s and s[0] != s[1] else s
                          for s in pool.spans]
    return pool.spans, [[] for _ in _BLOCK_COLS]


def batch_extract_simple(
    texts, config: EngineConfig = DEFAULT_CONFIG,
    allow_formfeed: bool = False,
    roles=None,
) -> list:
    """Process every eligible turn of ``texts`` (``str`` or ``None``
    values) in one vectorized pass. Returns a list aligned with
    ``texts``: a ``TurnResult`` where a fast path applied, ``None``
    where the caller must run the per-turn pipeline. This is a
    ``TurnResult`` view of the batch half of ``extract_batch``, which
    answers the ``None`` rows too; call that unless the split itself
    is measured.

    ``allow_formfeed=True`` additionally routes form-feed rows through
    the stage-3 general machine (byte-identical to ``extract_turn``,
    which folds ``\\f`` to ``\\n``). ONLY valid when the caller's
    fallback is ``extract_turn`` — with ``route_documents`` the router
    keys on ``\\f`` and those rows must fall back to it instead.

    ``roles`` (aligned with ``texts``) enables the ROUTING-mode
    equivalent instead: form-feed turns with role ``tool`` run the
    stage-4 document machine (batched layout parse + pooled decode,
    byte-identical to ``extract_turn_auto``'s document branch) and
    form-feed turns with any other role run the stage-3 general machine
    (``extract_turn_auto`` sends exactly those to ``extract_turn``).
    Mutually exclusive with ``allow_formfeed``."""
    spans, cols = _batch_stages(texts, config, allow_formfeed, roles)
    out: list = []
    for s in spans:
        if s is None:
            out.append(None)
            continue
        blocks = [Block(pos, *vals) for pos, vals in
                  enumerate(zip(*(c[s[0]:s[1]] for c in cols)))]
        out.append(TurnResult(blocks=blocks,
                              full_text="\n".join(cols[0][s[0]:s[1]])))
    return out


def extract_batch(texts, roles=None,
                  config: EngineConfig = DEFAULT_CONFIG) -> pa.RecordBatch:
    """Extract every row of ``texts`` (``str`` or ``None`` values) into
    one Arrow ``RecordBatch`` with the ``EXTRACT_RESULT_FIELDS``
    columns, row i answering ``texts[i]``. The batch stages answer what
    they can; every residue row runs the per-turn
    ``pipeline.extract_turn_auto`` and its ``TurnResult`` is spliced
    into the same columns.

    ``roles`` (aligned with ``texts``) turns on document routing,
    exactly ``extract_turn_auto(t, role)`` per row. ``roles=None`` means
    no routing, exactly ``extract_turn(t)`` per row: form-feed rows then
    batch through the stage-3 general machine, and the residue call
    ``extract_turn_auto(t, None)`` is ``extract_turn(t)``."""
    spans, cols = _batch_stages(texts, config, roles is None, roles)
    n = len(texts)
    full_text: list = [None] * n
    error_code: list = [None] * n
    error_msg: list = [None] * n
    for i, s in enumerate(spans):
        if s is not None:
            full_text[i] = "\n".join(cols[0][s[0]:s[1]])
            continue
        r = extract_turn_auto(texts[i], None if roles is None else roles[i],
                              config)
        k0 = len(cols[0])
        for col, vals in zip(cols, zip(*map(_block_values, r.blocks))):
            col.extend(vals)
        spans[i] = (k0, k0 + len(r.blocks))
        full_text[i], error_code[i], error_msg[i] = (
            r.full_text, r.error_code, r.error_msg)

    # gather the block columns into row order: output block b of row i
    # is pool crop k0_i + pos_b
    k = np.array(spans, dtype=np.int64).reshape(-1, 2)
    n_blocks = (k[:, 1] - k[:, 0]).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_blocks, out=offsets[1:])
    row_start = np.repeat(offsets[:-1], n_blocks)
    pos = np.arange(offsets[-1], dtype=np.int32) - row_start
    take = pa.array(np.repeat(k[:, 0], n_blocks) + pos)
    fields = list(_BLOCK_TYPE)
    children = [pa.array(pos, fields[0].type)] + [
        pa.array(col, f.type).take(take) for col, f in zip(cols, fields[1:])]
    blocks = pa.ListArray.from_arrays(
        pa.array(offsets), pa.StructArray.from_arrays(children, fields=fields),
        type=_RESULT_SCHEMA.field("blocks").type)
    return pa.RecordBatch.from_arrays(
        [pa.array(n_blocks), blocks, pa.array(full_text, pa.string()),
         pa.array(error_code, pa.string()), pa.array(error_msg, pa.string())],
        schema=_RESULT_SCHEMA)


# Flat-decode block size, in characters. The machine allocates ~15
# stream-sized temporaries per call; on a whole-batch stream (7M chars
# on the 50k-turn probe mix) every one is a fresh first-touch mmap and
# the page-fault traffic dominates — catastrophically so in this box's
# degraded-memory state (measured: the same call on allocator-warm
# arrays runs 7-14x faster than in-run on fresh ones). Decoding in
# crop-aligned blocks of ~256k chars keeps each call's temporaries
# allocator-warm and cache-sized; crop boundaries are exact state
# resets (NUL separators are blanks), so the split is bit-identical by
# construction. Measured best among 64k/256k/1M/4M on the transcript
# mix; end-to-end ~1.9x over the unchunked stream on this box.
FLAT_DECODE_CHUNK = 1 << 18


def decode_canons_flat(canons, config: EngineConfig):
    """Decode MANY already-canonicalized, in-domain crops as one flat
    codepoint array through the shared state machine. Returns
    ``(texts, confs)`` aligned with ``canons`` — the (text, confidence)
    pair ``recognize_crop`` computes per crop, bit-identical (float32
    pairwise sum over the kept scores). Callers must pre-gate each
    canon with ``_canon_in_domain`` (the scoring below is
    ``char_scores`` with an empty markup mask) and keep surrogate
    input out (the UTF-32 encode would raise).

    Decoding runs in crop-aligned blocks of ``FLAT_DECODE_CHUNK``
    chars (see its comment); each block is one call of the machine and
    a block always holds at least one crop, so an oversized single
    crop still decodes whole."""
    total = sum(len(c) for c in canons)
    if total <= FLAT_DECODE_CHUNK:
        return _decode_canons_chunk(canons, config)
    texts_all: list[str] = []
    confs_all: list[float] = []
    i, k = 0, len(canons)
    while i < k:
        j, acc = i, 0
        while j < k and (acc == 0
                         or acc + len(canons[j]) <= FLAT_DECODE_CHUNK):
            acc += len(canons[j])
            j += 1
        t, c = _decode_canons_chunk(canons[i:j], config)
        texts_all.extend(t)
        confs_all.extend(c)
        i = j
    return texts_all, confs_all


def _decode_canons_chunk(canons, config: EngineConfig):
    """One flat-decode block: the whole-stream machine pass over a
    crop-aligned slice of the pool (see ``decode_canons_flat``)."""
    k = len(canons)
    flat = "\x00".join(canons)
    cp = np.frombuffer(flat.encode("utf-32-le"), dtype=np.uint32)
    # crop id per flat position; separators carry the PRECEDING crop's
    # id, harmless — they are blanks and never emitted
    lens = np.fromiter((len(c) for c in canons), dtype=np.int64, count=k)
    seg = lens + 1  # each crop + its trailing separator (last has none)
    ids = np.repeat(np.arange(k, dtype=np.int32), seg)[:len(cp)]

    # char_scores for the markup-free case (textgrid.char_scores with
    # mk all-false): word/space/nl → SCORE_WORD, punct → SCORE_PUNCT,
    # rest SCORE_OTHER
    word = word_char_mask(cp)
    punct = punct_mask(cp)
    nl = cp == _NL
    space = cp == 0x20
    scores = np.full(len(cp), SCORE_OTHER, dtype=np.float32)
    scores[word | space | nl] = SCORE_WORD
    scores[punct] = SCORE_PUNCT
    # blank = control chars except \n (the NUL separator included — the
    # crop-boundary reset); the dictionary-blank rule is decode's own
    blank = (cp < 0x20) & ~nl

    # decode the WHOLE flat array in one call of the shared machine
    # (recognize.decode with seg_ids — the single home of the decode
    # semantics; this module owns only the scoring and the reassembly)
    f_cp, f_sc, f_id = decode(cp, scores, blank, config, seg_ids=ids,
                              punct=punct)

    # per-crop slice bounds in the kept stream (f_id ascending)
    bounds = np.searchsorted(f_id, np.arange(k + 1))
    # decode the kept stream ONCE; per-crop text is then a plain string
    # slice (UTF-32 is fixed-width, so codepoint index == char index)
    full = f_cp.tobytes().decode("utf-32-le")
    texts, confs = [], []
    for j in range(k):
        a, b = int(bounds[j]), int(bounds[j + 1])
        d_sc = f_sc[a:b]
        texts.append(full[a:b])
        if len(d_sc) == 0:
            confs.append(0.0)
        else:
            # float32 pairwise sum over the same-length slice — the
            # exact arithmetic of recognize_crop (rec.rs:179-186)
            confs.append(float(np.float32(d_sc.sum(dtype=np.float32))
                               / np.float32(len(d_sc))))
    return texts, confs


def _decode_flat(canons, metas, config: EngineConfig) -> list[list]:
    """Decode the pool and classify its crops: the per-crop block
    columns in ``_BLOCK_COLS`` order. Stage-4 crops carry their layout
    region type in the meta instead of classifying the crop text."""
    texts, confs = decode_canons_flat(canons, config)
    *geom, rtypes = zip(*metas)
    btypes = [rt if rt is not None else classify_block(c)
              for rt, c in zip(rtypes, canons)]
    return [texts, confs, btypes, *map(list, geom)]


def recognize_batch(texts, config: EngineConfig = DEFAULT_CONFIG):
    """Recognize each row of ``texts`` (already-``_clean_text``-ed
    values) as one block. In-domain rows (markup-free canon, no
    surrogates) pool into one flat decode; everything else goes through
    ``recognize_crop`` per row — markup canons for the markup scoring
    branch, surrogate rows so the per-row UTF-32 encode failure yields
    an all-None row. ``None`` rows and poison rows stay all-None.
    Returns ``(texts, confs, btypes)`` aligned with the input."""
    n = len(texts)
    dec: list = [None] * n
    confs: list = [None] * n
    btypes: list = [None] * n
    pool_idx, pool_canons = [], []
    resid = []  # row indices for the per-row path
    for i, text in enumerate(texts):
        if text is None:
            continue
        try:
            canon = canonicalize(text, config.max_rec_lines)
            if _no_surrogates(canon) and _canon_in_domain(canon):
                pool_idx.append(i)
                pool_canons.append(canon)
                btypes[i] = classify_block(canon)
                continue
            resid.append(i)
        except Exception:  # poison row must not kill the task
            pass
    if pool_canons:
        try:
            p_texts, p_confs = decode_canons_flat(pool_canons, config)
            for i, t, c in zip(pool_idx, p_texts, p_confs):
                dec[i], confs[i] = t, c
        except Exception:  # poison pool → per-row containment
            resid.extend(pool_idx)
            for i in pool_idx:
                btypes[i] = None
    for i in resid:
        try:
            decoded, conf, canon = recognize_crop(texts[i], config)
            dec[i], confs[i] = decoded, conf
            btypes[i] = classify_block(canon)
        except Exception:  # poison row must not kill the task
            dec[i] = confs[i] = btypes[i] = None
    return dec, confs, btypes
