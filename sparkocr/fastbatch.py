"""Batch-vectorized fast paths for common turn shapes (round-4 work).

Entry points (what the Spark engine's UDFs call):

- ``extract_batch(texts, roles, config)`` — the one extraction
  dispatch: every row gets a ``TurnResult``; the batch stages below
  answer what they can and the residue runs the per-turn
  ``pipeline.extract_turn_auto``. No other module decides which stage
  a row takes.
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

import numpy as np

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
from .pipeline import Block, TurnResult, extract_turn_auto
from .recognize import canonicalize, classify_block, decode, recognize_crop
from .textgrid import (
    _NL,
    is_boiler_line,
    markup_mask,
    punct_mask,
    word_char_mask,
)

def _empty() -> TurnResult:
    """Fresh empty result per row — the per-turn path also returns a
    new TurnResult each time, and a shared singleton's ``blocks`` list
    would be mutable state aliased across every empty row."""
    return TurnResult(blocks=[], full_text="")


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


def _document_batch(d_rows, config: EngineConfig,
                    out, rows, canons, metas) -> None:
    """Stage-4: routing-mode document turns (tool role + form-feed).
    The layout parse runs batched (``layout.parse_documents_batch`` —
    every page of every payload shares one detection pass) and the
    body/table region decodes pool into the shared flat decode.
    Byte-identical to ``pipeline.extract_turn_auto``'s document branch:
    blocks carry the region type as block_type and page-granular
    geometry (left=0, top=page·LINE_HEIGHT, width=span length), pos
    counts only the decoded body/table blocks — all encoded in the
    4-element metas consumed by ``_decode_flat``."""
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
            box = Box(0, reg.page * LINE_HEIGHT,
                      reg.end - reg.start, LINE_HEIGHT)
            r_canons.append(canon)
            r_metas.append((box, reg.start, reg.end, reg.region_type))
        if not in_domain:
            continue
        if not r_canons:
            out[i] = _empty()
            continue
        rows.append((i, len(canons), len(canons) + len(r_canons)))
        canons.extend(r_canons)
        metas.extend(r_metas)


def _markup_batch(m_rows, config: EngineConfig, border: int,
                  out, rows, canons, metas) -> None:
    """Stage-3 detection + crop assembly for a batch of markup-bearing
    (or, under ``allow_formfeed``, form-feed) turns. Detection is
    ``detect.find_text_boxes_batch`` — the exact general-path semantics
    with the per-ON-line segment loop batched over all turns at once —
    and ``crop_box`` is the per-turn function. Successful rows append
    their crops to the shared flat-decode pool; a row whose crop
    canonicalizes out of the flat machine's domain (see
    ``_canon_in_domain``) is left at ``None`` (per-turn fallback)."""
    grids = [TurnGrid(t) for _, t in m_rows]
    all_boxes = find_text_boxes_batch(grids, config)
    for (i, _), grid, boxes in zip(m_rows, grids, all_boxes):
        if not boxes:
            out[i] = _empty()
            continue
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
            r_metas.append((box, start, end))
        if not in_domain:
            continue
        rows.append((i, len(canons), len(canons) + len(r_canons)))
        canons.extend(r_canons)
        metas.extend(r_metas)


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

    Returns (canons, metas) where metas are per-crop
    (box, span_start, span_end), or None when any crop leaves the flat
    machine's domain (entity decode minting '<'/ESC) — the caller
    falls the whole row back to the per-turn path.
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
        metas.append((box, start, end))
    return canons, metas


def batch_extract_simple(
    texts, config: EngineConfig = DEFAULT_CONFIG,
    allow_formfeed: bool = False,
    roles=None,
) -> list:
    """Process every eligible turn of ``texts`` (a sequence of
    already-``_clean_text``-ed values) in one vectorized pass. Returns a
    list aligned with ``texts``: a ``TurnResult`` where a fast path
    applied, ``None`` where the caller must run the per-turn pipeline.
    This is the batch half of ``extract_batch``, which answers the
    ``None`` rows too; call that unless the split itself is measured.

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
    n = len(texts)
    out: list = [None] * n
    border = config.rect_border_size
    grid_h1 = LINE_HEIGHT  # stage-1 grid: single line
    top1 = max(GLYPH_TOP - border, 0)
    bottom1 = min(GLYPH_BOTTOM + border, grid_h1 - 1)
    height1 = bottom1 - top1 + 1

    canons: list[str] = []    # canonical crop text, all rows flattened
    metas: list[tuple] = []   # per crop: (box, span_start, span_end)
    rows: list[tuple] = []    # per flat row: (row index, k0, k1) crop slice
    m_rows: list[tuple] = []  # stage-3 (markup/general) rows: (row index, text)
    d_rows: list[tuple] = []  # stage-4 (routed document) rows: (row index, text)
    for i in range(n):
        t = texts[i]
        if _eligible(t):
            # stage 1: single line — one box by construction
            if ("[" in t or "=" in t) and is_boiler_line(t):
                out[i] = _empty()
                continue
            c0 = len(t) - len(t.lstrip(" \t"))
            c1 = len(t.rstrip(" \t")) - 1
            if c1 - c0 <= MIN_BOX_SIZE:
                out[i] = _empty()
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
            box = Box(left, top1, right - left + 1, height1)
            rows.append((i, len(canons), len(canons) + 1))
            canons.append(canon)
            metas.append((box, left, right + 1))
        elif _eligible_multiline(t):
            # stage 2: per-line detection + verbatim merge
            got = _plain_multiline_crops(t, config, border)
            if got is None:
                continue  # a crop minted markup: per-turn path
            r_canons, r_metas = got
            if not r_canons:
                out[i] = _empty()
                continue
            rows.append((i, len(canons), len(canons) + len(r_canons)))
            canons.extend(r_canons)
            metas.extend(r_metas)
        elif _eligible_markup(t):
            m_rows.append((i, t))
        elif _eligible_formfeed(t):
            if roles is not None:
                (d_rows if roles[i] == "tool" else m_rows).append((i, t))
            elif allow_formfeed:
                m_rows.append((i, t))

    for batch_fn, batch_rows in (
        (lambda br: _markup_batch(br, config, border,
                                  out, rows, canons, metas), m_rows),
        (lambda br: _document_batch(br, config,
                                    out, rows, canons, metas), d_rows),
    ):
        if not batch_rows:
            continue
        n_rows0, n_can0 = len(rows), len(canons)
        try:
            batch_fn(batch_rows)
        except Exception:
            # defensive backstop (no known trigger — surrogates are
            # gated up front and the batch machines reuse the exact
            # per-turn primitives): roll the pool back and send every
            # row of this stage down the per-turn path, which
            # re-derives any _empty() rows identically
            del rows[n_rows0:]
            del canons[n_can0:]
            del metas[n_can0:]
            for i, _ in batch_rows:
                out[i] = None

    if rows:
        try:
            _decode_flat(rows, canons, metas, out, config)
        except Exception:
            # defensive backstop for a poison batch (no known trigger —
            # surrogates are gated up front and entity decode/NFC cannot
            # mint them): retry nothing here — per-row fallback preserves
            # the per-turn path's own poison-row containment
            for i, _, _ in rows:
                out[i] = None
    return out


def extract_batch(texts, roles=None,
                  config: EngineConfig = DEFAULT_CONFIG) -> list[TurnResult]:
    """Extract every row of ``texts`` (already-``_clean_text``-ed
    values): one ``TurnResult`` per row, never ``None``. The batch
    stages answer what they can; every residue row runs the per-turn
    ``pipeline.extract_turn_auto``.

    ``roles`` (aligned with ``texts``) turns on document routing,
    exactly ``extract_turn_auto(t, role)`` per row. ``roles=None`` means
    no routing, exactly ``extract_turn(t)`` per row: form-feed rows then
    batch through the stage-3 general machine, and the residue call
    ``extract_turn_auto(t, None)`` is ``extract_turn(t)``."""
    out = batch_extract_simple(texts, config,
                               allow_formfeed=roles is None, roles=roles)
    for i, r in enumerate(out):
        if r is None:
            role = None if roles is None else roles[i]
            out[i] = extract_turn_auto(texts[i], role, config)
    return out


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


def _decode_flat(rows, canons, metas, out, config: EngineConfig) -> None:
    texts_all, confs_all = decode_canons_flat(canons, config)
    for i, k0, k1 in rows:
        blocks = []
        for j in range(k0, k1):
            meta = metas[j]
            box, start, end = meta[0], meta[1], meta[2]
            # 4-element metas (stage 4) carry the block type — the
            # region classification from the layout parser — instead
            # of deriving it from the crop text
            btype = meta[3] if len(meta) > 3 else classify_block(canons[j])
            blocks.append(Block(
                pos=j - k0, text=texts_all[j], confidence=confs_all[j],
                block_type=btype,
                left=box.left, top=box.top,
                width=box.width, height=box.height,
                start=start, end=end,
            ))
        out[i] = TurnResult(
            blocks=blocks, full_text="\n".join(b.text for b in blocks))


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
