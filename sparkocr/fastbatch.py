"""Arrow-batch extraction kernels.

Entry points (what the Spark engine's UDFs call):

- ``extract_batch(texts, roles, config)`` — the one extraction
  dispatch: the batch stages below answer every row. No other module
  decides which stage a row takes: ``_stage`` is the one per-row
  decision. A null row and a surrogate-bearing row take no stage; they
  get the per-turn path's error row (``_error_row``) in the batch. The
  result is columnar: an Arrow ``RecordBatch`` with the engine's
  ``EXTRACT_RESULT_FIELDS`` columns, typed by Spark's own Arrow
  mapping, ready for ``mapInArrow`` to hand back as is. Its block
  columns are gathered straight from the flat decode's per-crop lists
  in row order — no ``Block``/``TurnResult`` objects. The per-turn
  ``pipeline.extract_turn_auto`` is reached only to contain a stage or
  a pooled decode that raised. ``batch_extract_simple`` is the
  ``TurnResult`` view of the same per-crop lists, for callers that time
  the batch stages alone.
- ``detect_batch(texts, config)`` — the ``spans``/``blocks`` kernel:
  the same stages through the same ``_stage``, with no decode; each
  row's crops and their geometry (``_detect_stages``).
- ``recognize_batch(texts, config)`` — the RecognizeText kernel: every
  row without a surrogate pools into the flat decode.

A per-turn call pays a fixed cost of small numpy passes per row, so
the batch stages detect and crop over whole batches and pool every
crop into ONE flat decode per batch. Three stages:

- **plain** — no markup, ANSI or form-feed, one line or many (the
  chat-message and multi-line prose shapes, ~70% of transcript-shaped
  corpora): per-LINE detection with C-level string ops
  (``_plain_batch``). For plain text the whole probability-map cascade
  reduces to "has a visible char and is not boilerplate" (density is
  1, score is exactly 255 or 0); the transitive merge is detect's own
  fixpoint (``detect._merge_ltrb``) over each turn's handful of line
  boxes, and crops assemble by plain string slicing (no markup to
  blank).
- **markup** — ``<`` or ESC, and form-feed rows that take the general
  machine (see ``_stage``): the EXACT general detection semantics over
  ONE batch grid, ``detect.TurnGrid(texts)`` — a single character
  stream (each text, then one gap slot) whose codepoints, markup and
  anchor masks and line table are built once per batch, with the tag
  scan vectorized over the stream and the comment/script/anchor
  regexes run per row so no markup bridges rows. No ``TurnGrid`` per
  row: ``detect.find_text_boxes_batch`` extracts every row's runs in
  one diff/searchsorted pass over the stream, and ``detect.crop_box``
  reads each crop from it (markup blanked).
- **document** — routing mode only: the rows
  ``pipeline.routes_document`` sends to the layout parser. The parse
  runs batched (``layout.parse_documents_batch``) and the body/table
  regions pool into the same flat decode.

The stages hand over raw crops. ``_decode_flat`` canonicalizes each
crop once, concatenates them into ONE flat codepoint array (NUL
separators) and decodes it with the shared state machine
(``recognize.decode_kinds``: ``textgrid.text_kinds`` gives each
codepoint its scoring kind over the whole stream — the rule
``char_scores`` reads too, markup kinds included — and the machine
classifies the kinds, not the positions; ``recognize.decode`` stays the
single home of the decode semantics, rec.rs:344-398) in a handful of
numpy passes. Per-row Python shrinks to string slicing plus one small
float32 reduction per crop.

Byte-exactness contract: every row's result equals the per-turn path
EXACTLY (text, confidence bits, spans, geometry, block type, error
columns) — enforced by the differential suite in
tests/test_fastbatch.py and by scripts/fuzz_fastbatch.py. A crop whose
canonical form holds markup (an entity-minted tag, an ANSI run minted
by ``&#27;``) scores through the markup kinds, exactly as
``char_scores`` scores it; entity-minted newlines (``&#10;``) are plain
``\n`` to the machine, and ``canonicalize`` caps the crop's line count
at ``max_rec_lines`` on both paths.

The decode boundary rules hold across the flat array: the NUL
separator is a CTC blank (resets ``last_char``, emits nothing) and is
never markup, no markup span or markup edge crosses it, and the
punct-collapse pass is crop-id-guarded so it never merges across crops.
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
    EngineConfig,
)
from .detect import (
    TurnGrid,
    _merge_ltrb,
    crop_box,
    find_text_boxes,
    find_text_boxes_batch,
    no_surrogates,
)
from .engine import EXTRACT_RESULT_FIELDS
from .pipeline import (
    ERR_INFERENCE,
    ERR_INPUT,
    Block,
    TurnResult,
    extract_turn_auto,
    routes_document,
)
from .recognize import (
    canonicalize,
    classify_block,
    decode_kinds,
    recognize_crop,
)
from .textgrid import is_boiler_line, text_kinds

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
    ``(k0, k1)`` slice of the per-crop lists once the batch has
    answered it (``k0 == k1``: no blocks) and ``None`` while it has not
    — before its stage runs, or after its stage or the pooled decode
    raised. ``errors`` maps the rows no stage takes to their
    ``(error_code, error_msg)``. A crop is its raw text; its meta is
    ``(left, top, width, height, start, end, block_type)``;
    ``block_type`` is ``None`` unless the stage already knows it (the
    document stage's layout region)."""

    def __init__(self, n: int):
        self.spans: list = [None] * n
        self.errors: dict[int, tuple] = {}
        self.crops: list[str] = []
        self.metas: list[tuple] = []

    def add(self, i: int, crops: list, metas: list) -> None:
        k0 = len(self.crops)
        self.spans[i] = (k0, k0 + len(crops))
        self.crops.extend(crops)
        self.metas.extend(metas)


def _stage(t, role) -> str | None:
    """THE per-row batch-stage decision: ``"plain"``, ``"markup"``,
    ``"document"`` or ``None`` (no stage: the row gets its error row,
    ``_error_row``). ``role`` is ``None`` without routing.

    - null and surrogate-bearing rows take no stage (see
      ``detect.no_surrogates``: the grid's UTF-32 encode would raise);
    - form-feed rows: the document rule (``pipeline.routes_document``)
      picks ``"document"``; every other \\f row is ``"markup"``, the
      general machine, which folds \\f to \\n as ``extract_turn`` does;
    - ``<`` or ESC: ``"markup"``;
    - the rest, one line or many: ``"plain"``."""
    if t is None or not no_surrogates(t):
        return None
    if "\f" in t:
        return "document" if routes_document(t, role) else "markup"
    if "<" in t or "\x1b" in t:
        return "markup"
    return "plain"


def _error_row(t) -> tuple:
    """The per-turn path's ``(error_code, error_msg)`` for a row no
    stage takes: a null row is an InputError; a surrogate-bearing row is
    an InferenceError carrying the message of the UTF-32 encode that
    fails on it (every fold before the per-turn encode keeps the
    length, so the message's positions are the text's)."""
    if t is None:
        return ERR_INPUT, "null text"
    try:
        t.encode("utf-32-le")
    except UnicodeEncodeError as e:
        return ERR_INFERENCE, str(e)[:500]


def _document_batch(d_rows, config: EngineConfig, pool: _Pool) -> None:
    """The document stage (routing mode, ``routes_document`` rows).
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
        kept = [reg for reg in regions
                if reg.region_type in ("body", "table")]
        pool.add(i, [reg.text for reg in kept],
                 [(0, reg.page * LINE_HEIGHT, reg.end - reg.start,
                   LINE_HEIGHT, reg.start, reg.end, reg.region_type)
                  for reg in kept])


def _markup_batch(m_rows, config: EngineConfig, pool: _Pool) -> None:
    """The markup stage: detection + crop assembly for a batch of
    markup-bearing and general-machine form-feed turns, over ONE batch
    grid (``TurnGrid(texts)``: one character stream, its masks and line
    table built once). Detection is ``detect.find_text_boxes_batch`` and
    crops come from ``crop_box`` reading that stream — the general
    path's own functions, whose one-text case ``extract_turn`` runs.
    Every row appends its crops to the shared flat-decode pool."""
    grid = TurnGrid([t for _, t in m_rows])
    all_boxes = find_text_boxes_batch(grid, config)
    for r, ((i, _), boxes) in enumerate(zip(m_rows, all_boxes)):
        r_crops: list[str] = []
        r_metas: list[tuple] = []
        for box in boxes:
            crop, start, end = crop_box(grid, box, r)
            r_crops.append(crop)
            r_metas.append((box.left, box.top, box.width, box.height,
                            start, end, None))
        pool.add(i, r_crops, r_metas)


def _plain_batch(p_rows, config: EngineConfig, pool: _Pool) -> None:
    """The plain stage: per-LINE detection + crop assembly for a batch
    of plain turns (no markup, ANSI or form-feed; one line or many),
    with C-level string ops only — semantics verbatim from the general
    path (TurnGrid fold → line_scores → find_text_boxes → crop_box):

    - fold: ``\\r\\n`` → `` \\n`` (same length, offsets preserved),
      ``\\r`` → ``\\n``
    - per-line score: for text with no markup and no anchors the
      probability map is exactly 255 (any visible char, not boiler)
      or 0, so ON = visible and not boilerplate
    - one segment per ON line (no markup runs to split on); trim
      {tab, space}; drop width <= MIN_BOX_SIZE; expand by border,
      clamped to the line and the grid
    - the transitive merge is detect's fixpoint ITSELF (``_merge_ltrb``,
      the tuple kernel inside ``merge_overlapping_boxes``)
    - crop text: the covered lines' ``[left, right]`` slices joined by
      \\n (nothing to blank); spans via the box_span arithmetic

    Boxes stay ``(left, top, right, bottom)`` tuples end to end (the
    merge fixpoint runs on them anyway; no ``Box`` objects) and the
    config is read once per batch: a one-line turn, nearly every row
    of a document-shaped corpus, pays the line loop for one line
    (about 1 µs a row over straight-line code; BENCH/SCALING_NOTES.md).
    A crop whose entities mint '<' or ESC pools like any other: the
    flat decode scores its markup."""
    border = config.rect_border_size
    merge = config.merge_boxes
    threshold = config.merge_threshold
    for i, t in p_rows:
        if "\r" in t:
            t = t.replace("\r\n", " \n").replace("\r", "\n")
        lines = t.split("\n")
        bottom_max = len(lines) * LINE_HEIGHT - 1
        ltrb: list[tuple] = []
        offs: list[int] = []  # each line's offset in the folded text
        pos = 0
        for y, ln in enumerate(lines):
            n_ln = len(ln)
            offs.append(pos)
            pos += n_ln + 1
            c0 = n_ln - len(ln.lstrip(" \t"))
            if c0 == n_ln:  # empty or all-whitespace: score 0
                continue
            if ("[" in ln or "=" in ln) and is_boiler_line(ln):
                continue
            c1 = len(ln.rstrip(" \t")) - 1
            if c1 - c0 <= MIN_BOX_SIZE:
                continue
            top = y * LINE_HEIGHT + GLYPH_TOP - border
            bottom = y * LINE_HEIGHT + GLYPH_BOTTOM + border
            ltrb.append((c0 - border if c0 > border else 0,
                         top if top > 0 else 0,
                         c1 + border if c1 + border < n_ln else n_ln - 1,
                         bottom if bottom < bottom_max else bottom_max))
        if merge and len(ltrb) > 1:
            ltrb = _merge_ltrb(ltrb, threshold)
        r_crops: list[str] = []
        r_metas: list[tuple] = []
        for left, top, right, bottom in ltrb:
            y0 = top // LINE_HEIGHT
            y1 = bottom // LINE_HEIGHT
            b_right = right + 1
            n0 = len(lines[y0])
            n1 = len(lines[y1])
            start = offs[y0] + (left if left < n0 else n0)
            end = offs[y1] + (b_right if b_right < n1 else n1)
            if y0 == y1 or (left == 0 and b_right >= max(
                    map(len, lines[y0:y1 + 1]))):
                # a one-line box, or a full-width one (the dominant
                # merged shape: unindented text): the per-line slices
                # joined by \n ARE the folded text's [start, end)
                crop = t[start:end]
            else:
                crop = "\n".join([ln[left:b_right]
                                  for ln in lines[y0:y1 + 1]])
            r_crops.append(crop)
            r_metas.append((left, top, b_right - left, bottom - top + 1,
                            start, end, None))
        pool.add(i, r_crops, r_metas)


def _detect_stages(texts, config: EngineConfig, roles) -> _Pool:
    """Run the batch stages over ``texts`` (``str`` or ``None`` values):
    ``_stage`` picks each row's stage, and each stage adds its rows'
    raw crops and metas to the returned pool. ``pool.errors`` holds the
    rows no stage takes (their spans are empty). A span is ``None`` only
    where a stage raised: the caller contains that row per turn.
    ``roles`` as in ``extract_batch``."""
    n = len(texts)
    pool = _Pool(n)
    # each stage's rows, in row order: (row index, text)
    batched: dict[str, list[tuple]] = {"plain": [], "markup": [],
                                       "document": []}
    for i in range(n):
        t = texts[i]
        stage = _stage(t, None if roles is None else roles[i])
        if stage is None:
            pool.add(i, [], [])
            pool.errors[i] = _error_row(t)
        else:
            batched[stage].append((i, t))

    for batch_fn, batch_rows in ((_plain_batch, batched["plain"]),
                                 (_markup_batch, batched["markup"]),
                                 (_document_batch, batched["document"])):
        if not batch_rows:
            continue
        n_crop0 = len(pool.crops)
        try:
            batch_fn(batch_rows, config, pool)
        except Exception:
            # defensive backstop (no known trigger — surrogates are
            # gated up front and the batch machines reuse the exact
            # per-turn primitives): roll the pool back and leave every
            # row of this stage to the caller's per-turn containment
            del pool.crops[n_crop0:]
            del pool.metas[n_crop0:]
            for i, _ in batch_rows:
                pool.spans[i] = None
    return pool


def _batch_stages(texts, config: EngineConfig, roles) -> tuple[_Pool, list]:
    """``_detect_stages``, then ONE flat decode of its pool. Returns
    ``(pool, cols)``: ``cols`` are the per-crop block columns
    (``_BLOCK_COLS`` order, pool order), ``pool.spans[i]`` is row i's
    ``(k0, k1)`` slice of them and ``pool.errors`` holds the error rows.
    A span is ``None`` only where a stage or the pooled decode raised:
    the caller contains that row with the per-turn pipeline."""
    pool = _detect_stages(texts, config, roles)
    if pool.crops:
        try:
            return pool, _decode_flat(pool.crops, pool.metas, config)
        except Exception:
            # defensive backstop for a poison batch (no known trigger —
            # surrogates are gated up front and entity decode/NFC cannot
            # mint them): every row with crops goes to the per-turn
            # path, which keeps its own poison-row containment
            pool.spans = [None if s and s[0] != s[1] else s
                          for s in pool.spans]
    return pool, [[] for _ in _BLOCK_COLS]


def detect_batch(texts, config: EngineConfig = DEFAULT_CONFIG) -> list:
    """The ``spans``/``blocks`` kernel: ``extract_batch``'s stages
    without the decode or routing. Per row of ``texts`` (``str`` or
    ``None`` values), its crops in detection order as
    ``(crop, left, top, width, height, start, end)``, exactly what
    ``find_text_boxes``/``box_span``/``crop_box`` give for the row
    alone; ``[]`` for a null or surrogate-bearing row. A row whose
    stage raised is detected alone, and gets ``[]`` if that raises."""
    pool = _detect_stages(texts, config, None)
    crops, metas = pool.crops, pool.metas
    out: list = []
    for t, s in zip(texts, pool.spans):
        if s is not None:
            out.append([(crops[k], *metas[k][:6]) for k in range(*s)])
            continue
        try:
            grid = TurnGrid(t)
            row = []
            for b in find_text_boxes(grid, config):
                crop, start, end = crop_box(grid, b)
                row.append((crop, b.left, b.top, b.width, b.height,
                            start, end))
        except Exception:  # poison row must not kill the task
            row = []
        out.append(row)
    return out


def batch_extract_simple(
    texts, config: EngineConfig = DEFAULT_CONFIG,
    allow_formfeed: bool = False,
    roles=None,
) -> list:
    """The ``TurnResult`` view of ``extract_batch``'s batch stages, for
    callers that time them alone: a list aligned with ``texts`` (``str``
    or ``None`` values) holding, per row, the ``TurnResult`` that
    ``extract_turn_auto(t, role)`` (with ``roles``) or ``extract_turn(t)``
    (without) returns — or ``None`` where the caller must run the
    per-turn pipeline itself: a row whose stage or pooled decode raised,
    and, with no ``roles`` and ``allow_formfeed`` off, every form-feed
    row (the batch still answers it; the view holds it back)."""
    pool, cols = _batch_stages(texts, config, roles)
    hold_ff = roles is None and not allow_formfeed
    out: list = []
    for i, (t, s) in enumerate(zip(texts, pool.spans)):
        if s is None or (hold_ff and t is not None and "\f" in t):
            out.append(None)
            continue
        blocks = [Block(pos, *vals) for pos, vals in
                  enumerate(zip(*(c[s[0]:s[1]] for c in cols)))]
        out.append(TurnResult(blocks, "\n".join(cols[0][s[0]:s[1]]),
                              *pool.errors.get(i, (None, None))))
    return out


def extract_batch(texts, roles=None,
                  config: EngineConfig = DEFAULT_CONFIG) -> pa.RecordBatch:
    """Extract every row of ``texts`` (``str`` or ``None`` values) into
    one Arrow ``RecordBatch`` with the ``EXTRACT_RESULT_FIELDS``
    columns, row i answering ``texts[i]`` exactly as the per-turn path
    does. The batch stages answer every row; a row whose stage or
    pooled decode raised runs the per-turn ``pipeline.extract_turn_auto``
    and its ``TurnResult`` is spliced into the same columns.

    ``roles`` (aligned with ``texts``) turns on document routing,
    exactly ``extract_turn_auto(t, role)`` per row. ``roles=None`` means
    no routing, exactly ``extract_turn(t)`` per row: form-feed rows then
    run the markup stage."""
    pool, cols = _batch_stages(texts, config, roles)
    spans = pool.spans
    n = len(texts)
    full_text: list = [None] * n
    error_code: list = [None] * n
    error_msg: list = [None] * n
    for i, (code, msg) in pool.errors.items():
        error_code[i], error_msg[i] = code, msg
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
    """Decode MANY already-canonicalized crops as one flat codepoint
    array through the shared state machine. Returns ``(texts, confs)``
    aligned with ``canons`` — the (text, confidence) pair
    ``recognize_crop`` computes per crop, bit-identical (float32
    pairwise sum over the kept scores): the stream is scored by
    ``text_kinds``, the rule ``char_scores`` reads, markup included.
    Callers keep surrogate input out (the UTF-32 encode would raise).

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
    # the crops that hold '<', as stream rows: the only crops a tag,
    # comment or script can start in
    rows = []
    if "<" in flat:
        starts = (np.cumsum(seg) - seg).tolist()
        rows = [(a, a + len(c)) for a, c in zip(starts, canons) if "<" in c]

    # the shared machine over the WHOLE flat array in one call, scored
    # by the kind table (recognize.decode_kinds). The NUL separators
    # are BLANK and never markup: a crop boundary resets the state.
    f_cp, f_sc, f_id = decode_kinds(cp, text_kinds(flat, cp, rows), config,
                                    ids)

    # per-crop slice bounds in the kept stream (f_id ascending)
    bounds = np.searchsorted(f_id, np.arange(k + 1))
    n_kept = np.diff(bounds)
    bl = bounds.tolist()
    # decode the kept stream ONCE; per-crop text is then a plain string
    # slice (UTF-32 is fixed-width, so codepoint index == char index)
    full = f_cp.tobytes().decode("utf-32-le")
    texts = [full[a:b] for a, b in zip(bl, bl[1:])]
    # float32 pairwise sum per crop over the same-length slice, then
    # the float32 mean — the exact arithmetic of recognize_crop
    # (rec.rs:179-186); np.add.reduceat would sum sequentially and
    # change the bits. An empty crop scores 0.0.
    sums = np.array([np.add.reduce(f_sc[a:b], dtype=np.float32)
                     for a, b in zip(bl, bl[1:])], dtype=np.float32)
    confs = np.divide(sums, n_kept.astype(np.float32),
                      out=np.zeros(k, dtype=np.float32), where=n_kept > 0)
    return texts, confs.tolist()


def _decode_flat(crops, metas, config: EngineConfig) -> list[list]:
    """Canonicalize the pool's crops, decode them and classify them:
    the per-crop block columns in ``_BLOCK_COLS`` order. The one
    ``canonicalize`` call of the batch stages. Document-stage crops
    carry their layout region type in the meta instead of classifying
    the crop text."""
    max_lines = config.max_rec_lines
    canons = [canonicalize(c, max_lines) for c in crops]
    texts, confs = decode_canons_flat(canons, config)
    *geom, rtypes = zip(*metas)
    btypes = [rt if rt is not None else classify_block(c)
              for rt, c in zip(rtypes, canons)]
    return [texts, confs, btypes, *map(list, geom)]


def recognize_batch(texts, config: EngineConfig = DEFAULT_CONFIG):
    """Recognize each row of ``texts`` (``str`` or ``None`` values) as
    one block. Every row pools into one flat decode, except
    ``None`` rows and rows whose canon holds a surrogate (the per-row
    UTF-32 encode fails on it), which stay all-None. A pooled decode
    that raises is contained per row by ``recognize_crop``, and a
    poison row there stays all-None. Returns ``(texts, confs, btypes)``
    aligned with the input."""
    n = len(texts)
    dec: list = [None] * n
    confs: list = [None] * n
    btypes: list = [None] * n
    pool_idx, pool_canons = [], []
    for i, text in enumerate(texts):
        if text is None:
            continue
        try:
            canon = canonicalize(text, config.max_rec_lines)
        except Exception:  # poison row must not kill the task
            continue
        if no_surrogates(canon):
            pool_idx.append(i)
            pool_canons.append(canon)
            btypes[i] = classify_block(canon)
    if not pool_canons:
        return dec, confs, btypes
    try:
        p_texts, p_confs = decode_canons_flat(pool_canons, config)
        for i, t, c in zip(pool_idx, p_texts, p_confs):
            dec[i], confs[i] = t, c
    except Exception:  # poison pool → per-row containment
        for i in pool_idx:
            try:
                dec[i], confs[i], canon = recognize_crop(texts[i], config)
                btypes[i] = classify_block(canon)
            except Exception:  # poison row must not kill the task
                dec[i] = confs[i] = btypes[i] = None
    return dec, confs, btypes
