"""Shared low-level text-grid primitives (numpy-vectorized, no Spark).

The reference operates on pixel buffers; this engine operates on a
character grid: ``x`` = column within a line, ``y`` = line index scaled by
``LINE_HEIGHT`` sub-rows (see config.py). Everything here is deterministic
and pure so the same code backs both the single-node oracle and the Spark
Arrow stages.
"""

from __future__ import annotations

import re
from bisect import bisect_right

import numpy as np

from .config import (
    PUNCTUATIONS,
    SCORE_EDGE_PUNCT,
    SCORE_MARKUP,
    SCORE_OTHER,
    SCORE_PUNCT,
    SCORE_WORD,
)

# --- regex scanners ------------------------------------------------------

# order matters: comments / script / style are matched before generic tags
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|\Z)", re.DOTALL)
_SCRIPT_RE = re.compile(
    r"<(script|style)\b[^<>]*>.*?(?:</\1\s*>|\Z)", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(r"<[/!A-Za-z][^<>]*>")
_ANSI_RE = re.compile(r"\x1b\[[0-9;]*[A-Za-z]")

_A_BOUND_RE = re.compile(r"<a\b[^<>]*>|</a\s*>", re.IGNORECASE)

# layout-region markers treated as boilerplate lines (the PDF/layout parser
# path for embedded documents carried by tool turns)
# [HEADER]/[FOOTER]-marked lines are boilerplate wherever the marker leads
# the line; [PAGE n] markers must stand alone
_BOILER_LINE_RE = re.compile(
    r"^\s*(\[(HEADER|FOOTER)\]|\[PAGE\s+\d+\]\s*$|={3,}\s*PAGE\s+\d+\s*={3,}\s*$)",
    re.IGNORECASE,
)

_NL = 10  # ord("\n")


def codepoints(text: str) -> np.ndarray:
    """Text → uint32 codepoint array (zero-copy-ish via UTF-32)."""
    if not text:
        return np.empty(0, dtype=np.uint32)
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)


# Every mask below runs over one text or over a STREAM of many (a batch
# grid: each text followed by one gap slot). ``rows`` lists the
# ``(start, end)`` bounds of the stream's texts that contain ``<`` — the
# only texts a comment, script, tag or anchor can start in; ``None``
# means the whole text is one row. Each regex runs per row with
# ``finditer(text, start, end)``: with ``endpos``, ``\Z`` matches at the
# row end, so an unclosed comment or script stops there instead of
# running into the next row.


def _rows(text: str, rows):
    if rows is None:
        return [(0, len(text))] if "<" in text else []
    return rows


def _span_mask(n: int, starts, ends) -> np.ndarray:
    """Union of the half-open spans ``[starts[i], ends[i])`` as a
    length-``n`` mask, whatever the number of spans: the spans merge
    (sorted by start, a running max of the ends) into disjoint runs, and
    the mask is one ``np.repeat`` of alternating False/True run lengths
    — span-sized work plus one pass writing the mask, no stream-sized
    integer temporaries."""
    if not len(starts):
        return np.zeros(n, dtype=bool)
    order = np.argsort(starts, kind="stable")
    s = np.asarray(starts, dtype=np.int64)[order]
    e = np.maximum.accumulate(np.asarray(ends, dtype=np.int64)[order])
    first = np.flatnonzero(np.concatenate(([True], s[1:] > e[:-1])))
    run_s = s[first]
    run_e = e[np.append(first[1:] - 1, len(s) - 1)]
    lengths = np.empty(2 * len(first) + 1, dtype=np.int64)
    lengths[0::2] = np.append(run_s, n) - np.append(0, run_e)
    lengths[1::2] = run_e - run_s
    return np.repeat(np.arange(len(lengths)) % 2 == 1, lengths)


def opaque_mask(text: str, rows=None) -> np.ndarray:
    """Mask of OPAQUE markup regions — comments, <script>/<style>
    bodies, ANSI escapes — whose content must not influence any other
    analysis (in particular, an ``<a>`` inside a comment or a JS string
    is not a real anchor boundary)."""
    starts: list[int] = []
    ends: list[int] = []
    for s, e in _rows(text, rows):
        comments = [m.span() for m in _COMMENT_RE.finditer(text, s, e)]
        for m in _SCRIPT_RE.finditer(text, s, e):
            # comments really do match BEFORE script (the ordering the
            # header comment promises): a <script> opener inside a
            # comment is inert text, and honoring it would extend the
            # unclosed-script fallback mask over the rest of the turn —
            # '<!-- <script src=x> --> Visible.' must keep 'Visible.'.
            # Script matches never overlap each other, so only a
            # comment can hold an opener.
            p = m.start()
            if comments:
                k = bisect_right(comments, (p, e + 1)) - 1
                if k >= 0 and p < comments[k][1]:
                    continue
            starts.append(p)
            ends.append(m.end())
        for a, b in comments:
            starts.append(a)
            ends.append(b)
    # exact gate: every ANSI match contains ESC, and none can cross a
    # row (a gap slot is "\n", outside the escape's character class)
    if "\x1b" in text:
        for m in _ANSI_RE.finditer(text):
            starts.append(m.start())
            ends.append(m.end())
    return _span_mask(len(text), starts, ends)


def tag_spans(cp: np.ndarray, row_ends) -> tuple[np.ndarray, np.ndarray]:
    """Every ``_TAG_RE`` match, vectorized: ``(starts, ends)``, half-open.
    A tag is ``<``, then ``[/!A-Za-z]``, then ``[^<>]*`` up to ``>``, so
    it is exactly a ``<`` + opener char whose first delimiter after it
    is a ``>`` — the delimiters being ``<``, ``>`` and the row ends
    (``row_ends``: the end of every row holding a ``<``; a gap slot, or
    ``len(cp)``). Taking the gaps as positions, not as newlines, matters:
    ``[^<>]*`` crosses the newlines inside a row. The matches cannot
    overlap (a tag holds no ``<`` but its first char), which is also
    what ``finditer`` returns."""
    n = len(cp)
    lt = np.flatnonzero(cp == 0x3C)
    p = lt[lt + 1 < n]
    c = cp[p + 1]
    low = c | 0x20
    p = p[(c == 0x2F) | (c == 0x21) | ((low >= 0x61) & (low <= 0x7A))]
    delim = np.sort(np.concatenate(
        (lt, np.flatnonzero(cp == 0x3E), np.asarray(row_ends, np.int64))))
    q = delim[np.searchsorted(delim, p, side="right")]
    tag = q < n
    p, q = p[tag], q[tag]
    tag = cp[q] == 0x3E
    return p[tag], q[tag] + 1


def markup_mask(text: str, opaque: np.ndarray | None = None, rows=None,
                cp: np.ndarray | None = None) -> np.ndarray:
    """Boolean mask of characters that belong to markup: opaque regions
    (see :func:`opaque_mask`) plus tags (:func:`tag_spans`). ``cp``, if
    given, is ``codepoints(text)``.

    Analog of the zero-probability background pixels in the reference's
    probability map (det.rs:339-346): markup never contributes to a
    detected region.
    """
    rows = _rows(text, rows)
    mask = opaque_mask(text, rows) if opaque is None else opaque
    if not rows:  # exact gate: every tag contains '<'
        return mask if opaque is None else mask.copy()
    s, e = tag_spans(codepoints(text) if cp is None else cp,
                     [end for _, end in rows])
    return mask | _span_mask(len(text), s, e)


def anchor_mask(text: str, opaque: np.ndarray | None = None,
                rows=None) -> np.ndarray:
    """Boolean mask of characters inside <a>…</a> (the link-density
    numerator). Nested/unbalanced anchors handled with a per-row depth
    counter; an unclosed <a> extends to the end of its row. Anchor
    boundaries inside opaque markup (comments / script bodies) are
    ignored — a commented-out ``<a>`` must not flag the rest of the turn
    as link text."""
    rows = _rows(text, rows)
    if not rows:  # exact gate: anchor boundaries require '<'
        return np.zeros(len(text), dtype=bool)
    if opaque is None:
        opaque = opaque_mask(text, rows)
    opq = opaque.tobytes()  # one byte per char: cheap scalar lookups
    starts: list[int] = []
    ends: list[int] = []
    for s, e in rows:
        depth = 0
        pos = s
        for m in _A_BOUND_RE.finditer(text, s, e):
            p = m.start()
            if opq[p]:
                continue
            if depth > 0:
                starts.append(pos)
                ends.append(p)
            if text[p + 1] == "/":
                depth = max(0, depth - 1)
            else:
                depth += 1
            pos = m.end()
        if depth > 0:
            starts.append(pos)
            ends.append(e)
    return _span_mask(len(text), starts, ends)


def is_boiler_line(line: str) -> bool:
    return _BOILER_LINE_RE.match(line) is not None


# --- character classification (vectorized over codepoints) ---------------

_PUNCT_CODES = np.array(sorted(ord(c) for c in PUNCTUATIONS), dtype=np.uint32)

# 64 KB boolean LUT over the BMP: every punctuation/word codepoint is
# < 0x10000, so membership becomes one vectorized np.take with mode="clip"
# (astral codepoints clip to 0xFFFF which is in neither set) — ~50× faster
# than np.isin, which re-sorts per call and dominated the per-turn profile.
_PUNCT_LUT = np.zeros(0x10000, dtype=bool)
_PUNCT_LUT[_PUNCT_CODES] = True
assert not _PUNCT_LUT[0xFFFF]

# inclusive codepoint ranges scored as "word" characters (letters, digits,
# CJK, kana, hangul, fullwidth alnum). Deliberately range-based (no
# unicodedata) so the classification is trivially vectorizable and
# identical everywhere.
_WORD_RANGES = np.array(
    [
        (0x30, 0x39), (0x41, 0x5A), (0x61, 0x7A),          # ASCII alnum
        (0xC0, 0xD6), (0xD8, 0xF6), (0xF8, 0x17F),         # Latin-1/Ext-A
        (0x370, 0x3FF), (0x400, 0x4FF),                    # Greek, Cyrillic
        (0x3040, 0x30FF),                                  # kana
        (0x3400, 0x4DBF), (0x4E00, 0x9FFF),                # CJK
        (0xAC00, 0xD7AF),                                  # hangul
        (0xFF10, 0xFF19), (0xFF21, 0xFF3A), (0xFF41, 0xFF5A),  # fullwidth
    ],
    dtype=np.uint32,
)


_WORD_LUT = np.zeros(0x10000, dtype=bool)
for _lo, _hi in _WORD_RANGES:
    _WORD_LUT[_lo:_hi + 1] = True
assert not _WORD_LUT[0xFFFF]


def punct_mask(cp: np.ndarray) -> np.ndarray:
    return np.take(_PUNCT_LUT, cp.astype(np.intp, copy=False), mode="clip")


# The recognizer scores a character by its KIND. Away from markup the
# kind depends only on the codepoint, so every BMP codepoint maps to one
# of four base kinds (astral codepoints clip to 0xFFFF, an OTHER like
# every astral codepoint): word/space/newline score SCORE_WORD,
# punctuation SCORE_PUNCT (overriding word), control chars but \n are
# BLANK (CTC blanks), the rest OTHER. ``text_kinds`` adds the three
# markup kinds. ``char_scores`` and the recognizer's flat decode both
# score through this one table.
(KIND_BLANK, KIND_WORD, KIND_PUNCT, KIND_OTHER, KIND_EDGE_PUNCT,
 KIND_MARKUP, KIND_MARKUP_PUNCT) = range(7)
KIND_SCORE = np.array([SCORE_OTHER, SCORE_WORD, SCORE_PUNCT, SCORE_OTHER,
                       SCORE_EDGE_PUNCT, SCORE_MARKUP, SCORE_MARKUP],
                      dtype=np.float32)
# the punctuation kinds: the decode's punct threshold and repeat rule
# key on the codepoint, so markup punctuation stays a kind of its own
KIND_IS_PUNCT = np.isin(np.arange(len(KIND_SCORE)),
                        (KIND_PUNCT, KIND_EDGE_PUNCT, KIND_MARKUP_PUNCT))
_KIND_LUT = np.full(0x10000, KIND_OTHER, dtype=np.uint8)
_KIND_LUT[_WORD_LUT] = KIND_WORD
_KIND_LUT[[0x20, _NL]] = KIND_WORD
_KIND_LUT[_PUNCT_LUT] = KIND_PUNCT
_KIND_LUT[[c for c in range(0x20) if c != _NL]] = KIND_BLANK
assert not (_WORD_LUT[:0x20].any() or _PUNCT_LUT[:0x20].any())


def char_kinds(cp: np.ndarray) -> np.ndarray:
    return np.take(_KIND_LUT, cp.astype(np.intp, copy=False), mode="clip")


def text_kinds(text: str, cp: np.ndarray, rows=None) -> np.ndarray:
    """Per character of ``text`` (``cp`` = ``codepoints(text)``), its
    scoring kind: the codepoint's base kind, except that markup
    characters (``markup_mask``) are MARKUP, or MARKUP_PUNCT when they
    are punctuation, and punctuation next to markup is EDGE_PUNCT —
    borderline confidence, which exercises the rec.rs:373-377 branch
    (kept, last_char untouched). Markup is never BLANK.

    ``rows`` as for the masks: over a stream of crops (each followed by
    a separator that is never markup) it lists the crops that hold
    ``<``, and since no markup span or edge crosses a separator, every
    crop's kinds equal those of the crop alone."""
    kind = char_kinds(cp)
    if "<" not in text and "\x1b" not in text:  # exact gate, as the masks'
        return kind
    mk = markup_mask(text, rows=rows, cp=cp)
    if mk.any():
        adj = np.zeros(len(cp), dtype=bool)
        adj[:-1] |= mk[1:]
        adj[1:] |= mk[:-1]
        punct = kind == KIND_PUNCT
        kind[punct & adj] = KIND_EDGE_PUNCT
        kind[mk] = np.where(punct[mk], KIND_MARKUP_PUNCT, KIND_MARKUP)
    return kind


def char_scores(text: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The deterministic "recognition model" (analog of Rec::run_model's
    argmax+score pass, rec.rs:341-357): per character, a confidence in
    [0,1] plus a blank mask, both read off ``text_kinds``.

    Returns ``(cp, scores, blank)`` where blank characters act like CTC
    index 0 (reset ``last_char``, emit nothing).
    """
    cp = codepoints(text)
    kind = text_kinds(text, cp)
    return cp, KIND_SCORE[kind], kind == KIND_BLANK
