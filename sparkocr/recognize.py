"""Stage 2 — recognition: decode one cropped block into clean text.

Pipeline (reference analog in parens, all /root/reference/src/rec.rs):

1. canonicalize: NFC, newline/tab folding, HTML entity decode, "resize"
   to at most 48 lines                       (preprocess, rec.rs:226-251)
2. deterministic per-char confidence model   (run_model argmax, rec.rs:341-357)
3. CTC-style greedy decode: blanks reset, repeats dropped except
   punctuation, dual thresholds 0.6/0.1 with the 0.8×punct borderline
   branch that keeps the char WITHOUT touching last_char
                                             (rec.rs:359-383)
4. consecutive-identical-punctuation collapse (rec.rs:385-398)
5. avg confidence over decoded chars, ("",0.0) when empty
                                             (predict_with_confidence, rec.rs:172-187)

The decode state machine is fully vectorized (numpy): positions are
classified RESET / HIGH / BORDERLINE; for every HIGH position the previous
state-changing position decides duplicate suppression, computed with one
running-max pass — or, when no position is BORDERLINE, simply i-1 — no
per-char Python. The batch flat decode classifies every crop through
the kind table (``decode_kinds``), not per-char scores.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np

from .config import DEFAULT_CONFIG, EngineConfig
from .textgrid import (
    KIND_BLANK,
    KIND_IS_PUNCT,
    KIND_SCORE,
    char_scores,
    punct_mask,
)

_ENTITY_RE = re.compile(r"&(amp|lt|gt|quot|apos|nbsp|#\d{1,7});")
_ENTITY_MAP = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'", "nbsp": " ",
}


def _entity_sub(m: re.Match) -> str:
    g = m.group(1)
    if g.startswith("#"):
        code = int(g[1:])
        # surrogates (D800-DFFF) are not characters: chr() accepts them
        # but any later UTF-32/UTF-8 encode raises — treat like >10FFFF
        if code > 0x10FFFF or 0xD800 <= code <= 0xDFFF:
            return m.group(0)
        return chr(code)
    return _ENTITY_MAP[g]


def canonicalize(text: str, max_lines: int | None = 48) -> str:
    """R1 preprocess: the text analog of "resize to height 48 keeping
    aspect" (rec.rs:228-231) — NFC normalize, fold newlines/tabs, decode
    entities, and if taller than ``max_lines`` lines, resample lines
    uniformly (index i → line i*h//48, the resize_exact analog)."""
    # quick-check gates (exact): most crops are already NFC and carry no
    # entities — skip the normalize table walk / regex sub on those
    t = text if unicodedata.is_normalized("NFC", text) \
        else unicodedata.normalize("NFC", text)
    t = t.replace("\r\n", "\n").replace("\r", "\n").replace("\f", "\n")
    t = t.replace("\t", " ")
    if "&" in t:
        t = _ENTITY_RE.sub(_entity_sub, t)
    lines = t.split("\n")
    h = len(lines)
    # max_lines=None: no resample (the corpus-normalization mode —
    # resampling is a recognition-geometry concern only)
    if max_lines is not None and h > max_lines:
        lines = [lines[(i * h) // max_lines] for i in range(max_lines)]
        t = "\n".join(lines)
    return t


# vocab LUTs memoized by dictionary identity (hashing an 18k-char tuple
# per decode call would cost more than the lookup itself); the config
# object keeps the tuple alive, so id-keying is safe for its lifetime
_VOCAB_CACHE: dict[int, tuple] = {}


def _in_vocab(cp: np.ndarray, dictionary: tuple) -> np.ndarray:
    entry = _VOCAB_CACHE.get(id(dictionary))
    if entry is None or entry[0] is not dictionary:
        from .keys import vocab_lut

        lut, astral = vocab_lut(dictionary)
        entry = (dictionary, lut,
                 np.array(sorted(astral), dtype=np.uint32) if astral else None)
        if len(_VOCAB_CACHE) >= 16:  # bound: workloads minting configs
            _VOCAB_CACHE.clear()     # per call must not leak LUTs forever
        _VOCAB_CACHE[id(dictionary)] = entry
    _, lut, astral_arr = entry
    ok = np.take(lut, cp.astype(np.intp, copy=False), mode="clip")
    if astral_arr is not None:
        ok = ok | np.isin(cp, astral_arr)
    return ok


def decode(
    cp: np.ndarray,
    scores: np.ndarray,
    blank: np.ndarray,
    config: EngineConfig = DEFAULT_CONFIG,
):
    """R3+R4+R5 greedy decode. Returns (codepoints, scores) of the kept
    characters, in order. Semantics verbatim from rec.rs:344-398:

    - blank position → last_char = None, emit nothing
    - score > threshold (punct 0.1 else 0.6):
        emit unless last_char == ch and ch not punctuation; last_char = ch
    - else if punctuation and score > 0.8*0.1: emit, last_char UNCHANGED
    - else: last_char = None
    - post-pass: consecutive identical punctuation collapsed to the first

    This is THE single home of the decode state machine
    (``_classify`` → ``_emit`` → ``_punct_collapse``).
    ``decode_kinds`` — the Arrow-batch flat decode's entry — feeds
    the same machine from the kind table instead of per-char scores.
    """
    n = len(cp)
    if n == 0:
        return cp, scores
    if config.dictionary is not None:
        # out-of-vocabulary characters act as CTC blanks (the argmax can
        # only land inside the keys table, rec.rs:16; an unrecognizable
        # glyph yields blank): emit nothing AND reset last_char
        blank = blank | ~_in_vocab(cp, config.dictionary)
    punct = punct_mask(cp)
    high, borderline = _classify(scores, blank, punct, config)
    emit = _emit(cp, high, borderline if borderline.any() else None, punct,
                 None)
    return _punct_collapse(cp[emit], scores[emit], punct[emit], None)


def _classify(scores, blank, punct, config: EngineConfig):
    """The threshold step: ``(high, borderline)``. HIGH sets last_char;
    BORDERLINE (punctuation failing its threshold but above 0.8 of it)
    is kept with the state untouched; everything else is a RESET."""
    thr = np.where(punct, np.float32(config.punct_min_score),
                   np.float32(config.min_score))
    high = (scores > thr) & ~blank
    borderline = (
        ~high & ~blank & punct
        & (scores > np.float32(config.punct_min_score) * np.float32(0.8))
    )
    return high, borderline


def _emit(cp, high, borderline, punct, seg_ids):
    """The state machine: which positions are emitted. ``borderline``
    is ``None`` when no position is BORDERLINE; ``seg_ids`` is
    ``decode_kinds``' crop ids, ``None`` for one crop."""
    n = len(cp)
    if borderline is None:
        # every position is HIGH or RESET, both state-changing: the
        # previous state-changing position is simply i-1, so the repeat
        # rule reduces to one shifted comparison
        dup = np.zeros(n, dtype=bool)
        dup[1:] = high[:-1] & (cp[1:] == cp[:-1]) & ~punct[1:]
        if seg_ids is not None:
            dup[1:] &= seg_ids[1:] == seg_ids[:-1]
        return high & ~dup
    # previous state-changing position (the last index < i that is not
    # BORDERLINE) via one running-max pass; positions with no
    # predecessor read -1. When every position is BORDERLINE (possible
    # under custom thresholds) prev stays -1 everywhere and nothing is a
    # repeat.
    state_pos = np.where(borderline, np.int32(-1),
                         np.arange(n, dtype=np.int32))
    prev = np.empty(n, dtype=np.int32)
    prev[:1] = -1
    np.maximum.accumulate(state_pos[:-1], out=prev[1:])
    prev_safe = np.maximum(prev, 0)
    dup = (
        high & ~punct & (prev >= 0)
        & high[prev_safe] & (cp[prev_safe] == cp)
    )
    if seg_ids is not None:
        dup &= seg_ids[prev_safe] == seg_ids
    return (high & ~dup) | borderline


_KINDS = np.arange(len(KIND_SCORE))


def decode_kinds(cp: np.ndarray, kind: np.ndarray, config: EngineConfig,
                 seg_ids: np.ndarray):
    """``decode`` of ``char_scores``' scoring, from the kind table: the
    score of a character is the score of its kind (``kind`` =
    ``textgrid.text_kinds``), so ``_classify`` runs once on the kinds —
    ``config``'s (high, borderline) per kind — and the per-position
    masks are lookups. No per-char score or threshold pass; the kept
    characters' scores are looked up at the end. Out-of-vocabulary
    characters (a ``config.dictionary``) become BLANK. When no
    POSITION is BORDERLINE (EDGE_PUNCT is a borderline kind under the
    default thresholds, but only markup-bearing crops hold it), the
    machine takes its "previous state-changing position = i-1" branch.

    ``cp`` is a FLAT CONCATENATION of independent crops and ``seg_ids``
    (same length) each position's crop id: the repeat rule and the
    punct collapse are id-guarded so no state crosses a crop boundary.
    Returns the kept characters' ``(codepoints, scores, crop ids)``."""
    if config.dictionary is not None:
        kind = np.where(_in_vocab(cp, config.dictionary), kind,
                        np.uint8(KIND_BLANK))
    high, borderline = _classify(KIND_SCORE, _KINDS == KIND_BLANK,
                                 KIND_IS_PUNCT, config)
    border = borderline[kind]
    emit = _emit(cp, high[kind], border if border.any() else None,
                 KIND_IS_PUNCT[kind], seg_ids)
    e_kind = kind[emit]
    return _punct_collapse(cp[emit], KIND_SCORE[e_kind],
                           KIND_IS_PUNCT[e_kind], seg_ids[emit])


def _punct_collapse(e_cp, e_sc, e_punct, e_id):
    """R5 post-pass: consecutive identical punctuation collapses to the
    first — id-guarded when decoding a flat multi-crop array (a crop's
    first emitted char never collapses against the previous crop's
    last)."""
    if len(e_cp) == 0:
        return (e_cp, e_sc) if e_id is None else (e_cp, e_sc, e_id)
    keep = np.ones(len(e_cp), dtype=bool)
    keep[1:] = ~(e_punct[1:] & (e_cp[1:] == e_cp[:-1]))
    if e_id is not None:
        keep[1:] |= e_id[1:] != e_id[:-1]
        return e_cp[keep], e_sc[keep], e_id[keep]
    return e_cp[keep], e_sc[keep]


def _decode_canon(
    canon: str, config: EngineConfig
) -> tuple[str, np.ndarray]:
    """Score + decode one canonical crop → (decoded text, per-char
    scores of the kept characters)."""
    cp, scores, blank = char_scores(canon)
    d_cp, d_sc = decode(cp, scores, blank, config)
    return d_cp.tobytes().decode("utf-32-le"), d_sc


def recognize_crop(
    crop: str, config: EngineConfig = DEFAULT_CONFIG
) -> tuple[str, float, str]:
    """Canonicalize + decode one cropped block → (text, avg_confidence,
    canonical form). THE single home of the decode/confidence arithmetic
    (float32 average, rec.rs:179-186) — engine UDFs and the per-turn
    pipeline both call this so the math can never diverge."""
    canon = canonicalize(crop, config.max_rec_lines)
    text, d_sc = _decode_canon(canon, config)
    if len(d_sc) == 0:
        conf = 0.0
    else:
        conf = float(np.float32(d_sc.sum(dtype=np.float32)) / np.float32(len(d_sc)))
    return text, conf, canon


def predict_char_score(
    text: str, config: EngineConfig = DEFAULT_CONFIG
) -> tuple[str, np.ndarray]:
    """R6 (rec.rs:152-159): crop text → (decoded text, per-char scores)."""
    return _decode_canon(canonicalize(text, config.max_rec_lines), config)


def predict_str(text: str, config: EngineConfig = DEFAULT_CONFIG) -> str:
    """R7 (rec.rs:164-167)."""
    return predict_char_score(text, config)[0]


def predict_with_confidence(
    text: str, config: EngineConfig = DEFAULT_CONFIG
) -> tuple[str, float]:
    """R8 (rec.rs:172-187): avg f32 confidence; ("",0.0) when empty."""
    return recognize_crop(text, config)[:2]


_LIST_RE = re.compile(r"\s*([-*•]|\d+[.)])\s")


def classify_block(canon_text: str) -> str:
    """DOM-heuristic block classification (north-star addition; the analog
    of per-token content classification, R2). Deterministic rules over the
    canonicalized crop: code fences / indented code, list markers, table
    pipes, else prose; no visible lines → empty."""
    if "```" in canon_text:
        return "code"
    if "\n" not in canon_text:
        # single-line fast path — the dominant call shape in the flat
        # decode pool (one crop ≈ one line); same rules, n = 1, without
        # the split/filter/three-generator scan
        if not canon_text.strip():
            return "empty"
        if canon_text.startswith("    "):
            return "code"
        if _LIST_RE.match(canon_text):
            return "list"
        if canon_text.count("|") >= 2:
            return "table"
        return "prose"
    lines = [l for l in canon_text.split("\n") if l.strip()]
    if not lines:
        return "empty"
    n = len(lines)
    if sum(1 for l in lines if l.startswith("    ")) * 2 >= n:
        return "code"
    if sum(1 for l in lines if _LIST_RE.match(l)) * 2 >= n:
        return "list"
    if sum(1 for l in lines if l.count("|") >= 2) * 2 >= n:
        return "table"
    return "prose"
