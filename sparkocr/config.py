"""Engine configuration and constants.

Mirrors the reference engine's tunables (same names, same defaults):

- ``rect_border_size`` — box border expansion, default 10
  (/root/reference/src/det.rs:29 ``RECT_BORDER_SIZE``); the reference CLI
  uses 12 (/root/reference/src/main.rs:114).
- ``merge_boxes`` / ``merge_threshold`` — overlap merge toggle + horizontal
  slack, default threshold 1 (/root/reference/src/det.rs:41).
- ``min_score`` / ``punct_min_score`` — recognition confidence thresholds,
  0.6 / 0.1 (/root/reference/src/rec.rs:24-25).

Text-grid constants are engine-native (the reference works in pixels; we
work in a character grid — one text line = one 48-sub-row band whose
"glyph" occupies rows 16..31, leaving 16 rows of padding on either side so
the default border expansion never crosses into a neighboring line band).
"""

from __future__ import annotations

from dataclasses import dataclass

# --- detection constants (values from /root/reference/src/det.rs) -------
THRESHOLD = 200          # binarization threshold on 0..255 scores (det.rs:33)
MIN_BOX_SIZE = 5         # boxes with width<=5 or height<=5 dropped (det.rs:37)
RECT_BORDER_SIZE = 10    # default border expansion (det.rs:29)
DEFAULT_MERGE_THRESHOLD = 1  # horizontal merge slack (det.rs:41)
VERTICAL_CLOSENESS = 0.4     # fraction of min box height (det.rs:448)

# --- text-grid geometry (engine-native) ---------------------------------
LINE_HEIGHT = 48   # grid sub-rows per text line
GLYPH_TOP = 16     # glyph band start offset within a line band
GLYPH_BOTTOM = 31  # glyph band end offset (inclusive)

# weight of a markup character when computing line text-density; markup
# "pixels" are background, but inline tags should not sink a prose line
# below the binarization threshold.
MARKUP_WEIGHT = 0.25

# --- recognition constants (values from /root/reference/src/rec.rs) -----
MIN_SCORE_DEFAULT = 0.6        # rec.rs:24
PUNCT_MIN_SCORE_DEFAULT = 0.1  # rec.rs:25
REC_MAX_LINES = 48             # analog of "resize to height 48" (rec.rs:228)

# the 49-char punctuation set, copied verbatim from rec.rs:27-31
PUNCTUATIONS = (
    ",", ".", "!", "?", ";", ":", '"', "'", "(", ")", "[", "]", "{", "}",
    "-", "_", "/", "\\", "|", "@", "#", "$", "%", "&", "*", "+", "=", "~",
    "，", "。", "！", "？", "；", "：", "、", "「", "」", "『", "』",
    "（", "）", "【", "】", "《", "》", "—", "…", "·", "～",
)
assert len(PUNCTUATIONS) == 49

# deterministic per-char confidences emitted by the "recognition model"
SCORE_WORD = 0.95       # letters / digits / CJK / kana / hangul, space, \n
SCORE_PUNCT = 0.30      # punctuation in PUNCTUATIONS (passes 0.1, fails 0.6)
SCORE_EDGE_PUNCT = 0.09 # punctuation adjacent to markup: borderline branch
                        # (0.09 > 0.8*0.1 → kept without touching last_char,
                        # mirroring rec.rs:373-377)
SCORE_MARKUP = 0.05     # characters inside tags/comments/ANSI → dropped
SCORE_OTHER = 0.50      # anything else (emoji, stray '>' …) → dropped


@dataclass(frozen=True)
class EngineConfig:
    """Engine-level scalar parameters (analog of Det/Rec builder knobs,
    det.rs:97-116 and rec.rs:131-141, and ``OcrEngine::new_with_config``
    engine.rs:122-129)."""

    rect_border_size: int = RECT_BORDER_SIZE
    # deviation from the reference default (false): multi-line paragraph
    # assembly is the point of block merge for transcripts, so the engine
    # default enables it; ``False`` restores per-line blocks.
    merge_boxes: bool = True
    merge_threshold: int = DEFAULT_MERGE_THRESHOLD
    min_score: float = MIN_SCORE_DEFAULT
    punct_min_score: float = PUNCT_MIN_SCORE_DEFAULT
    max_rec_lines: int = REC_MAX_LINES
    # optional character vocabulary (the keys file, rec.rs:55-59):
    # None = unrestricted; otherwise out-of-vocabulary characters decode
    # as CTC blanks (see sparkocr.keys). Sorted tuple for hash stability.
    dictionary: tuple = None

    def with_overrides(self, **kw) -> "EngineConfig":
        d = self.__dict__.copy()
        d.update(kw)
        return EngineConfig(**d)

    # builder parity with the reference's Det (det.rs:97-116) and Rec
    # (rec.rs:131-141) fluent setters — each returns a new frozen config
    def with_rect_border_size(self, v: int) -> "EngineConfig":
        return self.with_overrides(rect_border_size=v)

    def with_merge_boxes(self, v: bool) -> "EngineConfig":
        return self.with_overrides(merge_boxes=v)

    def with_merge_threshold(self, v: int) -> "EngineConfig":
        return self.with_overrides(merge_threshold=v)

    def with_min_score(self, v: float) -> "EngineConfig":
        return self.with_overrides(min_score=v)

    def with_punct_min_score(self, v: float) -> "EngineConfig":
        return self.with_overrides(punct_min_score=v)

    def with_dictionary(self, keys) -> "EngineConfig":
        """Restrict recognition to a character vocabulary (keys-file
        parity, Rec::from_bytes_with_keys rec.rs:102-126). ``keys`` is
        any iterable of characters (or None to clear)."""
        if keys is None:
            return self.with_overrides(dictionary=None)
        from .keys import normalize_keys

        return self.with_overrides(dictionary=normalize_keys(keys))


# the configuration the flagship pipeline runs with (CLI parity: border 12,
# merge threshold 1 — main.rs:114 — plus engine-default merge enabled)
FLAGSHIP_CONFIG = EngineConfig(rect_border_size=12, merge_boxes=True,
                               merge_threshold=1)

DEFAULT_CONFIG = EngineConfig()
