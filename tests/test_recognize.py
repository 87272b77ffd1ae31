"""Operator-level unit tests for the recognition stage (SURVEY.md §2.4:
R1-R9). Decode-cascade semantics pinned to rec.rs:344-398 verbatim:
dual thresholds 0.6/0.1, the 0.8×punct borderline branch that keeps the
char WITHOUT touching last_char, dedupe-except-punct, punct-run collapse."""

import numpy as np

from sparkocr.config import DEFAULT_CONFIG, EngineConfig, PUNCTUATIONS
from sparkocr.recognize import (
    canonicalize,
    classify_block,
    decode,
    predict_str,
    predict_with_confidence,
)
from sparkocr.textgrid import char_scores


# --- R1: canonicalize ----------------------------------------------------

def test_canonicalize_entities_and_whitespace():
    assert canonicalize("Tom &amp; Jerry\t&quot;hi&quot;") == 'Tom & Jerry "hi"'
    assert canonicalize("a\r\nb\rc\fd") == "a\nb\nc\nd"
    assert canonicalize("&#65;&#19968;") == "A一"
    assert canonicalize("&bogus;") == "&bogus;"


def test_canonicalize_resize_to_48_lines():
    text = "\n".join(f"line{i}" for i in range(96))
    out = canonicalize(text).split("\n")
    assert len(out) == 48
    assert out[0] == "line0" and out[1] == "line2"  # i*96//48 sampling


def test_canonicalize_nfc():
    assert canonicalize("é") == "é"  # é composed


# --- R2/R3/R4: decode cascade -------------------------------------------

def test_dedupe_drops_repeated_word_chars():
    assert predict_str("bookkeeper") == "bokeper"
    assert predict_str("aaaa") == "a"


def test_punct_repeats_emitted_then_collapsed():
    # R3 allows punct repeats, R5 collapses identical runs (rec.rs:385-398)
    assert predict_str("wait!!! what???") == "wait! what?"
    assert predict_str("=====") == "="
    assert predict_str(".....") == "."
    assert predict_str("a.b.c") == "a.b.c"          # non-adjacent kept
    assert predict_str("!?!?") == "!?!?"            # alternating kept


def test_space_and_newline_are_vocab_chars():
    assert predict_str("hero  world") == "hero world"  # double space collapses
    assert predict_str("one\n\ntwo") == "one\ntwo"


def test_markup_dropped_and_resets_last_char():
    # markup chars score 0.05 → dropped; reset means the repeated 'a'
    # after the tag is NOT deduped against the one before it
    assert predict_str("a<b>a") == "aa"
    assert predict_str('<a href="/x">Home</a>') == "Home"


def test_borderline_punct_adjacent_to_markup_kept():
    # '.' adjacent to markup scores 0.09: fails punct threshold 0.1 but
    # passes 0.8*0.1 → kept, last_char untouched (rec.rs:373-377)
    assert predict_str("end.<br>") == "end."
    # last_char preserved ACROSS a borderline char: x . x with '.' at 0.09
    # → '.' emitted, second x deduped against the first (state untouched)
    cp = np.frombuffer("x.x".encode("utf-32-le"), dtype=np.uint32)
    scores = np.array([0.95, 0.09, 0.95], dtype=np.float32)
    blank = np.zeros(3, dtype=bool)
    d_cp, _ = decode(cp, scores, blank)
    assert d_cp.tobytes().decode("utf-32-le") == "x."


def test_other_chars_dropped_with_reset():
    # '^' scores 0.5 → dropped, resets last_char → both 'a's survive
    assert predict_str("a^a") == "aa"
    # stray '>' outside a tag is "other" → dropped with reset, so the
    # space dedupe does NOT bridge across it (two spaces survive)
    assert predict_str("5 > 3 yes") == "5  3 yes"


def test_ansi_escapes_stripped():
    # ANSI escapes are markup (dropped); 'EE' collapses per CTC semantics
    assert predict_str("\x1b[32mGREEN\x1b[0m text") == "GREN text"


def test_control_chars_are_blanks():
    assert predict_str("ab\x00ab") == "abab"


# --- R5 collapse interplay ----------------------------------------------

def test_punct_collapse_only_identical():
    assert predict_str("a-_-b") == "a-_-b"
    assert predict_str("a--__b") == "a-_b"


# --- R8: confidence ------------------------------------------------------

def test_confidence_empty():
    assert predict_with_confidence("") == ("", 0.0)
    assert predict_with_confidence("<div></div>") == ("", 0.0)


def test_confidence_average_f32():
    text, conf = predict_with_confidence("ab.")
    assert text == "ab."
    expected = np.float32((0.95 + 0.95 + 0.30)) / np.float32(3)
    assert abs(conf - float(expected)) < 1e-6


def test_all_49_punctuations_recognized():
    for ch in PUNCTUATIONS:
        out = predict_str(f"abc{ch}xyz")
        assert out == f"abc{ch}xyz", repr(ch)


# --- custom thresholds (with_min_score / with_punct_min_score) -----------

def test_custom_min_score_drops_word_chars():
    cfg = EngineConfig(min_score=0.99)
    # word chars score 0.95 → all dropped; punct 0.30 still passes 0.1
    assert predict_str("abc.", cfg) == "."


def test_custom_punct_threshold():
    cfg = EngineConfig(punct_min_score=0.5)
    # punct scores 0.30 → fails 0.5 and fails 0.8*0.5 → dropped
    assert predict_str("abc.", cfg) == "abc"


# --- block classification -------------------------------------------------

def test_classify_block():
    assert classify_block("just some prose\nand more prose") == "prose"
    assert classify_block("- one\n- two\n- three") == "list"
    assert classify_block("```\nx=1\n```") == "code"
    assert classify_block("    indented()\n    code()") == "code"
    assert classify_block("a | b | c\nd | e | f") == "table"
    assert classify_block("   \n  ") == "empty"


# --- vectorized decode equals a literal transcription of rec.rs ----------

def is_punct_char(ch: str) -> bool:
    """The punctuation rule, written independently of the LUT the
    vectorized decode uses."""
    return ch in PUNCTUATIONS


def _decode_rust_literal(cp, scores, blank, cfg=DEFAULT_CONFIG):
    """Per-char Python port of rec.rs:344-398, used ONLY as a test oracle
    for the vectorized decode."""
    results = []
    last_char = None
    for i in range(len(cp)):
        if blank[i]:
            last_char = None
            continue
        ch = chr(cp[i])
        score = scores[i]
        threshold = cfg.punct_min_score if is_punct_char(ch) else cfg.min_score
        if score > np.float32(threshold):
            if last_char != ch or is_punct_char(ch):
                results.append((ch, score))
            last_char = ch
        else:
            if is_punct_char(ch) and score > np.float32(cfg.punct_min_score) * np.float32(0.8):
                results.append((ch, score))
            else:
                last_char = None
    final = []
    i = 0
    while i < len(results):
        ch, sc = results[i]
        final.append((ch, sc))
        if is_punct_char(ch):
            while i + 1 < len(results) and results[i + 1][0] == ch:
                i += 1
        i += 1
    return "".join(c for c, _ in final)


def test_vectorized_decode_matches_literal_port():
    samples = [
        "hello world!!  foo--bar",
        "a<b>a</b>b.. ..x",
        'x.<br>x<a href="/q">link</a>?!?!',
        "====\n....\n\x1b[1mB\x1b[0m",
        "，，。。、、「引用」……text",
        "mixed 中文 and English with tags <i>in</i> between...",
        "",
    ]
    for s in samples:
        canon = canonicalize(s)
        cp, scores, blank = char_scores(canon)
        vec, _ = decode(cp, scores, blank)
        vec_text = vec.tobytes().decode("utf-32-le")
        assert vec_text == _decode_rust_literal(cp, scores, blank), repr(s)


class TestDictionary:
    """Keys-file vocabulary restriction (sparkocr.keys; rec.rs:55-59)."""

    def test_out_of_vocab_decodes_as_blank(self):
        from sparkocr.config import DEFAULT_CONFIG
        from sparkocr.recognize import predict_str

        ascii_keys = [chr(c) for c in range(0x20, 0x7F)] + ["\n"]
        cfg = DEFAULT_CONFIG.with_dictionary(ascii_keys)
        assert predict_str("abc 轻舟 def", cfg) == "abc  def"
        # unrestricted keeps the CJK
        assert "轻舟" in predict_str("abc 轻舟 def", DEFAULT_CONFIG)

    def test_blank_resets_last_char(self):
        from sparkocr.config import DEFAULT_CONFIG
        from sparkocr.recognize import predict_str

        cfg = DEFAULT_CONFIG.with_dictionary(
            [chr(c) for c in range(0x20, 0x7F)])
        # 'a今a': the OOV char is a blank, so the second 'a' is NOT a
        # repeat (last_char was reset) and must survive
        assert predict_str("a今a", cfg) == "aa"
        # without the dictionary the repeat rule also keeps both a's
        # (今 is a word char in between) — sanity
        assert predict_str("aa", cfg) == "a"

    def test_keys_loaders(self, tmp_path):
        from sparkocr.keys import load_keys_bytes, load_keys_file

        data = "a\r\nb\n\n轻\n".encode()
        assert load_keys_bytes(data) == ("a", "b", "轻")
        p = tmp_path / "keys.txt"
        p.write_bytes(data)
        assert load_keys_file(str(p)) == ("a", "b", "轻")

    def test_astral_vocab(self):
        from sparkocr.config import DEFAULT_CONFIG
        from sparkocr.recognize import predict_str

        cfg = DEFAULT_CONFIG.with_dictionary(
            [chr(c) for c in range(0x20, 0x7F)] + ["😀"])
        # astral char in vocab still fails the score threshold (emoji
        # scores SCORE_OTHER) — membership alone must not crash and the
        # ascii text survives
        assert predict_str("ok 😀 ok", cfg) == "ok  ok"


def test_surrogate_entity_is_left_verbatim():
    """&#55296; decodes to a lone surrogate which crashes any utf-32
    encode — must be left as literal text (review finding)."""
    from sparkocr.pipeline import extract_turn
    from sparkocr.recognize import canonicalize

    assert "\ud800" not in canonicalize("x &#55296; y")
    r = extract_turn("A good line of prose here &#55296; indeed.")
    assert r.error_code is None
    assert r.blocks


def test_keys_multichar_line_keeps_all_codepoints():
    """A multi-character keys line contributes EVERY character (the
    reference keeps all non-newline chars of a line; review finding:
    ch[0] silently truncated)."""
    from sparkocr.keys import load_keys_bytes

    keys = load_keys_bytes("ab\n轻舟\nc\n".encode())
    assert keys == ("ab", "c", "轻舟")
    from sparkocr.config import DEFAULT_CONFIG
    from sparkocr.recognize import predict_str

    cfg = DEFAULT_CONFIG.with_dictionary(keys + (" ",))
    # 'b' and '舟' are in-vocab only because the whole line was kept
    assert predict_str("ab 轻舟 c", cfg) == "ab 轻舟 c"
