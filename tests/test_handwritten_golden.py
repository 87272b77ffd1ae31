"""Hand-authored end-to-end extraction fixtures (round-1 review ask).

Every expected string below was derived BY HAND from the documented
semantics — NOT generated by running the engine — so this suite can
catch a semantic bug that the shared-implementation golden suite
(tests/test_golden_pipeline.py, which locks regressions but is partially
circular) cannot. Derivation rules used, with their reference anchors:

- detection: score = 255·text_density·(1−link_density) truncated, ON
  above 200 (det.rs:342, THRESHOLD det.rs:33); runs split at markup;
  trimmed run width c1−c0 must exceed 5 (det.rs:509-518); border ±12
  (main.rs:114) clamped to the enclosing non-markup segment; adjacent
  line boxes merge vertically (det.rs:388-464); crops blank markup to
  spaces, lines joined with \\n.
- recognition (rec.rs:344-398): word chars/space/\\n score 0.95 (kept),
  punctuation 0.30 (kept via the 0.1 punct threshold), markup 0.05
  (dropped, resets last_char), other chars 0.50 (dropped, resets);
  consecutive identical non-punct chars collapse (CTC repeat rule:
  "coffee"→"cofe"); punctuation adjacent to markup scores 0.09 — the
  borderline branch keeps it WITHOUT touching last_char
  (rec.rs:373-377); consecutive identical punctuation collapses to the
  first (rec.rs:385-398); entities decode before scoring ("&amp;"→"&",
  "&lt;"→"<" which is then dropped as an "other" char).

Each case runs through the REAL Spark engine (mapInArrow), not just
the per-turn function, covering CJK/EN/JA, HTML boilerplate, anchors,
ANSI, tabs, and the borderline-punct branch.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkocr.config import FLAGSHIP_CONFIG
from sparkocr.pipeline import extract_turn

# (name, input, expected_full_text, expected_n_blocks, expected_block_types)
CASES = [
    (
        "plain_prose",
        "The quick brown fox jumps over a lazy dog.",
        "The quick brown fox jumps over a lazy dog.",
        1, ["prose"],
    ),
    (
        "ctc_double_letters_collapse",
        "I really need coffee.",
        "I realy ned cofe.",
        1, ["prose"],
    ),
    (
        "tags_stripped_around_content",
        "<div>Simple prose inside a div tag.</div>",
        "Simple prose inside a div tag.",
        1, ["prose"],
    ),
    (
        "nav_link_line_dropped",
        "<nav><a href=/home>Home</a> <a href=/about>About</a></nav>\n"
        "Actual long content sentence something here.",
        "Actual long content sentence something here.",
        1, ["prose"],
    ),
    (
        "entities_decoded_lt_dropped",
        # "&amp;"→"&" (punctuation, kept); "&lt;"→"<" ("other", dropped
        # with last_char reset, so BOTH surrounding spaces survive)
        "Fish &amp; chips cost &lt; ten pounds.",
        "Fish & chips cost  ten pounds.",
        1, ["prose"],
    ),
    (
        "numeric_entities",
        "Entity test &#72;&#105; done here now.",
        "Entity test Hi done here now.",
        1, ["prose"],
    ),
    (
        "cjk_repeat_collapse",
        "今天天气很好，我们去公园散步吧。",
        "今天气很好，我们去公园散步吧。",
        1, ["prose"],
    ),
    (
        "kana_repeat_collapse",
        "すもももももももものうち",
        "すものうち",
        1, ["prose"],
    ),
    (
        "two_lines_merge_to_paragraph",
        "First line of the paragraph here.\nSecond line continues the thought.",
        "First line of the paragraph here.\nSecond line continues the thought.",
        1, ["prose"],
    ),
    (
        "boiler_markers_dropped",
        "[HEADER] Site Title\nReal body sentence for testing.\n[FOOTER] copyright",
        "Real body sentence for testing.",
        1, ["prose"],
    ),
    (
        "script_body_opaque",
        "<script>var x = 'hello world fine';</script>\n"
        "Visible text sentence here okay.",
        "Visible text sentence here okay.",
        1, ["prose"],
    ),
    (
        "ansi_escapes_are_markup",
        # CTC repeats: "Green"→"Gren", "message"→"mesage"
        "\x1b[32mGreen status message line today\x1b[0m",
        "Gren status mesage line today",
        1, ["prose"],
    ),
    (
        "tabs_fold_and_double_letter",
        "Tabbed\tcolumns\tdata\tvalues\there",
        "Tabed columns data values here",
        1, ["prose"],
    ),
    (
        "narrow_run_filtered",
        "ok go\nThis line is long enough to be a proper block.",
        "This line is long enough to be a proper block.",
        1, ["prose"],
    ),
    (
        "punct_run_collapses_to_first",
        "Wait... what?!",
        "Wait. what?!",
        1, ["prose"],
    ),
    (
        "list_block_classified",
        "- first item in the list here\n"
        "- second item in the list there\n"
        "- third item in the list where",
        "- first item in the list here\n"
        "- second item in the list there\n"
        "- third item in the list where",
        1, ["list"],
    ),
    (
        "table_block_classified",
        "| col | val |\n| a one | b two |",
        "| col | val |\n| a one | b two |",
        1, ["table"],
    ),
    (
        "merged_box_blanks_trailing_tag",
        # the merged two-line box's window covers col 28 on line 1, which
        # is the '<' of <br> — blanked to a space in the crop
        # CTC repeat: "gamma"→"gama"
        "Alpha beta gamma delta words<br>\nMore prose without any marks.",
        "Alpha beta gama delta words \nMore prose without any marks.",
        1, ["prose"],
    ),
    (
        "moderately_linked_line_dies",
        # td = 24/(24+0.25·14) = 0.8727, ld = 4/24 → score 185 ≤ 200: OFF
        "Read <a href=x>docs</a> for details today.",
        "",
        0, [],
    ),
    (
        "empty_input",
        "",
        "",
        0, [],
    ),
]

# hand-derived half-open char spans for the geometrically simple cases
SPAN_CASES = {
    "plain_prose": [(0, 42)],
    "tags_stripped_around_content": [(5, 35)],
    "nav_link_line_dropped": [(59, 103)],
}


@pytest.mark.parametrize("name,text,full_text,n_blocks,btypes",
                         CASES, ids=[c[0] for c in CASES])
def test_handwritten_extract_turn(name, text, full_text, n_blocks, btypes):
    r = extract_turn(text, FLAGSHIP_CONFIG)
    assert r.error_code is None
    assert r.full_text == full_text
    assert len(r.blocks) == n_blocks
    assert [b.block_type for b in r.blocks] == btypes
    if name in SPAN_CASES:
        assert [(b.start, b.end) for b in r.blocks] == SPAN_CASES[name]


def test_handwritten_through_spark_engine(spark):
    """The same fixtures through the real mapInArrow engine in one
    DataFrame — Spark plumbing must not change any answer."""
    from sparkocr.engine import SparkOcrEngine

    df = spark.createDataFrame(
        [(name, 0, "user", text) for name, text, *_ in CASES],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = {r["conv_id"]: r
           for r in SparkOcrEngine(spark, FLAGSHIP_CONFIG)
           .extract(df).collect()}
    for name, _, full_text, n_blocks, btypes in CASES:
        assert out[name]["full_text"] == full_text, name
        assert out[name]["n_blocks"] == n_blocks, name


def test_borderline_punct_through_recognize_verb(spark):
    """rec.rs:373-377: punctuation adjacent to markup is kept WITHOUT
    resetting last_char. Exercised via the standalone recognize verb
    (extraction crops blank markup first, so only raw-text recognition
    reaches this branch)."""
    from sparkocr.engine import SparkOcrEngine

    rows = [
        (1, "yes<b>!</b>no"),   # '!' borderline-kept between tags
        (2, "a<b>.</b>a"),      # tags reset last_char → second 'a' kept
    ]
    expected = {1: "yes!no", 2: "a.a"}
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["recognized"]["text"]
           for r in SparkOcrEngine(spark, FLAGSHIP_CONFIG)
           .recognize(df).collect()}
    assert got == expected
