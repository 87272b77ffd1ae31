"""Differential suite for the Arrow-batch kernels (fastbatch.py): for
every input the batch result is byte-identical to pipeline.extract_turn
(text, confidence BITS, spans, geometry, block type, error columns).
Same pattern as tests/test_batch_invariance.py. The same inputs also
drive ``extract_batch``, which must answer every row exactly."""

import random

import pytest
from hypothesis import given, settings, strategies as st

from sparkocr.config import DEFAULT_CONFIG, FLAGSHIP_CONFIG
from sparkocr.fastbatch import batch_extract_simple

# shared comparator home (also used by scripts/fuzz_fastbatch.py)
from fastbatch_compare import assert_detect_batch as _assert_detect_batch
from fastbatch_compare import assert_extract_batch as _assert_extract_batch
from fastbatch_compare import assert_matches as _assert_matches

SIMPLE_TURNS = [
    "hello world, this is a plain chat message.",
    "   leading and trailing whitespace   ",
    "tabs\tbecome\tspaces here ok",
    "punctuation!!! runs??? collapse... yes.",
    "短い日本語のメッセージですがこれはテストです",
    "mixed 英語 and 日本語 with punct、。！",
    "a _ b _ c underscores are dropped chars",
    "emoji 😀😀 are low-confidence and dropped here",
    "x" * 2000,
    "a b",            # too narrow -> empty
    "",               # empty -> empty
    "      ",         # all whitespace -> empty
    "[PAGE 3]",       # boiler -> empty
    "=== PAGE 7 ===",  # boiler -> empty
    "normal line with = equals sign stays",
    "entities &amp; stay simple &quot;quoted&quot;",
]

# null, surrogate, form-feed and markup-minting rows: the batch answers
# each with the per-turn path's row
FORMER_RESIDUE_TURNS = [
    None,
    "form\ffeed",  # the flag-off view still holds \f rows back
    "<form\ffeed>",
    "emoji \f😀 after a page break",
    "entity-minted markup &lt;script&gt; stays exact",
    "multi\nline with entity-minted markup &lt;tag&gt; scores as markup",
    # crops that canonicalize back into REAL markup: the flat decode
    # scores it through the markup kinds, as char_scores does
    "<b>tag</b> then minted &lt;i&gt; inside the crop",
    "markup <b>plus</b> a minted ansi run &#27;[31m colour",
    "a plain row whose entity mints ansi &#27;[31m colour here",
    # minted tags at a crop's first and last character: the EDGE_PUNCT
    # neighbours sit next to the flat stream's separators
    "&lt;b&gt;!edge punctuation at both ends!&lt;/b&gt;",
    "!&lt;i&gt;x&lt;/i&gt;!",
    # a document whose body region mints markup (routing: stage 4)
    ("RUNNING HEAD\nbody with minted &lt;b&gt;markup&lt;/b&gt; here\n12\f"
     "RUNNING HEAD\nsecond page body | a | b |\n| c | d |\n13\f"
     "RUNNING HEAD\nthird page closing body line\n14"),
    # surrogates: the per-turn UTF-32 encode fails (InferenceError row)
    "lone \ud800 surrogate in a long enough row",
    "paired \ud83d\ude00 surrogates in a long enough row",
    "x\ud800",  # too narrow for a box: still an error row per turn
    "crlf\r\nthen a lone \udfff surrogate",
    # a routed tool document that holds a surrogate
    ("RUNNING HEAD\nbody with a lone \ud800 surrogate\n12\f"
     "RUNNING HEAD\nsecond page body\n13"),
]

MARKUP_TURNS = [
    "<b>markup</b>",
    "ansi \x1b[31mred text here\x1b[0m trailing",
    "<p>para one</p>\n<p>para two with more text</p>",
    "nav <a href=/x>link one</a> <a href=/y>link two</a> end",
    "<!-- comment hiding <a>anchor</a> --> visible text after",
    "<script>var x = '<a>';</script>body text that stays here",
    "text <b>spanning</b> tags\nsecond line plain and long",
    "[HEADER] masthead\n<p>body line kept alive</p>\n[PAGE 2]",
    "<style>p{color:red}</style>styled body content here",
    "unclosed <a href=z>anchor flows to end of the turn",
    "<td>c1</td><td>c2</td>\n<td>c3 wider cell</td>",
    "entities &amp; markup <i>mixed</i> stay&nbsp;exact",
    "tag-split   <br/>   runs left and right of the break",
    "\x1b[2J\x1b[Hcleared screen then a prompt $ ls -la output",
    "<1notag> is not a tag so it survives as text",
    "bare escape \x1b scores as a blank on both paths",
    "CJK 漢字 <b>太字</b> かな混じりの行です。",
]

FORMFEED_TURNS = [
    "one\fpage two\fpage three",
    "\f\f\f",
    "[PAGE 1]\fbody text of page two here\f--- 42 ---",
    "<b>markup</b>\fwith a page break",
]

# hand-built document payloads: headers/footers/page numbers, tables,
# a page-number-only page, an empty page
DOCUMENT_TURNS = [
    ("RUNNING HEAD\nbody text of the first page here\n12\f"
     "RUNNING HEAD\nsecond page body | a | b |\n| c | d |\n13\f"
     "RUNNING HEAD\nthird page closing body line\n14"),
    "one page only, no headers",
    "\f\f",
    "x\f" + "y" * 40,
]

MULTILINE_TURNS = [
    "two\nlines",
    "carriage\rreturn",
    "crlf line one\r\nline two",
    "para one line one\npara one line two\n\n\npara two after gap",
    "   indented first\n\tand a tabbed second line here\n",
    "short\na much much longer second line that dominates\ntiny",
    "[PAGE 3]\nreal content between boiler lines\n=== PAGE 7 ===",
    "a b\nnarrow lines get dropped\nc d",
    "日本語の行がひとつ\nそしてもうひとつの行",
    "ends with newline\n",
    "\n\nstarts with blank lines\n\n",
    "punct!!! runs\nacross??? lines... collapse per crop",
    "&#10; minted newline inside\na real multi-line turn &#65;",
    "x" * 300 + "\n" + "y" * 300,
]


def test_simple_turns_match_and_take_the_fast_path():
    _assert_matches(SIMPLE_TURNS, min_eligible=len(SIMPLE_TURNS))


def test_former_residue_is_answered():
    """Null, surrogate, entity-minted-markup and form-feed rows are all
    answered by the batch, equal to ``extract_turn`` (or, with roles,
    ``extract_turn_auto``); only the flag-off view (no roles,
    ``allow_formfeed`` off) still holds the \\f rows back as ``None``."""
    texts = FORMER_RESIDUE_TURNS
    ff = [t is not None and "\f" in t for t in texts]
    got = batch_extract_simple(texts, FLAGSHIP_CONFIG)
    assert [r is None for r in got] == ff
    n_ff = sum(ff)
    for cfg in (FLAGSHIP_CONFIG, DEFAULT_CONFIG):
        assert _assert_matches(texts, cfg) == len(texts) - n_ff
        _assert_matches(texts, cfg, allow_formfeed=True,
                        min_eligible=len(texts))
        _assert_matches(texts, cfg, roles=["tool"] * len(texts),
                        min_eligible=len(texts))


def test_markup_turns_match_and_take_the_fast_path():
    """Stage 3: markup/ANSI-bearing turns run the exact general
    detection semantics with batched run extraction, crops pooled into
    the shared flat decode — byte-identical to the per-turn path."""
    _assert_matches(MARKUP_TURNS, min_eligible=len(MARKUP_TURNS))


def test_formfeed_turns_match_under_allow_formfeed():
    """Non-routing mode: \\f rows run the stage-3 general machine
    (TurnGrid folds \\f to \\n on both paths) and must be byte-identical
    to extract_turn. With the flag OFF (the default, and the engine's
    route_documents mode) the same rows must all fall back so the
    document router keeps seeing them."""
    from sparkocr.fixtures import turns_pandas

    df = turns_pandas(seed=3, n_convs=40)
    ff = [t for t in df["text"] if isinstance(t, str) and "\f" in t]
    assert len(ff) > 50
    texts = ff + FORMFEED_TURNS
    _assert_matches(texts, allow_formfeed=True, min_eligible=len(texts))
    got = batch_extract_simple(texts, FLAGSHIP_CONFIG)
    assert all(r is None for r in got)  # default: every \f row falls back


def test_routing_mode_document_turns_match():
    """Stage 4: with a roles array (the engine's route_documents mode)
    tool-role form-feed turns run the batched layout parse + pooled
    decode and must be byte-identical to extract_turn_auto's document
    branch; \\f rows with other roles run the stage-3 general machine
    (extract_turn_auto sends exactly those to extract_turn)."""
    from sparkocr.fixtures import turns_pandas

    df = turns_pandas(seed=3, n_convs=40)
    texts, roles = list(df["text"]), list(df["role"])
    n = _assert_matches(texts, roles=roles)
    assert n == len(texts)  # full coverage in routing mode too
    _assert_matches(texts, DEFAULT_CONFIG, roles=roles,
                    min_eligible=len(texts))
    cases = DOCUMENT_TURNS
    _assert_matches(cases, roles=["tool"] * len(cases),
                    min_eligible=len(cases))
    _assert_matches(cases, roles=["assistant"] * len(cases),
                    min_eligible=len(cases))
    # routing mode is "a roles array is given", not "this row's role is
    # set": role-less \f rows still batch (general machine)
    _assert_matches(cases, roles=[None] * len(cases),
                    min_eligible=len(cases))


@pytest.mark.parametrize("routing", [False, True], ids=["plain", "routing"])
def test_extract_batch_answers_every_row(routing):
    """The engine's one dispatch: ``extract_batch`` answers every row of
    the inputs above — fast-path and residue alike, null, \\f,
    entity-minted markup and surrogate rows included — exactly as
    ``extract_turn`` (no routing) or ``extract_turn_auto(t, role)``
    (routing) does."""
    from sparkocr.fixtures import turns_pandas

    df = turns_pandas(seed=3, n_convs=40)
    hand = (SIMPLE_TURNS + FORMER_RESIDUE_TURNS + MARKUP_TURNS
            + FORMFEED_TURNS + DOCUMENT_TURNS + MULTILINE_TURNS)
    cycle = ("user", "assistant", "tool")
    inputs = [
        (list(df["text"]), list(df["role"])),
        (hand, [cycle[i % 3] for i in range(len(hand))]),
        (DOCUMENT_TURNS, ["tool"] * len(DOCUMENT_TURNS)),
        (FORMER_RESIDUE_TURNS, ["tool"] * len(FORMER_RESIDUE_TURNS)),
    ]
    for texts, roles in inputs:
        for cfg in (FLAGSHIP_CONFIG, DEFAULT_CONFIG):
            n = _assert_extract_batch(texts, cfg,
                                      roles=roles if routing else None)
            assert n == len(texts)


@pytest.mark.parametrize("poison", ["decode", "markup_stage"])
def test_extract_batch_poison_backstops(monkeypatch, poison):
    """A batch machine that raises sends its rows to the per-turn path:
    a failed flat decode hands back every row that had crops, a failed
    stage-3 pass rolls its crops out of the pool. Either way
    ``extract_batch`` still answers every row exactly, and so does
    ``detect_batch``, which detects a failed stage's rows one by one."""
    import sparkocr.fastbatch as fb

    hand = (SIMPLE_TURNS + MARKUP_TURNS + FORMFEED_TURNS
            + DOCUMENT_TURNS + MULTILINE_TURNS)
    roles = [("user", "assistant", "tool")[i % 3] for i in range(len(hand))]
    if poison == "decode":
        def boom(*a, **k):
            raise RuntimeError("poison decode")
        monkeypatch.setattr(fb, "decode_canons_flat", boom)
    else:
        markup_batch = fb._markup_batch

        def boom(*a, **k):
            markup_batch(*a, **k)   # fill the pool, then fail
            raise RuntimeError("poison stage")
        monkeypatch.setattr(fb, "_markup_batch", boom)
    for r in (roles, None):
        assert _assert_extract_batch(hand, FLAGSHIP_CONFIG,
                                     roles=r) == len(hand)
    assert _assert_detect_batch(hand, FLAGSHIP_CONFIG) == len(hand)
    fast = batch_extract_simple(hand, FLAGSHIP_CONFIG, roles=roles)
    assert any(r is None for r in fast)


def test_fixture_markup_turns_all_match():
    """Every markup-bearing row of the benchmark transcript fixture is
    stage-3 eligible and byte-identical (the shape the SCALING_NOTES
    residue analysis names)."""
    from sparkocr.fixtures import turns_pandas

    df = turns_pandas(seed=3, n_convs=40)
    mk = [t for t in df["text"]
          if isinstance(t, str) and ("<" in t or "\x1b" in t)
          and "\f" not in t]
    assert len(mk) > 100  # the ~12% markup share really is present
    _assert_matches(mk, min_eligible=len(mk))
    _assert_matches(mk, DEFAULT_CONFIG, min_eligible=len(mk))


def test_randomized_markup_against_per_turn(seed=23, n=600):
    """Adversarial markup fragments — nested/unclosed tags, anchors in
    comments, script/style bodies, ANSI sequences, boiler markers,
    entity mines — against the per-turn path across config variants."""
    rng = random.Random(seed)
    frag = [
        "hello", "world 123", "<b>", "</b>", "<a href=x>", "</a>",
        "<!--", "-->", "<script>", "</script>", "<style>x{}</style>",
        "\x1b[31m", "\x1b[0m", "\x1b", "&lt;", "&gt;", "&amp;",
        "&#60;", "&#10;", "[HEADER]", "[PAGE 3]", "=== PAGE 1 ===",
        "   ", "\t", "\n", "\r\n", "\r", "、。", "漢字テキスト",
        "한글", "...", "!!!", "||", "- item", "1. x", "```",
        "    code", "<notclosed", "x>", "<1notag>",
        "<a>link text</a>", "\x1b[2J", "&quot;", "😀", "é",
        "<A HREF=y>", "</A >",
    ]
    cases = ["<b>" * rng.randint(0, 1)
             + "".join(rng.choice(frag) for _ in range(rng.randint(1, 14)))
             for _ in range(n)]
    from sparkocr.config import EngineConfig

    for cfg in (FLAGSHIP_CONFIG, EngineConfig(merge_boxes=False),
                EngineConfig(merge_threshold=5),
                EngineConfig(rect_border_size=0),
                EngineConfig(max_rec_lines=2)):
        _assert_matches(cases, cfg)


def test_multiline_plain_turns_match_and_take_the_fast_path():
    """Stage 2: newline-bearing plain turns run the flat machine —
    per-line detection, the verbatim transitive merge, multi-crop
    reassembly — and must be byte-identical to the per-turn path."""
    texts = MULTILINE_TURNS
    _assert_matches(texts, min_eligible=len(texts))
    # merge disabled / zero threshold change box topology — still exact
    _assert_matches(texts, DEFAULT_CONFIG.with_merge_boxes(False),
                    min_eligible=len(texts))
    _assert_matches(texts, DEFAULT_CONFIG.with_merge_threshold(0),
                    min_eligible=len(texts))


def test_whale_multiline_turns_match():
    """Stage 2 on whale turns: thousands of lines, one all-merging
    block and a staircase (merge-resistant) shape — byte-identical and
    bounded (the per-line work is C-level string ops; the merge
    fixpoint is the reference's own algorithm, shared with the
    per-turn path)."""
    whale = "\n".join(
        f"line number {i} with enough visible text here"
        for i in range(3000))
    stair = "\n".join(
        " " * (i % 50) * 4 + "segment" + "x" * 10 for i in range(800))
    _assert_matches([whale, stair], min_eligible=2)


def test_randomized_multiline_against_per_turn(seed=17, n=500):
    rng = random.Random(seed)
    pieces = (
        list("abcdef XYZ 01234") + list(".,!?、。") + ["  ", "\t", "_", "😀"]
        + ["&amp;", "&#10;", "[", "=", "]", "la ", "PAGE ", "===", "\x07"]
        + ["\n", "\r\n", "\r", "\n\n", "word\n"]
    )
    texts = []
    for _ in range(n):
        k = rng.randint(1, 50)
        texts.append("".join(rng.choice(pieces) for _ in range(k)))
    n_fast = _assert_matches(texts, min_eligible=int(n * 0.5))
    assert n_fast <= n


def test_randomized_against_per_turn(seed=11, n=400):
    rng = random.Random(seed)
    alphabet = (
        list("abcdefgh XYZ 0123456789") + list(".,!?;:、。") + ["  ", "\t"]
        + ["_", "~", "€", "😀", "&amp;", "&#65;", "&#10;", "[", "=", "]"]
        + ["la ", "PAGE ", "===", "\x07"]
    )
    texts = []
    for _ in range(n):
        k = rng.randint(0, 40)
        texts.append("".join(rng.choice(alphabet) for _ in range(k)))
    # every one of these is single-line/markup-free unless &#10; or &lt;
    # style entities fired — both covered: match-or-fallback is asserted
    # per row, and most rows must actually take the fast path
    n_fast = _assert_matches(texts, min_eligible=int(n * 0.6))
    assert n_fast <= n


def test_restricted_dictionary_and_threshold_configs():
    texts = [
        "hello world restricted vocab test",
        "punct only ... !!! ,,,",
        "12345 67890 digits",
    ]
    vocab = tuple("helo wrd.!,")  # tiny dictionary: most chars blank out
    cfg = DEFAULT_CONFIG.with_dictionary(vocab)
    _assert_matches(texts, cfg, min_eligible=3)
    cfg2 = DEFAULT_CONFIG.with_min_score(1.0)  # everything fails -> ""
    _assert_matches(texts, cfg2, min_eligible=3)


def test_entity_minted_newlines_and_none_max_rec_lines():
    """&#10; entities mint '\\n' inside the canonical crop; the flat
    machine must reproduce recognize_crop bit-for-bit there, including
    under max_rec_lines=None (the corpus-normalization mode, which a
    dead pre-fix gate would have crashed on with a TypeError)."""
    texts = [
        "first&#10;second&#10;third entity-minted lines",
        "dense" + "&#10;x" * 60 + " tail",  # > REC_MAX_LINES mints
        "plain row between the minted ones",
    ]
    _assert_matches(texts, min_eligible=3)
    cfg_none = DEFAULT_CONFIG.with_overrides(max_rec_lines=None)
    _assert_matches(texts, cfg_none, min_eligible=3)


def test_real_corpus_turns_all_match():
    import duckdb

    rows = duckdb.sql(
        "SELECT text FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')").fetchall()
    texts = [r[0] for r in rows]
    # the synthetic corpus is single-line and markup-free: every row
    # must be eligible AND byte-identical
    _assert_matches(texts, min_eligible=len(texts))


@given(st.lists(
    st.text(alphabet=st.characters(min_codepoint=0,
                                   max_codepoint=0x10FFFF,
                                   categories=None),
            max_size=120),
    max_size=10))
@settings(max_examples=250, deadline=None, derandomize=True)
def test_hypothesis_full_unicode_differential(texts):
    """Arbitrary unicode — lone surrogates (which must reproduce the
    per-turn path's InferenceError via fallback, not short-circuit to
    empty), astral planes, combining marks, bidi controls, every
    category. Caught a real divergence once: a narrow lone-surrogate
    turn hit the _EMPTY short-circuit before the UTF-32 encode the
    per-turn path fails on."""
    _assert_matches(list(texts))


@pytest.mark.parametrize("chunk", [1, 7, 64])
def test_batch_split_invariance(chunk):
    """Splitting one batch into smaller batches cannot change any row's
    result (the Arrow-batch-size invariance the engine guarantees)."""
    texts = [f"row {i} with some punct... and text!" for i in range(100)]
    whole = batch_extract_simple(texts, FLAGSHIP_CONFIG)
    parts = []
    for s in range(0, len(texts), chunk):
        parts.extend(batch_extract_simple(texts[s:s + chunk],
                                          FLAGSHIP_CONFIG))
    assert whole == parts


def test_transcript_mix_shares_match_documented():
    """Pin the corpus-mix shares the scaling docs cite (SCALING_NOTES /
    bench_cluster_scaling docstring: ~16% single-line chat, ~53%
    multi-line plain, ~12% markup, ~68% total fast-path coverage on the
    benchmark fixture). A round-4 review found the multi-line figure
    had drifted to a conflated number; this keeps the documented mix
    honest and catches fixture-generator regressions."""
    from sparkocr.fastbatch import _stage
    from sparkocr.fixtures import turns_pandas

    # the exact fixture the real-cluster transcript bench replicates
    df = turns_pandas(seed=3, n_convs=40)
    n = len(df)
    plain = [t for t in df["text"] if _stage(t, None) == "plain"]
    s1 = sum("\n" not in t and "\r" not in t for t in plain) / n
    s2 = len(plain) / n - s1
    markup = sum(isinstance(t, str) and "<" in t for t in df["text"]) / n
    assert n == 1263  # 1263 x reps 800 = 1,010,400 turns in the notes
    assert 0.13 <= s1 <= 0.19, s1         # ~16% single-line chat
    assert 0.49 <= s2 <= 0.57, s2         # ~53% multi-line plain
    assert 0.09 <= markup <= 0.16, markup  # ~12% markup
    assert 0.62 <= s1 + s2 <= 0.74        # ~68% total fast-path
