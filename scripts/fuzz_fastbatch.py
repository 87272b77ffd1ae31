"""Long-form differential fuzz: batch_extract_simple and extract_batch
vs extract_turn, and detect_batch vs per-turn detection.

The committed hypothesis suite (tests/test_fastbatch.py) runs 250
derandomized examples per CI pass; this harness is the sustained
version for pre-release confidence runs. Shape-biased random turns —
single-line / multi-line plain rows plus a hostile tail (markup, ESC,
form-feed, entities incl. &#10;/&#60;/surrogate refs, lone and paired
surrogates) — asserted byte-identical per row under seven configs
(flagship, default, merge off, merge threshold 0, max_rec_lines=None,
restricted dictionary, min_score=1.0). ``batch_extract_simple`` must
answer every row in the allow_formfeed and routing modes, and every
row but the form-feed ones (held back as ``None``) in the plain mode.
Every batch is also run through ``fastbatch.extract_batch`` (the
engine's one dispatch), which must answer every row byte-identically
to the per-turn oracle: with no roles in the plain and allow_formfeed
modes, with the roles array in the routing mode. Every batch also goes
through ``fastbatch.detect_batch`` (the ``spans``/``blocks`` kernel),
which must give every row exactly the per-turn ``find_text_boxes`` /
``box_span`` / ``crop_box`` of the row alone, and ``[]`` for null and
surrogate-bearing rows.

The "fast-path" shares quoted below are the rows ``batch_extract_simple``
answered; up to round 6 the batch left null rows, surrogate rows and
crops whose entities mint markup to the per-turn path, so the older
sweeps read about 92.6%.

Last full run (2026-08-19, 3000 batches x 64 rows, seeds 1000..3999,
markup + document grammars, cycling plain/allow_formfeed/roles modes
so stages 3 AND 4 are drilled): 192,000 rows, 92.6% fast-path, 0
divergences. A second sweep the same day on a DISJOINT seed range
(1500 batches x 64 rows, seeds 50000..51499) added 96,000 rows,
92.6% fast-path, 0 divergences — 288,000 fuzzed rows total against
the per-turn oracle at round-4 HEAD. A third disjoint sweep (seeds
300000..301499, 96,000 rows, 0 divergences) ran after the late-round
detector/crop fast paths (boiler-gate vectorization, two-box merge
unroll, full-width crop slices) — 384,000 fuzzed rows total. A
fourth sweep (2026-08-20, seeds 700000..701499, 96,000 rows, 92.6%
fast-path, 0 divergences) ran at round-4 final HEAD — 480,000 rows
total. A fifth sweep (2026-08-20, seeds 1100000..1101499, 96,000
rows, 92.8% fast-path, 0 divergences) re-confirmed the same HEAD —
576,000 rows total, zero divergences across all five disjoint seed
ranges. A sixth sweep on a NEW GEOMETRY axis (300 batches x 512 rows,
seeds 2000000..2000299 — 8× the usual batch size, drilling the
256k-char block-boundary chunking harder) added 153,600 rows, 92.6%
fast-path, 0 divergences — 729,600 rows total. A seventh sweep on the
OPPOSITE geometry axis (6000 batches x 16 rows, seeds
3000000..3005999 — quarter-size batches drilling under-full blocks
and tiny-batch crop alignment) added 96,000 rows, 92.6% fast-path,
0 divergences — 825,600 rows total across seven disjoint seed ranges
and three batch geometries (16 / 64 / 512 rows). An eighth sweep
(3000 batches x 64 rows, seeds 4000000..4002999) added 192,000 rows,
92.6% fast-path, 0 divergences — **1,017,600 fuzzed rows total**, zero
divergences across eight disjoint seed ranges at round-4 final HEAD.
A ninth sweep (6000 batches x 64 rows, seeds 5000000..5005999) added
384,000 rows, 92.6% fast-path, 0 divergences — 1,401,600 rows total.
A tenth sweep back on the 512-row geometry (600 batches x 512 rows,
seeds 6000000..6000599) added 307,200 rows, 92.5% fast-path, 0
divergences. An eleventh capstone sweep (12000 batches x 64 rows,
seeds 7000000..7011999) added 768,000 rows, 92.6% fast-path, 0
divergences — **2,476,800 fuzzed rows total, zero divergences across
eleven disjoint seed ranges and three batch geometries (16/64/512)**
at round-4 final HEAD.

Boundary axis (round 6, the batch grid: one character stream per
batch): every odd batch replaces about a quarter of its rows, in
adjacent pairs, by the two halves of a markup piece cut mid-tag,
mid-comment, mid-anchor or mid-script (``CUT_PIECES``: also CRLF,
form-feed, ESC and astral text), so that neighbours in a batch carry
the halves. A 300-batch sweep on a fresh seed range (seeds
8100000..8100299, 64 rows) added 19,200 rows, 92.7% fast-path, 0
divergences; a second one (seeds 8200000..8200299) added 19,200 rows,
92.8% fast-path, 0 divergences.

No residue (round 6, the batch answers every row: markup minted by
entities is scored by the flat decode, null and surrogate rows get the
per-turn error row in the batch): a 300-batch sweep on a fresh seed
range (seeds 8300000..8300299, 64 rows) added 19,200 rows, 98.5%
answered by ``batch_extract_simple`` (the rest are the plain mode's
held-back form-feed rows), every row of the allow_formfeed and routing
modes answered, 0 divergences. A second one on the 512-row geometry
(seeds 8500000..8500299, so markup-bearing crops straddle the 256k-char
decode blocks) added 153,600 rows, 98.6% answered, 0 divergences.

One detection dispatch (round 6, ``detect_batch`` asserted on every
batch against per-turn ``find_text_boxes``/``box_span``/``crop_box``,
with about 2% null rows planted): a 300-batch sweep on a fresh seed
range (seeds 9200000..9200299, 64 rows) added 19,200 rows, 98.6%
answered by ``batch_extract_simple``, 0 divergences in either kernel.

Arrow boundary (round 6, the engine verbs hand ``detect_batch`` and
``recognize_batch`` the ``str``/``None`` values of an Arrow column, so
a null cell arrives as ``None`` and nothing else): a 300-batch sweep
on a fresh seed range (seeds 9600000..9600299, 64 rows) added 19,200
rows, 98.6% answered by ``batch_extract_simple``, 0 divergences in
either kernel.

Usage: python scripts/fuzz_fastbatch.py [n_batches] [batch_size] [seed0]
(seed0 picks the base of the per-batch seed range — pass a fresh value
for each sweep so ranges stay disjoint across runs)
"""
import os
import random
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from sparkocr.config import DEFAULT_CONFIG, FLAGSHIP_CONFIG

# ONE comparator home shared with the committed suite
# (tests/fastbatch_compare.py) so the sustained harness can never
# enforce a weaker byte-exactness contract than CI; the module is
# dependency-light (no pytest/hypothesis), so this harness stays
# runnable from a bare interpreter.
from fastbatch_compare import (
    assert_detect_batch,
    assert_extract_batch,
    assert_matches,
)

PLAIN = (
    list("abcdefgh XYZ 0123456789")
    + list(".,!?;:、。")
    + ["  ", "\t", "_", "~", "€", "\U0001F600", "\U0001D518"]
    + ["&amp;", "&#65;", "&quot;", "é", "‏", "‮", "日本語 "]
    + ["[", "=", "]", "la ", "PAGE ", "===", "[PAGE 9]", "\x07", "\x00"]
    + ["x" * 120]
)
NEWLINES = ["\n", "\r\n", "\r", "\n\n", "word\n", "short\nlong " * 8]
HOSTILE = [
    "&#10;", "&#60;", "&lt;b&gt;", "&#55296;", "\f", "\x1b[31m",
    "<b>", "</b>", "\ud800", "\udfff", "😀",
]
# stage-4 drill: document-shaped payloads (pages joined by \f with
# recurring running heads and numeric tails) so the routing mode
# exercises the layout classifier's data-dependent paths — running-head
# Counter thresholds, the page-number tail check, the covered-overlap
# dedup — not just junk-with-\f rows
HEADS = ["RUNNING HEAD", "Acme Corp Confidential", "=== PAGE 1 ==="]
TAILS = ["12", "- 7 -", "--- 42 ---", "page 9", "not a number"]


def _doc_payload(rng):
    head = rng.choice(HEADS)
    foot = rng.choice(HEADS)
    pages = []
    for pn in range(rng.randint(1, 5)):
        lines = []
        if rng.random() < 0.8:
            lines.append(head)
        for _ in range(rng.randint(0, 4)):
            lines.append("".join(rng.choice(PLAIN)
                                 for _ in range(rng.randint(3, 20))))
        if rng.random() < 0.5:
            lines.append(foot)
        if rng.random() < 0.7:
            lines.append(rng.choice(TAILS))
        pages.append("\n".join(lines))
    return "\f".join(pages)


# stage-3 drill: real tags/anchors/comments/script/ANSI/boiler so most
# rows land in the markup batch machine (not the fallback gates)
MARKUP = [
    "<b>", "</b>", "<a href=/x>", "</a>", "<a>link</a>", "<!--", "-->",
    "<script>", "</script>", "<style>p{}</style>", "<br/>", "<td>c</td>",
    "\x1b[31m", "\x1b[0m", "\x1b[2J", "\x1b", "<notclosed", "x>",
    "<1notag>", "[HEADER]", "[PAGE 2]", "=== PAGE 5 ===", "<A HREF=q>",
    "</A >", "<p>paragraph body text</p>",
]
# shape-biased grammars: (pieces, weight)
GRAMMARS = [
    (PLAIN, 5),                       # single-line plain
    (PLAIN + NEWLINES, 4),            # multi-line plain
    (PLAIN + NEWLINES + HOSTILE, 2),  # mixed / mostly fallback
    (PLAIN + ["&#10;"] * 4, 2),       # entity-minted newlines
    (PLAIN + NEWLINES + MARKUP, 3),   # markup-bearing (stage 3)
]
GRAMMAR_POOL = [g for g, w in GRAMMARS for _ in range(w)]

# boundary axis: markup pieces cut mid-tag / mid-comment / mid-anchor /
# mid-script, the halves landing in NEIGHBOURING rows of one batch — the
# batch grid joins a batch's rows into one character stream, so a cut
# half must never pair with its neighbour's half (the per-turn oracle
# sees each row alone)
CUT_PIECES = [
    "<a href=/x>link text</a>", "<!-- a comment -->", "<b>bold</b>",
    "<script>var x=1;</script>", "<STYLE>p{}</STYLE>", "<ſcript>s</ſcript>",
    "</a >", "<br/>", "\x1b[31mred\x1b[0m", "text\r\nmore", "pg\fnext",
    "\U0001F600<i>x</i>",
]


def _cut_pairs(rng, texts):
    """Replace about a quarter of the rows, in adjacent pairs, by the two
    halves of a cut markup piece (each half padded with plain text)."""
    texts = list(texts)
    for k in range(0, len(texts) - 1, 2):
        if rng.random() < 0.25:
            piece = rng.choice(CUT_PIECES)
            cut = rng.randint(1, len(piece) - 1)
            pad = "".join(rng.choice(PLAIN) for _ in range(rng.randint(0, 8)))
            texts[k] = texts[k][:rng.randint(0, 40)] + pad + piece[:cut]
            texts[k + 1] = piece[cut:] + pad + texts[k + 1][:40]
    return texts


CONFIGS = [
    ("flagship", FLAGSHIP_CONFIG),
    ("default", DEFAULT_CONFIG),
    ("nomerge", DEFAULT_CONFIG.with_merge_boxes(False)),
    ("thresh0", DEFAULT_CONFIG.with_merge_threshold(0)),
    ("maxrec_none", DEFAULT_CONFIG.with_overrides(max_rec_lines=None)),
    ("tinyvocab", DEFAULT_CONFIG.with_dictionary(tuple("helo wrd.!,\n"))),
    ("minscore1", DEFAULT_CONFIG.with_min_score(1.0)),
]


def main(n_batches=2000, batch_size=64, seed0=1000):
    total = fast = 0
    for bi in range(n_batches):
        rng = random.Random(seed0 + bi)
        texts = []
        for _ in range(batch_size):
            pieces = rng.choice(GRAMMAR_POOL)
            k = rng.randint(0, 60)
            texts.append("".join(rng.choice(pieces) for _ in range(k)))
        if bi % 2:
            texts = _cut_pairs(rng, texts)
        name, cfg = CONFIGS[bi % len(CONFIGS)]
        # cycle the engine's three modes: plain (\f rows held back),
        # allow_formfeed (\f rows run the stage-3 general machine), and
        # routing (roles array: tool+\f rows run the stage-4 document
        # machine, other \f rows run stage 3)
        mode = bi % 3
        aff = mode == 1
        roles = None
        if mode == 2:
            # routing mode: swap ~1/3 of rows for document-shaped
            # payloads so the stage-4 classifier paths get real input
            texts = [(_doc_payload(rng) if rng.random() < 0.35 else t)
                     for t in texts]
            roles = [rng.choice(["user", "assistant", "tool", "tool"])
                     for _ in texts]
        try:
            n_fast = assert_matches(texts, cfg, allow_formfeed=aff,
                                    roles=roles)
            # every row is answered; the plain mode holds \f rows back
            held = 0 if aff or roles is not None else sum(
                "\f" in t for t in texts)
            assert n_fast == len(texts) - held, (n_fast, len(texts), held)
            assert_extract_batch(texts, cfg, roles=roles)
            # with a few null rows planted (the engine hands a null
            # cell to the kernel as None)
            assert_detect_batch([None if rng.random() < 0.02 else t
                                 for t in texts], cfg)
        except AssertionError as e:
            raise AssertionError(
                f"config {name} mode={mode}: {e}") from e
        total += len(texts)
        fast += n_fast
        if (bi + 1) % 200 == 0:
            print(f"batch {bi+1}/{n_batches}: {total} rows, "
                  f"{fast} fast ({fast/total:.1%}), no divergence",
                  flush=True)
    if total == 0:
        print("DONE 0 rows (nothing fuzzed)")
        return
    print(f"DONE {total} rows, {fast} fast ({fast/total:.1%}), 0 divergences")


if __name__ == "__main__":
    nb = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    bs = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    s0 = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    main(nb, bs, s0)
