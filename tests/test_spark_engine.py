"""Spark engine ≡ oracle equality (the correctness gate of the north
rule): the fused mapInArrow pipeline must reproduce the single-node
oracle byte-for-byte under window-ranked (conv_id, turn_idx) ordering,
at any parallelism."""

import json
import os

import pytest

from sparkocr.config import FLAGSHIP_CONFIG
from sparkocr.engine import (
    SparkOcrEngine,
    explode_blocks,
    ordered,
    with_rank,
)
from sparkocr.fixtures import turns_pandas

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "fixtures", "golden_extract.json")


@pytest.fixture(scope="module")
def corpus_df(spark):
    # deterministically shuffled on-disk order: ordering must be recovered
    return spark.createDataFrame(turns_pandas(seed=42, n_convs=12, mean_turns=10))


@pytest.fixture(scope="module")
def engine(spark):
    return SparkOcrEngine(spark, FLAGSHIP_CONFIG)


@pytest.fixture(scope="module")
def extracted(engine, corpus_df):
    out = engine.extract(corpus_df, repartition=7)  # odd partitioning on purpose
    return (
        ordered(out)
        .select("conv_id", "turn_idx", "n_blocks", "blocks", "full_text",
                "error_code")
        .collect()
    )


@pytest.fixture(scope="module")
def golden_rows():
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


def test_extract_matches_goldens_bytewise(extracted, golden_rows):
    assert len(extracted) == len(golden_rows)
    for got, exp in zip(extracted, golden_rows):
        assert got.conv_id == exp["conv_id"]
        assert got.turn_idx == exp["turn_idx"]
        assert got.full_text == exp["full_text"], (got.conv_id, got.turn_idx)
        assert got.n_blocks == exp["n_blocks"]
        assert got.error_code == exp["error_code"]
        for gb, eb in zip(got.blocks, exp["blocks"]):
            assert gb.pos == eb["pos"]
            assert gb.text == eb["text"]
            assert gb.block_type == eb["block_type"]
            assert (gb.left, gb.top, gb.width, gb.height) == (
                eb["left"], eb["top"], eb["width"], eb["height"])
            assert (gb.start, gb.end) == (eb["start"], eb["end"])
            assert abs(gb.confidence - eb["confidence"]) < 1e-6


def test_extract_parallelism_invariance(engine, corpus_df, extracted):
    """Same input at a different partitioning → identical bytes (the
    N-vs-4N equality half of the scaling requirement)."""
    again = (
        ordered(engine.extract(corpus_df, repartition=2))
        .select("conv_id", "turn_idx", "full_text")
        .collect()
    )
    assert [(r.conv_id, r.turn_idx, r.full_text) for r in again] == [
        (r.conv_id, r.turn_idx, r.full_text) for r in extracted
    ]


def test_extract_plan_is_single_narrow_stage(engine, corpus_df):
    """The fused pipeline must not shuffle: one mapInArrow directly
    over the scan."""
    plan = engine.extract(corpus_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_spans_and_blocks_verbs(engine, spark):
    df = spark.createDataFrame(
        [("c1", 0, "  hello brave world  "), ("c1", 1, "<div><span></span></div>")],
        "conv_id string, turn_idx int, text string",
    )
    eng = SparkOcrEngine(spark)  # flagship config
    rows = (
        eng.spans(df).orderBy("turn_idx").select("turn_idx", "boxes").collect()
    )
    assert len(rows[0].boxes) == 1 and rows[0].boxes[0].start == 0
    assert rows[1].boxes == []
    crows = eng.blocks(df).orderBy("turn_idx").collect()
    assert crows[0].crops == ["  hello brave world  "]
    assert crows[1].crops == []


def test_recognize_verb(engine, spark):
    df = spark.createDataFrame(
        [("wait!!! what???",), ("<b>xy</b>",), (None,)], "text string"
    )
    rows = engine.recognize(df).select("recognized.*").collect()
    got = {(r.text, r.block_type) for r in rows}
    assert ("wait! what?", "prose") in got
    assert ("xy", "prose") in got
    assert (None, None) in got


def test_recognize_verb_matches_per_row_oracle(engine, spark):
    """The pooled-decode recognize verb must be bit-identical to
    recognize_crop per row — markup-bearing rows (which need the
    markup scoring branch and fall back inside the UDF), entities,
    multi-line, CJK, empty, and plain rows alike."""
    from sparkocr.recognize import classify_block, recognize_crop

    texts = [t for t in turns_pandas(seed=5, n_convs=4)["text"]
             if isinstance(t, str)][:120]
    texts += ["", "   ", "<b>bold</b> markup row", "&lt;minted&gt;",
              "multi\nline\ncrop here", "漢字かなカナ混在の行。!!?"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = (engine.recognize(df).select("text", "recognized.*")
            .collect())
    by_input = {}
    for r in rows:
        by_input.setdefault(r[0], (r[1], r[2], r[3]))
    for t in texts:
        decoded, conf, canon = recognize_crop(t, engine.config)
        want = (decoded, conf, classify_block(canon))
        assert by_input[t] == want, ascii(t)


def test_recognize_kernel_surrogate_and_poison_paths(monkeypatch):
    """The testable kernel behind the recognize verb: a lone-surrogate
    row must become an all-None row (the per-row UTF-32 encode failure,
    same as the old loop), and a failing pooled decode must fall back
    per-row with btypes re-derived — not leave half-written state."""
    import sparkocr.fastbatch as fb
    from sparkocr.config import FLAGSHIP_CONFIG
    from sparkocr.recognize import recognize_crop

    rows = ["plain text row", "\ud800 lone surrogate", None,
            "<b>markup</b> row", "second plain row!!"]
    texts, confs, btypes = fb.recognize_batch(rows, FLAGSHIP_CONFIG)
    assert texts[1] is None and confs[1] is None and btypes[1] is None
    assert texts[2] is None
    assert texts[0] == recognize_crop("plain text row", FLAGSHIP_CONFIG)[0]
    assert texts[3] == recognize_crop("<b>markup</b> row",
                                      FLAGSHIP_CONFIG)[0]

    # poison pool: force decode_canons_flat to blow up — every pooled
    # row must re-derive per-row, bit-identical to recognize_crop
    def boom(canons, cfg):
        raise RuntimeError("forced pool failure")

    monkeypatch.setattr(fb, "decode_canons_flat", boom)
    texts2, confs2, btypes2 = fb.recognize_batch(rows, FLAGSHIP_CONFIG)
    assert (texts2, confs2, btypes2) == (texts, confs, btypes)


def test_explode_blocks_positional_key(engine, spark):
    df = spark.createDataFrame(turns_pandas(seed=9, n_convs=4, mean_turns=6))
    out = engine.extract(df)
    flat = explode_blocks(out.select("conv_id", "turn_idx", "blocks"))
    rows = flat.orderBy("conv_id", "turn_idx", "pos").collect()
    # pos is dense 0..n-1 within each turn
    seen = {}
    for r in rows:
        k = (r.conv_id, r.turn_idx)
        assert r.pos == seen.get(k, 0)
        seen[k] = r.pos + 1


def test_with_rank_dense_global_order(engine, corpus_df):
    ranked = with_rank(corpus_df.select("conv_id", "turn_idx")).collect()
    assert [r.rank for r in ranked] == list(range(1, len(ranked) + 1))
    keys = [(r.conv_id, r.turn_idx) for r in ranked]
    assert keys == sorted(keys)


def test_null_text_yields_error_row(engine, spark):
    df = spark.createDataFrame(
        [("c", 0, None)], "conv_id string, turn_idx int, text string"
    )
    r = engine.extract(df).collect()[0]
    assert r.error_code == "InputError" and r.n_blocks == 0


# rows the batch stages hand to the per-turn pipeline: entity-minted
# markup (single line, multi-line, inside a routed document)
RESIDUE_TEXTS = [
    "&lt;b&gt;minted bold tag&lt;/b&gt; here",
    "first plain line of text\n&lt;i&gt;minted italic&lt;/i&gt; line",
    "Body text on page one.\n\fBody &lt;b&gt;minted&lt;/b&gt; page two.",
]


def _boundary_frames(spark):
    import datetime

    from pyspark.sql import functions as F

    ts = datetime.datetime(2024, 5, 1, 12, 30)
    mixed = [
        ("c1", 0, "user", "hello brave new world", ts),
        ("c1", 1, "assistant", None, ts),
        ("c1", 2, "user", "", None),
        ("c1", 3, "tool",
         "Quarterly report body text.\n\fTable: a | b | c\n\fMore body.",
         ts),
        ("c1", 4, "user", "two lines\nof plain text here", ts),
        ("c1", 5, "user", "<div>markup <b>bearing</b> turn</div>", ts),
    ] + [("c2", k, "tool", t, ts) for k, t in enumerate(RESIDUE_TEXTS)]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    df = spark.createDataFrame(mixed, schema).coalesce(1)
    residue = df.where(F.col("conv_id") == "c2")
    return df, residue


@pytest.mark.parametrize("case", ["ts_passthrough", "route_drop_role",
                                  "all_residue", "zero_rows"])
def test_extract_arrow_boundary(engine, spark, case):
    """The cases the ``mapInArrow`` boundary changes: a timestamp
    passthrough (as ``streaming.quality_metrics_stream`` passes it),
    routing with a passthrough that drops ``role``, null/empty rows and
    a batch of the rows the batch once left to the per-turn path (now
    all answered in the batch), and a zero-row input. The output
    schema is exactly the passthrough fields plus
    ``EXTRACT_RESULT_FIELDS``; every row equals the per-turn pipeline
    (confidence as float32 bits)."""
    import numpy as np
    from pyspark.sql.types import StructType

    from sparkocr.engine import EXTRACT_RESULT_FIELDS
    from sparkocr.fastbatch import batch_extract_simple
    from sparkocr.pipeline import extract_turn_auto

    df, residue = _boundary_frames(spark)
    # the former residue frame is answered in the batch, routed or not
    for ff, roles in ((True, None), (False, ["tool"] * len(RESIDUE_TEXTS))):
        assert None not in batch_extract_simple(RESIDUE_TEXTS,
                                                FLAGSHIP_CONFIG, ff, roles)
    passthrough, route = ("conv_id", "turn_idx", "role", "ts"), False
    if case == "route_drop_role":
        passthrough, route = ("conv_id", "turn_idx"), True
    elif case == "all_residue":
        df = residue
    elif case == "zero_rows":
        df = df.limit(0)
    keep = [c for c in passthrough if c in df.columns]

    out = engine.extract(df, passthrough=passthrough, route_documents=route)
    assert out.schema == StructType(
        [df.schema[c] for c in keep] + EXTRACT_RESULT_FIELDS)
    got = {(r.conv_id, r.turn_idx): r for r in out.collect()}
    src = df.collect()
    assert len(got) == len(src)
    if case != "zero_rows":
        assert len(src) >= 3
    for row in src:
        g = got[(row.conv_id, row.turn_idx)]
        for c in keep:
            assert g[c] == row[c], c
        want = extract_turn_auto(row.text, row.role if route else None,
                                 FLAGSHIP_CONFIG)
        assert (g.n_blocks, g.full_text, g.error_code, g.error_msg) == (
            len(want.blocks), want.full_text, want.error_code,
            want.error_msg)
        assert len(g.blocks) == len(want.blocks)
        for gb, wb in zip(g.blocks, want.blocks):
            gd, wd = gb.asDict(), dict(wb.__dict__)
            assert (np.float32(gd.pop("confidence")).view(np.uint32)
                    == np.float32(wd.pop("confidence")).view(np.uint32))
            assert gd == wd


def test_simhash_neardup_pairs(spark):
    """Banded Hamming join finds planted near-dups exactly (pigeonhole:
    hamming<=3 pairs always share a 16-bit band) and nothing else that
    brute force wouldn't."""
    import itertools

    from pyspark.sql import functions as F

    from sparkocr.analysis import simhash64, simhash_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    rows = [
        (0, base),
        (1, base.replace("river", "creek")),          # near-dup of 0
        (2, base.replace("quick", "rapid").replace("dog", "hound")),
        (3, "completely different content about spark catalyst planning "
            "optimizers shuffles partitions and executors " * 4),
        (4, base),                                    # exact dup of 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_neardup_pairs(df, "doc_id", max_hamming=3).collect()}
    # brute-force reference over the same simhash values
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id").collect()}
    exp = {
        (i, j): bin((sh[i] ^ sh[j]) & (2**64 - 1)).count("1")
        for i, j in itertools.combinations(sorted(sh), 2)
        if bin((sh[i] ^ sh[j]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == exp
    assert (0, 4) in got and got[(0, 4)] == 0  # exact dup found at distance 0


def test_short_docs_have_no_shingles(spark):
    """Documents shorter than n tokens must produce NO n-grams — a
    truncated shingle would make 1-token twins jaccard-1.0 near-dups
    and diverge from the pos+1-join oracle (review finding)."""
    from pyspark.sql import functions as F

    from sparkocr.analysis import minhash_signatures, ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, "a proper longer document with words"),
         (4, "a proper longer document with words")],
        "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, "doc_id", n=2, threshold=0.2).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(3, 4)}
    sigs = minhash_signatures(df, "doc_id", n_shingle=2).collect()
    assert {r["doc"] for r in sigs} == {3, 4}


def test_simhash_degenerate_bucket_guard(spark):
    """10k near-identical docs all hash to the same simhash — without
    the occupancy cap one (band_no, band_val) bucket would do O(n²)
    residual-filter work (round-1 review finding). With the cap the op
    completes with bounded output; dropping hot buckets may only lose
    pairs whose EVERY agreeing band is hot."""
    from pyspark.sql import functions as F

    from sparkocr.analysis import simhash_neardup_pairs

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate footer text repeated everywhere "
              "on every single page of the site").alias("text"),
    )
    out = simhash_neardup_pairs(docs, "doc_id", max_hamming=3,
                                max_bucket=200)
    assert out.count() == 0  # all 4 bands hot -> bucket dropped entirely
    # same corpus under the uncapped path would be ~2M pairs — don't run
    # it; instead verify the cap leaves a small mixed corpus untouched
    mixed = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 4),
         (2, "the quick brown fox jumps over the lazy cat " * 4),
         (3, "entirely unrelated text about query optimizers " * 4)],
        "doc_id long, text string")
    capped = {(r["doc_a"], r["doc_b"])
              for r in simhash_neardup_pairs(mixed, "doc_id",
                                             max_bucket=200).collect()}
    uncapped = {(r["doc_a"], r["doc_b"])
                for r in simhash_neardup_pairs(mixed, "doc_id",
                                               max_bucket=None).collect()}
    assert capped == uncapped


def test_simhash_min_token_floor(spark):
    """Empty / single-token docs are excluded before banding: their
    simhashes are degenerate (all-identical) and carry no signal."""
    from sparkocr.analysis import simhash_neardup_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "x"), (4, "x"),
         (5, "a real document with several words inside " * 3),
         (6, "a real document with several words inside " * 3)],
        "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"])
             for r in simhash_neardup_pairs(df, "doc_id").collect()}
    assert pairs == {(5, 6)}


def test_minhash_single_compute_and_no_dedup_shuffle(spark):
    """The signature pipeline is materialized once (no HashAggregate in
    the final plan — it ran eagerly at build time) and pair dedupe is
    the map-side first-agreeing-band filter, not a dropDuplicates
    aggregate (round-1 review finding)."""
    from sparkocr.analysis import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(i, f"shared prefix tokens for everyone then unique tail {i} "
             f"more filler words here {i}") for i in range(20)],
        "doc_id long, text string")
    out = minhash_lsh_pairs(df, "doc_id", n_shingle=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan  # signature agg ran once, eagerly
    out.collect()  # and the pair plan executes


def test_keys_file_vocabulary_end_to_end(spark):
    """The real reference keys file restricts recognition THROUGH the
    Spark engine: an out-of-vocab character decodes as blank end-to-end
    (previously only unit-tested; round-1 review ask)."""
    import os

    from sparkocr.config import FLAGSHIP_CONFIG
    from sparkocr.keys import load_keys_file

    keys_path = "/root/reference/models/ppocr_keys_v5.txt"
    if not os.path.exists(keys_path):
        import pytest

        pytest.skip("reference keys file unavailable")
    keys = load_keys_file(keys_path)
    assert len(keys) > 18000
    eng = SparkOcrEngine(spark, FLAGSHIP_CONFIG.with_dictionary(keys))
    # pick a char the unrestricted model KEEPS (word-scored: Greek /
    # Cyrillic ranges) but the keys file lacks — so the only thing that
    # can drop it is the dictionary
    vocab_chars = set("".join(keys))
    oov = next(c for c in (chr(x) for x in
                           list(range(0x3A2, 0x400)) + list(range(0x460, 0x500)))
               if c not in vocab_chars)
    df = spark.createDataFrame(
        [("c", 0, "user", f"A plain prose sentence with {oov} inside it.")],
        "conv_id string, turn_idx int, role string, text string")
    row = eng.extract(df).collect()[0]
    assert oov not in row["full_text"]
    assert "plain prose sentence" in row["full_text"]
    # same turn WITHOUT the dictionary keeps the char (sanity)
    row2 = SparkOcrEngine(spark, FLAGSHIP_CONFIG).extract(df).collect()[0]
    assert oov in row2["full_text"]


def test_pii_scrub(spark):
    from sparkocr.analysis import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@sub.example.org and call +44-123-456-7890 ok"),
         (2, "no pii in this one at all"),
         (3, "two mails a@b.io c@d.co and none else")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert "<EMAIL>" in rows[1]["scrubbed"] and "<PHONE>" in rows[1]["scrubbed"]
    assert "bob.smith" not in rows[1]["scrubbed"]
    assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (0, 0)
    assert rows[2]["scrubbed"] == rows[2]["text"]
    assert rows[3]["n_emails"] == 2


def test_repetition_ratio(spark):
    from sparkocr.analysis import repetition_ratio

    df = spark.createDataFrame(
        [(1, "a a a a b"),        # top token 'a' 4/5
         (2, "x y z w")],         # all distinct 1/4
        "doc_id long, text string")
    rows = {r["doc"]: r for r in repetition_ratio(df, "doc_id").collect()}
    assert (rows[1]["top_tok_n"], rows[1]["n_tokens"], rows[1]["rep_ratio"]) \
        == (4, 5, 0.8)
    assert rows[2]["rep_ratio"] == 0.25


def test_contamination_counts_broadcast(spark):
    from sparkocr.analysis import contamination_counts

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "quick silver"), (3, "nothing")],
        "doc_id long, text string")
    out = contamination_counts(df, ["quick", "fox", "absent"])
    got = {r["probe"]: r["n_docs"] for r in out.collect()}
    # a clean probe reports 0 rather than vanishing — "0 hits" must be
    # distinguishable from "probe not checked" (review finding)
    assert got == {"quick": 2, "fox": 1, "absent": 0}
    # the probe side must ride a broadcast, not a shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_stratified_sample_and_hash_split_deterministic(spark):
    from sparkocr.analysis import hash_split, stratified_sample

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", f"text {i}") for i in range(200)],
        "doc_id long, source string, text string")
    s1 = {(r["source"], r["doc_id"])
          for r in stratified_sample(docs, k=5).collect()}
    s2 = {(r["source"], r["doc_id"])
          for r in stratified_sample(docs, k=5).collect()}
    assert s1 == s2 and len(s1) == 15
    # per-group exactly k
    from collections import Counter
    assert set(Counter(src for src, _ in s1).values()) == {5}

    splits = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert set(splits.values()) == {"train", "val", "test"}
    # deterministic across calls and roughly 75/12.5/12.5
    again = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert splits == again
    n_train = sum(1 for v in splits.values() if v == "train")
    assert 0.6 < n_train / len(splits) < 0.9


def test_module_level_singleton_verbs(spark):
    """engine.rs free-function parity: process_ocr over the initialized
    singleton; uninitialized use raises."""
    import sparkocr.engine as eng_mod

    old = eng_mod._INSTANCE
    eng_mod._INSTANCE = None
    try:
        with pytest.raises(RuntimeError):
            eng_mod.process_ocr(spark.createDataFrame(
                [("c", 0, "hi there friend")],
                "conv_id string, turn_idx int, text string"))
        eng_mod.initialize(spark)
        df = spark.createDataFrame(
            [("c", 0, "a plain prose sentence for the verbs")],
            "conv_id string, turn_idx int, text string")
        assert eng_mod.process_ocr(df).collect()[0]["n_blocks"] == 1
    finally:
        eng_mod._INSTANCE = old


def test_strip_boilerplate_lines(spark):
    from sparkocr.analysis import strip_boilerplate_lines

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    rows = [(i, f"{banner}\nunique content number {i}\nmore text {i}")
            for i in range(12)] + [(100, "no banner in this document")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: r for r in
           strip_boilerplate_lines(df, "doc_id", min_df=10).collect()}
    for i in range(12):
        assert banner not in out[i]["clean_text"]
        assert f"unique content number {i}" in out[i]["clean_text"]
        assert out[i]["n_lines_kept"] == 2
    assert out[100]["clean_text"] == "no banner in this document"
    # short lines repeat naturally and are exempt from the hot list
    rows2 = [(i, f"ok\nreal content stays here {i}") for i in range(20)]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {r["doc"]: r["clean_text"]
            for r in strip_boilerplate_lines(df2, "doc_id",
                                             min_df=10).collect()}
    assert all(v.startswith("ok\n") for v in out2.values())


def test_url_domain_counts(spark):
    from sparkocr.analysis import url_domain_counts

    df = spark.createDataFrame(
        [(1, "see https://a.example.com/x and http://b.org plus text"),
         (2, "again https://a.example.com/other?q=1 here"),
         (3, "no links at all")],
        "doc_id long, text string")
    got = {r["domain"]: r["n_urls"]
           for r in url_domain_counts(df).collect()}
    assert got == {"a.example.com": 2, "b.org": 1}


def test_neardup_components_chain_and_triangle(spark):
    """Label propagation must find transitive clusters: a 4-node chain
    (diameter 3) and a separate triangle collapse to two components
    with min-id keepers."""
    from sparkocr.analysis import dedup_keepers, neardup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),       # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12)],  # triangle
        "doc_a long, doc_b long")
    comp = {r["node"]: r["component"]
            for r in neardup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    keepers = {r["component"]: (r["keeper"], r["n_members"])
               for r in dedup_keepers(pairs).collect()}
    assert keepers == {1: (1, 4), 10: (10, 3)}


def test_url_domain_normalization(spark):
    """Scheme matches case-insensitively; domains lowercase; trailing
    sentence dots stripped (review finding: fragmented count keys)."""
    from sparkocr.analysis import url_domain_counts

    df = spark.createDataFrame(
        [(1, "Visit HTTPS://A.Example.COM now"),
         (2, "see https://a.example.com. end of sentence"),
         (3, "plain https://a.example.com/path too")],
        "doc_id long, text string")
    got = {r["domain"]: r["n_urls"]
           for r in url_domain_counts(df).collect()}
    assert got == {"a.example.com": 3}


def test_strip_boilerplate_keeps_all_boilerplate_docs(spark):
    """A doc that is 100% boilerplate still appears (empty, 0 lines) —
    'was all boilerplate' and 'never existed' are different facts
    (review finding)."""
    from sparkocr.analysis import strip_boilerplate_lines

    banner = "ACCEPT ALL COOKIES TO CONTINUE"
    rows = [(i, f"{banner}\ncontent {i} stays") for i in range(11)]
    rows.append((99, banner))  # banner-only doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: r for r in
           strip_boilerplate_lines(df, "doc_id", min_df=10).collect()}
    assert out[99]["clean_text"] == "" and out[99]["n_lines_kept"] == 0
    assert len(out) == 12


def test_neardup_components_raises_on_non_convergence(spark):
    """A chain whose diameter exceeds max_iters must RAISE, not return
    silently split components (review finding)."""
    from sparkocr.analysis import neardup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(chain, max_iters=3)
    # and converges fine when allowed enough rounds
    comp = {r["node"]: r["component"]
            for r in neardup_components(chain, max_iters=20).collect()}
    assert set(comp.values()) == {0}
