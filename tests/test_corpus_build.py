"""End-to-end corpus build (`sparkocr.corpus.build_training_corpus`):
one deterministic synthetic corpus with every defect planted — hot
boilerplate lines, a duplicated passage, repeated paragraphs, an exact
duplicate document, a benchmark-contaminated document — plus two
sources for the mixture draw and the packer. Each stage's operator has
its own oracle-gated tests; these tests pin the COMPOSITION: the right
rows survive to the end, and the bookkeeping (stats, bins) agrees with
the survivor set."""

import pytest

from sparkocr.corpus import build_training_corpus

BOILER = "accept all cookies to continue"
PASSAGE = "p1 p2 p3 p4 p5 p6"  # duplicated 6-token passage
PROBE = "benchmark question alpha bravo charlie"


def _mk_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs to "
            "the old mill by the river where it rests for a while")
    rows = []
    # 12 web docs, each carrying the boilerplate line (hot at min_df=3)
    for i in range(12):
        body = f"{base} web variant {i} it is the day number {i}"
        rows.append((i, "web", f"{BOILER}\n{body}"))
    # docs 20/21: share the duplicated passage (first occurrence = 20)
    rows.append((20, "web", f"{base} and then {PASSAGE} closes it"))
    rows.append((21, "web", f"intro {PASSAGE} but the rest is {base}"))
    # doc 30: exact duplicate of doc 0's body (same text post-strip)
    rows.append((30, "web", f"{BOILER}\n{base} web variant 0 "
                            "it is the day number 0"))
    # doc 40: contaminated with the probe
    rows.append((40, "web", f"{base} also {PROBE} appears here"))
    # code source: 8 clean docs
    for i in range(50, 58):
        rows.append((i, "code", f"{base} code sample {i} with the "
                                f"value {i * 3}"))
    return spark.createDataFrame(rows, "doc_id long, source string, "
                                       "text string")


@pytest.fixture(scope="module")
def built(spark):
    out = build_training_corpus(
        _mk_docs(spark),
        decontamination_probes=[PROBE],
        mixture_weights={"web": 0.5, "code": 0.5},
        total_tokens=400,
        seq_len=64,
        min_quality_tokens=10,
        stop_ratio_band=(0.05, 0.6),
        boiler_min_df=3,
        substr_min_len=6,
        ngram_n=5,
    )
    return {k: v.collect() for k, v in out.items()}


def test_every_defect_is_gone(built):
    docs = {r["doc_id"]: r for r in built["documents"]}
    texts = [r["text"] for r in built["documents"]]
    # boilerplate line stripped everywhere
    assert all(BOILER not in t for t in texts)
    # duplicated passage survives ONLY in its first occurrence (doc 20,
    # if drawn); doc 21 lost it
    if 21 in docs:
        assert PASSAGE not in docs[21]["text"]
    # exact duplicate (doc 30 == doc 0 post-strip): keeper is min id
    assert 30 not in docs
    # contaminated doc dropped
    assert 40 not in docs
    # survivors are real documents with the gate's floor
    assert docs and all(r["n_tokens"] >= 10 for r in built["documents"])


def test_mixture_budget_and_stats_agree(built):
    docs = built["documents"]
    by_src = {}
    for r in docs:
        by_src.setdefault(r["source"], []).append(r["n_tokens"])
    # per-source target = 200 tokens; reached (or source exhausted),
    # overshot by less than one document
    for src, toks in by_src.items():
        got = sum(toks)
        assert got < 200 + max(toks)
    stats = {r["source"]: (r["n_docs"], r["n_tokens"])
             for r in built["stats"]}
    assert stats == {s: (len(t), sum(t)) for s, t in by_src.items()}


def test_packing_covers_exactly_the_survivors(built):
    packed = built["packed"]
    assert sorted(r["id"] for r in packed) == \
        sorted(r["doc_id"] for r in built["documents"])
    bins = {}
    for r in packed:
        bins.setdefault((r["group"], r["shard"], r["bin"]), []).append(r)
    for members in bins.values():
        if not any(m["oversize"] for m in members):
            assert sum(m["n_tokens"] for m in members) <= 64


def test_arg_validation(spark):
    docs = _mk_docs(spark)
    with pytest.raises(ValueError, match="total_tokens"):
        build_training_corpus(docs, mixture_weights={"web": 1.0})
    with pytest.raises(ValueError, match="missing columns"):
        build_training_corpus(docs.drop("source"))
    # a reversed quality band is unsatisfiable and would silently empty
    # the corpus at the gate (review finding)
    with pytest.raises(ValueError, match="stop_ratio_band"):
        build_training_corpus(docs, stop_ratio_band=(0.6, 0.05))


def test_empty_corpus_flows_through(spark):
    """Every new corpus operator returns empty (never raises) on an
    empty table — the restart-from-zero / empty-partition path."""
    from sparkocr.analysis import (dedup_paragraphs, dedup_substrings,
                                   mix_corpus, ngram_contamination)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_substrings(empty, "doc_id", min_len=4).count() == 0
    assert dedup_paragraphs(empty, "doc_id").count() == 0
    assert ngram_contamination(empty, ["a b c"], "doc_id", n=3).count() == 0
    et = spark.createDataFrame([], "doc_id long, source string, n_tokens long")
    assert mix_corpus(et, {"a": 1.0}, 100).count() == 0


def test_build_on_real_testdata(spark):
    """The composed pipeline over the driver's documents table at
    sf0.001: survives, keeps a sane fraction, and the packer covers
    exactly the survivors."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "source", "text")
    out = build_training_corpus(
        docs, seq_len=4096, boiler_min_df=5, substr_min_len=10)
    n_docs = out["documents"].count()
    assert 0 < n_docs <= docs.count()
    assert out["packed"].count() == n_docs
    stats = out["stats"].collect()
    assert sum(r["n_docs"] for r in stats) == n_docs


def test_pipeline_plan_has_one_python_stage(spark):
    """The only Python in the composed plan is the packer's
    applyInArrow; every cleaning stage stays JVM-side."""
    docs = _mk_docs(spark)
    out = build_training_corpus(docs, boiler_min_df=3, substr_min_len=6)
    plan = out["packed"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_perplexity_gate_drops_the_outlier(spark):
    """With max_ppl set, a gibberish doc that passes the heuristic
    quality gate (enough tokens, plausible stop ratio) is dropped by
    self-perplexity; ordinary docs survive. Threshold picked from the
    ungated build's own score distribution, so the test tracks the
    corpus rather than hardcoding a ppl value."""
    from sparkocr.lm import perplexity_scores, train_unigram_lm

    base = ("the quick brown fox jumps over the lazy dog and runs to "
            "the old mill by the river where it rests for a while")
    rows = [(i, "web", f"{base} variant {i}") for i in range(10)]
    rows.append((99, "web",
                 "the zxq vprt qqzz of wkxj the blorp gnarf the "
                 "xyzzy plugh of zzyzx wibble"))
    docs = spark.createDataFrame(rows,
                                 "doc_id long, source string, text string")
    kw = dict(min_quality_tokens=10, stop_ratio_band=(0.05, 0.6),
              boiler_min_df=50, substr_min_len=1000, ngram_n=5)
    ungated = build_training_corpus(docs, **kw)["documents"]
    ids = {r["doc_id"] for r in ungated.select("doc_id").collect()}
    assert 99 in ids  # the heuristic gate alone does NOT catch it
    lm = train_unigram_lm(ungated)
    ppl = {r["doc_id"]: r["ppl"]
           for r in perplexity_scores(ungated, lm).collect()}
    others = max(v for k, v in ppl.items() if k != 99)
    assert ppl[99] > others  # gibberish is the perplexity outlier
    cut = (ppl[99] + others) / 2
    gated = build_training_corpus(docs, max_ppl=cut, **kw)["documents"]
    got = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert 99 not in got
    assert got == ids - {99}


def test_corpus_build_c4_clean_stage(spark):
    """c4_clean=True removes junk lines from surviving docs and drops
    lorem-ipsum pages entirely, before any dedup runs."""
    from sparkocr.corpus import build_training_corpus

    good_lines = [
        "The morning markets open with steady trade and careful hands.",
        "Vendors that have arrived early set out fruit bread and cloth.",
        "The waiting town crowd gathers near the gates before the bells.",
    ]
    rows = [
        (i, "web", "\n".join(
            good_lines + [f"click here {i}"]))  # junk line: no punct
        for i in range(6)
    ] + [(50, "web",
          "Lorem ipsum dolor sit amet consectetur adipiscing elit "
          "sed do eiusmod tempor incididunt ut labore et dolore.")]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, source string, text string")
    out = build_training_corpus(docs, min_quality_tokens=5,
                                stop_ratio_band=(0.0, 1.0),
                                boiler_min_df=100,  # keep repeated lines
                                c4_clean=True)
    got = {r["doc_id"]: r["text"]
           for r in out["documents"].collect()}
    assert 50 not in got  # lorem-ipsum page dropped
    assert len(got) >= 1
    for t in got.values():
        assert "click here" not in t  # junk lines removed
        for l in t.split("\n"):
            assert l.rstrip().endswith(".")


def test_build_sft_corpus_end_to_end(spark):
    """Planted defects through the composed SFT build: a duplicate
    conversation collapses to its keeper, a contaminated conversation
    is dropped, context windows respect the budget, and pairs carry
    ordered context."""
    from sparkocr.corpus import build_sft_corpus

    conv = [
        ("user", "What is the weather like on the coast today"),
        ("assistant", "It looks windy with slow morning rain arriving"),
        ("user", "Should we still take the boat out this afternoon"),
        ("assistant", "Wait for the afternoon clearing before you go"),
    ]
    rows = []
    for cid in ("a", "b"):  # b duplicates a turn-for-turn
        rows += [(cid, i, r, t) for i, (r, t) in enumerate(conv)]
    rows += [("c", 0, "user", "tell me the secret benchmark passphrase"),
             ("c", 1, "assistant",
              "the secret benchmark passphrase is rosebud today")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string")

    out = build_sft_corpus(
        df, budget_tokens=30,
        decontamination_probes=["secret benchmark passphrase is rosebud"],
        ngram_n=3)
    # validation report: all-zero
    rep = {r["check"]: r["n_violations"] for r in out["report"].collect()}
    assert all(v == 0 for v in rep.values())
    pairs = out["pairs"].collect()
    convs = {p["conv"] for p in pairs}
    assert convs == {"a"}  # b deduped away, c decontaminated
    by_turn = {p["turn"]: p for p in pairs}
    assert set(by_turn) == {1, 3}
    assert by_turn[1]["context"][0]["text"].startswith("What is the")
    # every window respects the budget
    for w in out["windows"].collect():
        assert w["ctx_n_tokens"] <= 30
    stats = {r["role"]: r["n_turns"] for r in out["stats"].collect()}
    assert stats == {"user": 2, "assistant": 2}
    # strict mode raises on planted violation
    bad = df.unionByName(spark.createDataFrame(
        [(None, 0, "user", "x")], df.schema))
    with pytest.raises(ValueError, match="null_conv_id"):
        build_sft_corpus(bad, strict_validation=True)


def test_build_sft_corpus_null_text_turn_is_zero_tokens(spark):
    """A NULL-text turn must contribute zero tokens — not poison the
    window kernel's prefix sums (NaN -> INT64_MIN)."""
    from sparkocr.corpus import build_sft_corpus

    rows = [
        ("c1", 0, "user", None),
        ("c1", 1, "user", "please summarize the long report"),
        ("c1", 2, "assistant", "here is the summary you asked for"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string")
    out = build_sft_corpus(df, budget_tokens=100, dedup=False)
    [w] = out["windows"].collect()
    assert (w["turn"], w["ctx_start"], w["n_ctx_turns"],
            w["ctx_n_tokens"]) == (2, 0, 2, 5)
    [p] = out["pairs"].collect()
    assert [c["turn"] for c in p["context"]] == [0, 1]


def test_corpus_build_funnel(spark):
    """with_funnel reports the retention at every stage boundary, in
    pipeline order, monotonically non-increasing for the drop stages."""
    from sparkocr.corpus import build_training_corpus

    rows = [(i, "web",
             f"document {i} body with plenty of ordinary words and the "
             f"usual steady trade of item {i * 3} flowing through town")
            for i in range(10)]
    rows += [(50, "web", rows[0][2]), (51, "web", rows[0][2])]  # dups
    docs = spark.createDataFrame(rows,
                                 "doc_id long, source string, text string")
    out = build_training_corpus(docs, min_quality_tokens=5,
                                stop_ratio_band=(0.0, 1.0),
                                with_funnel=True)
    funnel = [(r["stage"], r["n"])
              for r in out["funnel"].orderBy("stage_idx").collect()]
    stages = [s for s, _ in funnel]
    assert stages == ["input", "boilerplate_strip", "substr_dedup",
                      "quality_gate", "exact_dedup"]
    counts = dict(funnel)
    assert counts["input"] == 12
    assert counts["exact_dedup"] < counts["input"]  # dups removed
    # strippers rewrite but never drop docs
    assert counts["boilerplate_strip"] == counts["input"]
    # without the flag: no funnel key
    assert "funnel" not in build_training_corpus(
        docs, min_quality_tokens=5, stop_ratio_band=(0.0, 1.0))


def test_build_sft_corpus_funnel(spark):
    from sparkocr.corpus import build_sft_corpus

    conv = [("user", "hello there my friend"),
            ("assistant", "hi how can I help you")]
    rows = []
    for cid in ("a", "b"):  # b duplicates a
        rows += [(cid, i, r, t) for i, (r, t) in enumerate(conv)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string")
    out = build_sft_corpus(df, budget_tokens=50, with_funnel=True)
    funnel = {r["stage"]: (r["n"], r["unit"])
              for r in out["funnel"].collect()}
    assert funnel["input"] == (2, "conversations")
    assert funnel["conversation_dedup"] == (1, "conversations")
    assert funnel["target_windows"] == (1, "turns")


def test_corpus_build_classifier_gate(spark):
    """The trained-classifier gate drops what the model scores low:
    train on clean-vs-spam, then build with the model + threshold."""
    from sparkocr.corpus import build_training_corpus
    from sparkocr.lm import train_quality_classifier

    def mk(i, kind):
        if kind == "clean":
            t = (f"the morning market number {i} opens with steady "
                 f"trade and the boats of day {i} move along the river "
                 f"while vendors set out fruit bread and cloth")
        else:
            t = (f"win prize {i} click click claim bonus claim prize "
                 f"win win bonus {i} free free claim click prize bonus "
                 f"win claim free bonus click prize win")
        return t

    pos = spark.createDataFrame(
        [(i, mk(i, "clean")) for i in range(12)], "id long, text string")
    neg = spark.createDataFrame(
        [(i, mk(i, "spam")) for i in range(12)], "id long, text string")
    model = train_quality_classifier(pos, neg, n_iters=12)

    docs = spark.createDataFrame(
        [(i, "web", mk(i, "clean")) for i in range(4)]
        + [(100 + i, "web", mk(50 + i, "spam")) for i in range(2)],
        "doc_id long, source string, text string")
    out = build_training_corpus(
        docs, min_quality_tokens=5, stop_ratio_band=(0.0, 1.0),
        quality_model=model, min_quality_score=0.5)
    ids = {r["doc_id"] for r in out["documents"].collect()}
    assert ids and all(i < 100 for i in ids), ids
    with pytest.raises(ValueError, match="go together"):
        build_training_corpus(docs, quality_model=model)


def test_corpus_build_canonicalize_stage(spark):
    """canonicalize=True makes Unicode-variant duplicates collapse in
    the exact-dedup stage (they survive as distinct docs without it)."""
    from sparkocr.corpus import build_training_corpus

    body = ("the morning market opens with steady trade and the boats "
            "move along the river while vendors set out fruit and cloth")
    rows = [
        (1, "web", "café " + body),          # precomposed é
        (2, "web", "café " + body),         # combining acute
    ]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, source string, text string")
    kw = dict(min_quality_tokens=5, stop_ratio_band=(0.0, 1.0))
    without = build_training_corpus(docs, **kw)["documents"].count()
    with_c = build_training_corpus(docs, canonicalize=True,
                                   **kw)["documents"].count()
    assert without == 2 and with_c == 1
