"""Corpus-construction operators: paragraph-level exact dedup,
token-budget corpus mixing, ExactSubstr-style substring dedup, and
n-gram benchmark decontamination — hand goldens, invariants, and
independent (DuckDB-SQL / brute-force string-keyed) oracle
cross-checks."""

import duckdb
import pytest
from pyspark.sql import functions as F

from sparkocr.analysis import (
    dedup_paragraphs, dedup_substrings, mix_corpus, ngram_contamination)

SEP = "\n\n"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# dedup_paragraphs


def test_paragraph_dedup_hand_golden(spark):
    # "shared paragraph" appears in docs 0, 1, 2 — survives only in
    # doc 0 (first occurrence under (doc, pos) order); unique content
    # is untouched; short paragraphs are exempt even when repeated
    rows = [
        (0, SEP.join(["alpha unique one", "shared paragraph x", "tail"])),
        (1, SEP.join(["shared paragraph x", "beta unique two", "tail"])),
        (2, SEP.join(["gamma unique three", "shared paragraph x"])),
    ]
    got = {r["doc"]: (r["clean_text"], r["n_paras_kept"])
           for r in dedup_paragraphs(_docs(spark, rows), "doc_id").collect()}
    # "tail" (4 chars < min_para_chars=8) is exempt and kept everywhere
    assert got == {
        0: (SEP.join(["alpha unique one", "shared paragraph x", "tail"]), 3),
        1: (SEP.join(["beta unique two", "tail"]), 2),
        2: ("gamma unique three", 1),
    }


def test_paragraph_dedup_all_duplicate_doc_survives_empty(spark):
    rows = [
        (0, "only paragraph here"),
        (1, "only paragraph here"),
    ]
    got = {r["doc"]: (r["clean_text"], r["n_paras_kept"])
           for r in dedup_paragraphs(_docs(spark, rows), "doc_id").collect()}
    assert got == {0: ("only paragraph here", 1), 1: ("", 0)}


def test_paragraph_dedup_first_occurrence_is_positional(spark):
    # within ONE doc a repeated paragraph keeps only its first position
    rows = [(5, SEP.join(["repeat me paragraph", "middle bit unique",
                          "repeat me paragraph"]))]
    got = dedup_paragraphs(_docs(spark, rows), "doc_id").collect()[0]
    assert got["clean_text"] == SEP.join(
        ["repeat me paragraph", "middle bit unique"])
    assert got["n_paras_kept"] == 2


def test_paragraph_dedup_matches_duckdb_oracle(spark):
    """Independent oracle: first-occurrence-wins as a row_number window
    over string paragraph keys (no hashes, no sparkocr code)."""
    # deterministic corpus with heavy cross-doc repetition
    pool = [f"paragraph body number {i % 7} with shared text" for i in range(9)]
    rows = [
        (d, SEP.join(pool[(d * 3 + j) % len(pool)]
                     for j in range(1 + d % 4)))
        for d in range(40)
    ]
    got = sorted(
        (r["doc"], r["clean_text"], r["n_paras_kept"])
        for r in dedup_paragraphs(
            _docs(spark, rows).repartition(7), "doc_id").collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?,?)", rows)
    oracle = con.execute(r"""
        WITH paras AS (
          SELECT doc,
                 generate_subscripts(string_split(text, E'\n\n'), 1) - 1 AS pos,
                 unnest(string_split(text, E'\n\n')) AS para
          FROM d
        ), ranked AS (
          SELECT doc, pos, para,
                 CASE WHEN length(para) < 8 THEN 1
                      ELSE row_number() OVER (
                        PARTITION BY CASE WHEN length(para) >= 8
                                          THEN para END
                        ORDER BY doc, pos) END AS rn
          FROM paras
        ), agg AS (
          SELECT doc,
                 string_agg(para, E'\n\n' ORDER BY pos) AS clean_text,
                 count(*) AS n_paras_kept
          FROM ranked WHERE rn = 1 GROUP BY doc
        )
        SELECT d2.doc, coalesce(a.clean_text, '') AS clean_text,
               CAST(coalesce(a.n_paras_kept, 0) AS BIGINT) AS n_paras_kept
        FROM (SELECT DISTINCT doc FROM paras) d2
        LEFT JOIN agg a USING (doc)
    """).fetchall()
    assert got == sorted(oracle)


# ---------------------------------------------------------------------------
# mix_corpus


def _corpus(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long")


def _naive_oracle(rows, weights, total):
    """The spec, straight: per-source md5 order, keep while the running
    total BEFORE the doc is under the source's target."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, source VARCHAR, n_tokens BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    wsum = sum(weights.values())
    targets = ", ".join(
        f"('{s}', {int(round(w / wsum * total))})"
        for s, w in sorted(weights.items()))
    return con.execute(f"""
        WITH tg(source, target) AS (VALUES {targets}),
        o AS (
          SELECT t.source, t.doc_id, t.n_tokens, tg.target,
                 coalesce(sum(t.n_tokens) OVER (
                   PARTITION BY t.source
                   ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
          FROM t JOIN tg USING (source)
        )
        SELECT source, doc_id, n_tokens FROM o WHERE cum_before < target
    """).fetchall()


def test_mix_corpus_matches_naive_oracle_at_any_bucketing(spark):
    rows = [(i, f"s{i % 3}", (i * 7919) % 50 + 1) for i in range(600)]
    weights = {"s0": 0.6, "s1": 0.3, "s2": 0.1}
    total = 3000
    oracle = sorted(_naive_oracle(rows, weights, total))
    df = _corpus(spark, rows)
    for nb in (1, 7, 256):
        got = sorted(
            (r["source"], r["doc_id"], r["n_tokens"])
            for r in mix_corpus(df.repartition(11), weights, total,
                                n_buckets=nb).collect()
        )
        assert got == oracle, f"n_buckets={nb} diverged from the spec"


def test_mix_corpus_meets_target_within_one_doc(spark):
    rows = [(i, "web" if i % 2 else "code", 10 + i % 13)
            for i in range(400)]
    weights = {"web": 3.0, "code": 1.0}
    total = 2000
    out = mix_corpus(_corpus(spark, rows), weights, total).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["n_tokens"])
    for src, target in (("web", 1500), ("code", 500)):
        got = sum(by_src[src])
        # reached, overshot by less than the largest doc
        assert target <= got < target + max(by_src[src])


def test_mix_corpus_small_source_contributes_everything(spark):
    rows = [(i, "tiny", 5) for i in range(10)] + \
           [(100 + i, "big", 50) for i in range(100)]
    out = mix_corpus(_corpus(spark, rows), {"tiny": 0.5, "big": 0.5}, 4000)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["tiny"] == 10  # 50 tokens available vs 2000 target
    assert 0 < counts["big"] <= 100


def test_mix_corpus_unlisted_source_contributes_nothing(spark):
    rows = [(1, "a", 10), (2, "b", 10)]
    out = mix_corpus(_corpus(spark, rows), {"a": 1.0}, 100).collect()
    assert [(r["source"], r["doc_id"]) for r in out] == [("a", 1)]


def test_mix_corpus_rejects_bad_args(spark):
    df = _corpus(spark, [(1, "a", 10)])
    with pytest.raises(ValueError):
        mix_corpus(df, {}, 100)
    with pytest.raises(ValueError):
        mix_corpus(df, {"a": -1.0}, 100)
    with pytest.raises(ValueError):
        mix_corpus(df, {"a": 1.0}, -5)
    with pytest.raises(ValueError):
        mix_corpus(df, {"a": 1.0}, 100, n_buckets=0)
    with pytest.raises(ValueError):
        mix_corpus(df, {"a": 1.0}, 100, n_buckets=65537)


# ---------------------------------------------------------------------------
# dedup_substrings (ExactSubstr)


def _brute_substr(rows, L):
    """Independent spec: string-keyed window scan, keep-first, span
    union, token-position removal. No hashes, no sparkocr code."""
    first = {}
    for doc, text in sorted(rows):
        toks = text.split(" ")
        for i in range(len(toks) - L + 1):
            first.setdefault(" ".join(toks[i:i + L]), (doc, i))
    out = {}
    for doc, text in rows:
        toks = text.split(" ")
        flagged = [
            (i, i + L) for i in range(len(toks) - L + 1)
            if first[" ".join(toks[i:i + L])] != (doc, i)
        ]
        covered = set()
        for s, e in flagged:
            covered.update(range(s, e))
        if not covered:
            out[doc] = (text, 0)
        else:
            kept = [t for p, t in enumerate(toks) if p not in covered]
            out[doc] = (" ".join(kept), len(covered))
    return out


def test_substr_dedup_hand_golden(spark):
    # doc 1 repeats doc 0's 4-token run "w x y z"; the copy (and only
    # the copy) is cut; doc 2 is untouched byte-identically
    rows = [
        (0, "a b w x y z c"),
        (1, "p q w x y z r s"),
        (2, "no  duplicates\nhere at all"),  # double space + newline survive
    ]
    got = {r["doc"]: (r["clean_text"], r["n_tokens_removed"])
           for r in dedup_substrings(_docs(spark, rows), "doc_id",
                                     min_len=4).collect()}
    assert got == {
        0: ("a b w x y z c", 0),
        1: ("p q r s", 4),
        2: ("no  duplicates\nhere at all", 0),
    }


def test_substr_dedup_overlapping_windows_merge_into_one_span(spark):
    # a 6-token duplicated passage under L=4 flags 3 overlapping
    # windows; they must merge into ONE 6-token span, not remove 12
    rows = [
        (0, "u1 u2 d1 d2 d3 d4 d5 d6 u3"),
        (1, "v1 d1 d2 d3 d4 d5 d6 v2 v3"),
    ]
    got = {r["doc"]: (r["clean_text"], r["n_tokens_removed"])
           for r in dedup_substrings(_docs(spark, rows), "doc_id",
                                     min_len=4).collect()}
    assert got[0] == ("u1 u2 d1 d2 d3 d4 d5 d6 u3", 0)
    assert got[1] == ("v1 v2 v3", 6)


def test_substr_dedup_within_one_doc_keeps_first(spark):
    rows = [(7, "r1 r2 r3 r4 mid1 mid2 r1 r2 r3 r4 tail")]
    got = dedup_substrings(_docs(spark, rows), "doc_id",
                           min_len=4).collect()[0]
    assert got["clean_text"] == "r1 r2 r3 r4 mid1 mid2 tail"
    assert got["n_tokens_removed"] == 4


def test_substr_dedup_fully_duplicated_doc_empties(spark):
    rows = [(0, "c1 c2 c3 c4 c5"), (1, "c1 c2 c3 c4 c5")]
    got = {r["doc"]: (r["clean_text"], r["n_tokens_removed"])
           for r in dedup_substrings(_docs(spark, rows), "doc_id",
                                     min_len=5).collect()}
    assert got == {0: ("c1 c2 c3 c4 c5", 0), 1: ("", 5)}


def test_substr_dedup_short_docs_never_touched(spark):
    rows = [(0, "same short"), (1, "same short")]
    got = {r["doc"]: r["clean_text"]
           for r in dedup_substrings(_docs(spark, rows), "doc_id",
                                     min_len=3).collect()}
    assert got == {0: "same short", 1: "same short"}


def test_substr_dedup_matches_brute_oracle(spark):
    # deterministic corpus with shared runs of varying length, repeats
    # within and across docs, and sub-threshold near-misses
    vocab = [f"t{i}" for i in range(12)]
    rows = []
    for d in range(30):
        toks = [vocab[(d * 5 + j * 3 + (j * j) % 7) % 12]
                for j in range(6 + d % 9)]
        if d % 3 == 0:  # plant a shared 5-run
            toks[1:1] = ["s1", "s2", "s3", "s4", "s5"]
        rows.append((d, " ".join(toks)))
    L = 5
    want = _brute_substr(rows, L)
    got = {r["doc"]: (r["clean_text"], r["n_tokens_removed"])
           for r in dedup_substrings(
               _docs(spark, rows).repartition(7), "doc_id",
               min_len=L).collect()}
    assert got == want


def test_substr_dedup_rejects_bad_min_len(spark):
    with pytest.raises(ValueError):
        dedup_substrings(_docs(spark, [(0, "a b")]), "doc_id", min_len=1)


# ---------------------------------------------------------------------------
# ngram_contamination


def test_ngram_contamination_hand_golden(spark):
    probes = ["the quick brown fox jumps",
              "benchmark answer key goes here"]
    rows = [
        (0, "prefix the quick brown fox jumps suffix"),     # hits probe 0
        (1, "totally clean document with original words"),  # clean
        (2, "the quick brown fox jumps and also "
            "benchmark answer key goes here twice "
            "benchmark answer key goes here"),              # both probes
        (3, "quick brown fox jumps the"),                   # reordered: clean
    ]
    got = {r["doc"]: (r["n_hit_windows"], r["n_probes_hit"])
           for r in ngram_contamination(_docs(spark, rows), probes,
                                        "doc_id", n=5).collect()}
    assert got == {0: (1, 1), 2: (3, 2)}


def test_ngram_contamination_matches_brute_oracle(spark):
    probes = ["p0 p1 p2", "q0 q1 q2 q3"]
    vocab = ["p0", "p1", "p2", "q0", "q1", "q2", "q3", "x", "y", "z"]
    rows = [(d, " ".join(vocab[(d + j) % 10] for j in range(3 + d % 8)))
            for d in range(60)]
    n = 3
    probe_grams = set()
    for p in probes:
        pt = p.split(" ")
        probe_grams.update(" ".join(pt[i:i + n])
                           for i in range(len(pt) - n + 1))
    want = {}
    for d, text in rows:
        toks = text.split(" ")
        hits = [" ".join(toks[i:i + n]) in probe_grams
                for i in range(len(toks) - n + 1)]
        if any(hits):
            want[d] = sum(hits)
    got = {r["doc"]: r["n_hit_windows"]
           for r in ngram_contamination(_docs(spark, rows), probes,
                                        "doc_id", n=n).collect()}
    assert got == want


def test_ngram_contamination_rejects_bad_args(spark):
    df = _docs(spark, [(0, "a b c")])
    with pytest.raises(ValueError):
        ngram_contamination(df, [], "doc_id")
    with pytest.raises(ValueError):
        ngram_contamination(df, ["a b"], "doc_id", n=0)
    with pytest.raises(ValueError, match="shorter than n"):
        ngram_contamination(df, ["a b c", "a b"], "doc_id", n=3)


# ---------------------------------------------------------------------------
# source_overlap_jaccard


def test_source_overlap_extremes(spark):
    from sparkocr.analysis import source_overlap_jaccard
    rows = [
        (0, "same text shared by both sources exactly", "a"),
        (1, "same text shared by both sources exactly", "b"),
        (2, "completely different words in this one here", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["source_a"], r["source_b"]): r["est_jaccard"]
           for r in source_overlap_jaccard(df).collect()}
    assert got[("a", "b")] == 1.0   # identical shingle sets
    assert got[("a", "c")] == 0.0   # disjoint
    assert got[("b", "c")] == 0.0


def test_source_overlap_tracks_exact_jaccard(spark):
    """The k=256 estimate lands within ~3 stderr of the exact Jaccard
    of the sources' 3-shingle sets (computed string-keyed in Python)."""
    from sparkocr.analysis import source_overlap_jaccard
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(40):
        toks = [vocab[(d * 7 + j) % 30] for j in range(12)]
        rows.append((d, " ".join(toks), "a" if d % 2 else "b"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def shingles(src):
        out = set()
        for d, text, s in rows:
            if s != src:
                continue
            t = text.split(" ")
            out.update(" ".join(t[i:i + 3]) for i in range(len(t) - 2))
        return out
    sa, sb = shingles("a"), shingles("b")
    exact = len(sa & sb) / len(sa | sb)
    [r] = source_overlap_jaccard(df).collect()
    stderr = (exact * (1 - exact) / 256) ** 0.5
    assert abs(r["est_jaccard"] - exact) <= max(3 * stderr, 0.02), \
        (r["est_jaccard"], exact)
    # deterministic: a second run is bit-identical
    [r2] = source_overlap_jaccard(df).collect()
    assert r2["est_jaccard"] == r["est_jaccard"]


# ---------------------------------------------------------------------------
# review-found regressions


def test_mix_corpus_string_ids_and_custom_names(spark):
    """Ids of any orderable type round-trip untouched (no long cast);
    source/token column names are honored in the output."""
    from sparkocr.analysis import mix_corpus
    rows = [(f"doc-{i}", f"s{i % 2}", 10) for i in range(40)]
    df = spark.createDataFrame(rows, "uid string, corpus string, toks long")
    out = mix_corpus(df, {"s0": 1.0, "s1": 1.0}, 100, id_col="uid",
                     token_col="toks", source_col="corpus")
    assert out.columns == ["corpus", "uid", "toks"]
    got = out.collect()
    assert got and all(r["uid"].startswith("doc-") for r in got)


def test_mix_corpus_zero_token_docs_bucket_invariant(spark):
    """Zero-token docs at an exact bucket boundary must not flip with
    n_buckets: every bucketing matches the naive global-window spec."""
    rows = []
    for i in range(120):
        # every third doc carries zero tokens; targets will land exactly
        # on bucket sums for some n_buckets
        rows.append((i, "s", 0 if i % 3 == 0 else 5))
    weights, total = {"s": 1.0}, 100
    oracle = sorted(_naive_oracle(rows, weights, total))
    df = _corpus(spark, rows)
    for nb in (1, 4, 64, 256):
        got = sorted((r["source"], r["doc_id"], r["n_tokens"])
                     for r in mix_corpus(df, weights, total,
                                         n_buckets=nb).collect())
        assert got == oracle, f"n_buckets={nb} diverged on zero-token docs"


def test_ngram_contamination_shared_gram_counts_once(spark):
    """An n-gram appearing in several probes is one hit window."""
    rows = [(0, "x a b c y")]
    got = ngram_contamination(_docs(spark, rows),
                              ["a b c", "z a b c"], "doc_id", n=3).collect()
    assert [(r["doc"], r["n_hit_windows"], r["n_probes_hit"])
            for r in got] == [(0, 1, 2)]


def test_source_overlap_reports_shingleless_sources(spark):
    """A source with no n_shingle-length docs still appears in every
    pair, scoring 0.0 — pairs never silently vanish."""
    from sparkocr.analysis import source_overlap_jaccard
    rows = [
        (0, "shared words run together here", "a"),
        (1, "shared words run together here", "c"),
        (2, "tiny", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["source_a"], r["source_b"]): r["est_jaccard"]
           for r in source_overlap_jaccard(df).collect()}
    assert got == {("a", "b"): 0.0, ("a", "c"): 1.0, ("b", "c"): 0.0}


# ---------------------------------------------------------------------------
# randomized sweep: substring dedup vs the brute oracle


def test_substr_dedup_randomized_sweep_matches_brute(spark):
    """Seeded randomized corpora (varying doc counts, lengths, dup
    plant rates, window lengths) — every one must match the
    string-keyed brute-force spec exactly. Catches span-merge and
    first-occurrence edge cases no hand golden thought of."""
    import random
    for seed in range(6):
        rng = random.Random(seed)
        L = rng.choice([3, 4, 5])
        vocab = [f"v{i}" for i in range(rng.choice([6, 10, 20]))]
        shared = [f"s{i}" for i in range(L + rng.randrange(4))]
        rows = []
        for d in range(rng.choice([8, 25])):
            toks = [rng.choice(vocab)
                    for _ in range(rng.randrange(0, 18))]
            if rng.random() < 0.5 and toks:
                # plant the shared run (possibly twice in one doc)
                at = rng.randrange(len(toks) + 1)
                toks[at:at] = shared
                if rng.random() < 0.3:
                    toks.extend(shared)
            rows.append((d, " ".join(toks)))
        want = _brute_substr(rows, L)
        got = {r["doc"]: (r["clean_text"], r["n_tokens_removed"])
               for r in dedup_substrings(
                   _docs(spark, rows).repartition(5), "doc_id",
                   min_len=L).collect()}
        assert got == want, f"seed={seed} L={L} diverged"


# ---------------------------------------------------------------------------
# dedup_conversations


def _convs(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx long, text string")


def test_dedup_conversations_hand_golden(spark):
    from sparkocr.analysis import dedup_conversations
    rows = [
        ("a", 0, "x"), ("a", 1, "y"), ("a", 2, "z"),
        # same texts, renumbered turns -> duplicate of a
        ("b", 5, "x"), ("b", 6, "y"), ("b", 7, "z"),
        # same multiset, different order -> NOT a duplicate
        ("c", 0, "x"), ("c", 1, "z"), ("c", 2, "y"),
        # prefix only -> NOT a duplicate
        ("d", 0, "x"), ("d", 1, "y"),
    ]
    got = {r["conv"]: (r["fingerprint"], r["keep"])
           for r in dedup_conversations(_convs(spark, rows)).collect()}
    assert got["a"][0] == got["b"][0]
    assert len({fp for fp, _ in got.values()}) == 3
    assert [got[c][1] for c in "abcd"] == [1, 0, 1, 1]


def test_dedup_conversations_matches_reference_grouping(spark):
    """Randomized corpus with planted duplicates vs the obvious spec:
    group by the ordered tuple of turn texts, keep min conv id."""
    import random
    from sparkocr.analysis import dedup_conversations
    rng = random.Random(5)
    rows, texts_of = [], {}
    for c in range(30):
        cid = f"conv{c:02d}"
        if c >= 10 and rng.random() < 0.4:
            # duplicate an earlier conversation, renumbering turns
            src = texts_of[f"conv{rng.randrange(c - 5, c):02d}"]
            texts = list(src)
        else:
            texts = [f"t{rng.randrange(8)}"
                     for _ in range(rng.randrange(1, 6))]
        texts_of[cid] = tuple(texts)
        base = rng.randrange(0, 100)
        rows.extend((cid, base + i, tx) for i, tx in enumerate(texts))
    keepers = {}
    for cid, key in texts_of.items():
        keepers[key] = min(keepers.get(key, cid), cid)
    want = {cid: int(keepers[texts_of[cid]] == cid) for cid in texts_of}
    out = dedup_conversations(_convs(spark, rows).repartition(7)).collect()
    got = {r["conv"]: r["keep"] for r in out}
    assert got == want
    # fingerprints agree exactly with text-tuple identity
    fp = {r["conv"]: r["fingerprint"] for r in out}
    for c1 in texts_of:
        for c2 in texts_of:
            assert (fp[c1] == fp[c2]) == (texts_of[c1] == texts_of[c2]), \
                (c1, c2)


def test_rolling_hash_kernel_math():
    """The Karp-Rabin kernel's renormalized-prefix form must equal a
    direct Horner evaluation of h_i = sum_j t_{i+j}*A^(L-1-j) mod 2^64,
    and equal windows must hash equal wherever they sit — across
    positions, documents, and Arrow-batch layouts (a sliced array,
    docs shorter than L, an empty batch)."""
    import random

    import pyarrow as pa

    from sparkocr.analysis import _KR_A, _rolling_window_hashes

    rng = random.Random(42)
    L = 5
    kernel = _rolling_window_hashes(L).func  # unwrap the arrow_udf

    def horner(toks):
        out = []
        for i in range(len(toks) - L + 1):
            h = 0
            for j in range(L):
                h = (h * _KR_A + toks[i + j]) % (1 << 64)
            # two's-complement to match the kernel's int64 view
            out.append(h - (1 << 64) if h >= (1 << 63) else h)
        return out

    def batch(docs):
        return pa.array(docs, type=pa.list_(pa.int64()))

    # docs shorter than L (down to empty) get no windows
    docs = [
        [rng.getrandbits(63) for _ in range(rng.randint(0, 30))]
        for _ in range(50)
    ]
    assert any(len(d) < L for d in docs)
    got = kernel(batch(docs)).to_pylist()
    assert len(got) == len(docs)
    for d, g in zip(docs, got):
        assert g == horner(d), "kernel != Horner evaluation"

    # a sliced array: the kernel reads its own offsets, not the parent's
    got = kernel(batch(docs).slice(7, 30)).to_pylist()
    assert got == [horner(d) for d in docs[7:37]]
    assert kernel(batch([])).to_pylist() == []

    # position independence: the same window content in two different
    # docs, at different offsets, in different batch layouts
    win = [rng.getrandbits(63) for _ in range(L)]
    a = [rng.getrandbits(63) for _ in range(7)] + win
    b = win + [rng.getrandbits(63) for _ in range(3)]
    (ha,), (hb,) = (kernel(batch([x])).to_pylist() for x in (a, b))
    assert ha[len(a) - L] == hb[0]


# ---------------------------------------------------------------------------
# Gopher repetition battery + CCNet perplexity buckets


def test_gopher_battery_hand_golden(spark):
    """Every signal against hand-computed values on a crafted doc."""
    from sparkocr.analysis import gopher_repetition_signals

    # lines: ["dup", "dup", "x"]  -> 1 beyond-first of 3; chars 3/7
    # paras (split on \n\n): ["dup\ndup", "x"] -> no dup paras
    # tokens: "a b a b a b c" -> top 2-gram ("a","b") x3, chars 2*3=6 of 7
    t1 = "dup\ndup\nx"
    t2 = "a b a b a b c"
    df = spark.createDataFrame([(1, t1), (2, t2)],
                               "doc_id long, text string")
    out = {r["doc"]: r.asDict() for r in
           gopher_repetition_signals(df, "doc_id").collect()}
    r1 = out[1]
    assert r1["frac_dup_lines"] == round(1 / 3, 6)
    assert r1["frac_chars_dup_lines"] == round(3 / 7, 6)
    assert r1["frac_dup_paras"] == 0.0
    assert r1["frac_chars_dup_paras"] == 0.0
    r2 = out[2]
    # "a b" appears 3x as a 2-gram; gram chars = 2, total tok chars = 7
    assert r2["frac_chars_top_2gram"] == round(3 * 2 / 7, 6)
    # 5-grams: (a b a b a) at 0 and (b a b a b) at 1 each once,
    # (a b a b c)... none repeat -> coverage 0
    assert r2["frac_chars_dup_5gram"] == 0.0
    # tokens "a b a b a b c": 2-gram (a,b) repeats -> dup coverage for
    # n=2 would be positions 0..5 = 6 tokens of 7 chars... n=2 is not
    # in dup_ns by default; exercise via custom ns
    custom = gopher_repetition_signals(
        df, "doc_id", top_ns=(2,), dup_ns=(2,)).collect()
    r2c = {r["doc"]: r.asDict() for r in custom}[2]
    assert r2c["frac_chars_dup_2gram"] == round(6 / 7, 6)


def test_gopher_battery_matches_reference(spark):
    """Randomized cross-check against an independently-written
    reference implementation."""
    import random
    from collections import Counter

    from sparkocr.analysis import gopher_repetition_signals

    def ref(text, top_ns, dup_ns):
        exp = {}
        for name, sep in (("lines", "\n"), ("paras", "\n\n")):
            units = text.split(sep)
            c = Counter(units)
            dups = {u for u, k in c.items() if k > 1}
            extra = sum(c[u] - 1 for u in dups)
            echars = sum((c[u] - 1) * len(u) for u in dups)
            tchars = sum(map(len, units))
            exp[f"frac_dup_{name}"] = round(extra / len(units), 6)
            exp[f"frac_chars_dup_{name}"] = (
                round(echars / tchars, 6) if tchars else 0.0)
        toks = text.split(" ")
        tot = sum(map(len, toks))
        for n in top_ns:
            c = Counter(tuple(toks[i:i + n])
                        for i in range(len(toks) - n + 1))
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]),
                       default=(None, 0))
            exp[f"frac_chars_top_{n}gram"] = (
                round(best[1] * sum(map(len, best[0])) / tot, 6)
                if best[1] >= 2 and tot else 0.0)
        for n in dup_ns:
            c = Counter(tuple(toks[i:i + n])
                        for i in range(len(toks) - n + 1))
            cov = set()
            for i in range(len(toks) - n + 1):
                if c[tuple(toks[i:i + n])] > 1:
                    cov.update(range(i, i + n))
            exp[f"frac_chars_dup_{n}gram"] = (
                round(sum(len(toks[i]) for i in cov) / tot, 6)
                if tot else 0.0)
        return exp

    rng = random.Random(7)
    words = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for d in range(40):
        n = rng.randint(0, 30)
        text = " ".join(rng.choice(words) for _ in range(n))
        if rng.random() < 0.3:
            text = text.replace(" ", "\n", 3)
        rows.append((d, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc"]: r.asDict() for r in
           gopher_repetition_signals(df, "doc_id").collect()}
    for d, text in rows:
        want = ref(text, (2, 3, 4), (5, 6, 7, 8, 9, 10))
        g = got[d]
        for k, v in want.items():
            assert g[k] == v, (d, k, g[k], v, text)


def test_gopher_battery_plan_is_narrow(spark):
    from sparkocr.analysis import gopher_repetition_signals

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    plan = gopher_repetition_signals(
        docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    # doc-local signals: no data-dependent shuffle. The one allowed
    # Exchange is spread_small_scan's RoundRobin spreading a
    # single-split test scan across slots — the expensive Python
    # kernel must not run on one core
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        frag = plan.split("Exchange", 1)[1].split("\n", 1)[0]
        assert "RoundRobin" in frag, f"unexpected shuffle: {frag}"
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_ppl_buckets_matches_duckdb_quantiles(spark):
    import duckdb

    from sparkocr.lm import perplexity_scores, ppl_buckets, train_unigram_lm

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    lm = train_unigram_lm(docs, vocab_size=1000)
    scores = perplexity_scores(docs, lm).localCheckpoint(eager=True)
    got = {r["doc_id"]: r["ppl_bucket"]
           for r in ppl_buckets(scores).collect()}
    pdf = scores.toPandas()
    con = duckdb.connect()
    con.register("s", pdf)
    [(c1, c2)] = con.execute(
        "SELECT quantile_cont(ppl, 1.0/3), quantile_cont(ppl, 2.0/3) "
        "FROM s").fetchall()
    want = {}
    for _, row in pdf.iterrows():
        p = row["ppl"]
        want[row["doc_id"]] = (
            None if p is None
            else "head" if p <= c1 else "middle" if p <= c2 else "tail")
    assert got == want
    # all three bands populated on real data
    assert {"head", "middle", "tail"} <= set(got.values())


def test_ppl_buckets_validation_and_nulls(spark):
    import pytest as _pytest

    from sparkocr.lm import ppl_buckets

    s = spark.createDataFrame(
        [(1, 5.0), (2, None)], "doc_id long, ppl double")
    out = {r["doc_id"]: r["ppl_bucket"] for r in ppl_buckets(s).collect()}
    assert out[2] is None and out[1] == "head"
    with _pytest.raises(ValueError):
        ppl_buckets(s, boundaries=(0.8, 0.2))
    with _pytest.raises(ValueError):
        ppl_buckets(s, labels=("a", "b"))


def test_gopher_filter_gate_and_violations(spark):
    from sparkocr.analysis import (GOPHER_REPETITION_THRESHOLDS,
                                   gopher_repetition_filter)

    clean = ("the quick brown fox jumps over the lazy dog near the old "
             "river bank while distant markets open slowly today")
    spammy = "buy now " * 40  # top 2-gram covers nearly everything
    df = spark.createDataFrame(
        [(1, clean), (2, spammy)], "doc_id long, text string")
    out = {r["doc"]: r.asDict() for r in
           gopher_repetition_filter(df, "doc_id").collect()}
    assert out[1]["passes"] and out[1]["n_violations"] == 0
    assert not out[2]["passes"]
    assert "frac_chars_top_2gram" in out[2]["violations"]
    # subset gate computes only what it checks and orders violations
    # by the thresholds dict
    sub = {r["doc"]: r.asDict() for r in gopher_repetition_filter(
        df, "doc_id",
        thresholds={"frac_chars_top_2gram": 0.2}).collect()}
    assert sub[2]["violations"] == ["frac_chars_top_2gram"]
    assert sub[1]["passes"]
    with pytest.raises(ValueError, match="unknown signals"):
        gopher_repetition_filter(df, "doc_id",
                                 thresholds={"no_such_signal": 0.1})
    # defaults are exactly the paper's 13 signals
    assert len(GOPHER_REPETITION_THRESHOLDS) == 13


def test_corpus_build_gopher_gate_drops_repetitive_doc(spark):
    from sparkocr.corpus import build_training_corpus

    clean_rows = [
        (i, "web",
         f"unique document number {i} talks about rivers mountains "
         f"markets and the slow morning trade of item {i * 7}")
        for i in range(8)
    ]
    # top-2-gram repetitive ("buy now" = 2/3 of char mass) but every
    # 50-token window is unique (the u{i} salt), so the substring-dedup
    # and quality stages upstream leave it alone — only the Gopher gate
    # can drop it
    spam = (100, "web",
            " ".join(f"buy now u{i}" for i in range(40)))
    docs = spark.createDataFrame(clean_rows + [spam],
                                 "doc_id long, source string, text string")
    base = build_training_corpus(docs, min_quality_tokens=5,
                                 stop_ratio_band=(0.0, 1.0))
    assert 100 in {r["doc_id"]
                   for r in base["documents"].select("doc_id").collect()}
    gated = build_training_corpus(docs, min_quality_tokens=5,
                                  stop_ratio_band=(0.0, 1.0),
                                  gopher_gate=True)
    ids = {r["doc_id"]
           for r in gated["documents"].select("doc_id").collect()}
    assert 100 not in ids and len(ids) >= 7


def test_gopher_quality_filter_rules(spark):
    from sparkocr.analysis import gopher_quality_filter

    good = ("the morning markets open with steady trade and boats move "
            "along the river while vendors that have arrived early set "
            "out fruit bread cloth and tools for the waiting town crowd "
            "gathered near the gates before the bells ring out again "
            "and the traders count their coins while children watch the "
            "carts roll past the fountain toward the open square")
    rows = [
        (1, good),                                  # passes everything
        (2, "short text"),                          # too few words
        (3, " ".join(["####"] * 60)),               # symbols + alpha + stops
        (4, "\n".join(["- item " + str(i) for i in range(20)])),  # bullets
        (5, " ".join(["a"] * 60)),                  # mean len < 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: r.asDict()
           for r in gopher_quality_filter(df, "doc_id").collect()}
    assert out[1]["passes"], out[1]["violations"]
    assert "too_few_words" in out[2]["violations"]
    assert {"symbol_word_ratio", "alpha_words",
            "stop_words"} <= set(out[3]["violations"])
    assert "bullet_lines" in out[4]["violations"]
    assert "mean_word_len_out_of_band" in out[5]["violations"]
    # non-English escape hatch: stop-word rule off
    noen = gopher_quality_filter(
        df, "doc_id", min_stop_words=0).collect()
    assert all("stop_words" not in r["violations"] for r in noen)


def test_gopher_quality_filter_pure_codegen(spark):
    from sparkocr.analysis import gopher_quality_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = gopher_quality_filter(
        docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_c4_line_filters_hand_golden(spark):
    from sparkocr.analysis import c4_line_filters

    t1 = "\n".join([
        "This line has enough words and ends properly.",   # kept
        "short line.",                                     # <5 words
        "No terminal punctuation on this line here",       # no punct
        "Enable javascript to view this page properly.",   # banned word
        'He said "it ends with a quote."',                 # kept (quote)
        "Another perfectly reasonable sentence stands here.",  # kept
    ])
    t2 = "Lorem Ipsum dolor sit amet consectetur adipiscing elit today."
    t3 = "var x = {a: 1}; this page is code with plenty of words inside."
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3)], "doc_id long, text string")
    out = {r["doc"]: r.asDict() for r in
           c4_line_filters(df, "doc_id").collect()}
    assert out[1]["clean_text"] == "\n".join([
        "This line has enough words and ends properly.",
        'He said "it ends with a quote."',
        "Another perfectly reasonable sentence stands here.",
    ])
    assert out[1]["n_lines_kept"] == 3
    assert not out[1]["dropped"]
    assert out[2]["dropped"]
    assert "contains:lorem ipsum" in out[2]["drop_reasons"]
    assert out[3]["dropped"]
    assert "curly_brace" in out[3]["drop_reasons"]
    # one-line doc: survives line rules but fails the 3-sentence rule
    one = spark.createDataFrame(
        [(9, "Just one fine sentence that is long enough to stay.")],
        "doc_id long, text string")
    r9 = c4_line_filters(one, "doc_id").collect()[0]
    assert r9["n_lines_kept"] == 1 and r9["dropped"]
    assert r9["drop_reasons"] == ["too_few_sentences"]


def test_c4_line_filters_plan_no_python_no_text_shuffle(spark):
    from sparkocr.analysis import c4_line_filters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = c4_line_filters(
        docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for frag in plan.split("Exchange")[1:]:
        first_line = frag.split("\n", 1)[0]
        assert "text" not in first_line, f"text in shuffle: {first_line}"


def test_gopher_quality_filter_null_text_fails(spark):
    """NULL text must FAIL the gate like empty text does — a quality
    filter never waves unreadable rows through on null propagation."""
    from sparkocr.analysis import gopher_quality_filter

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string")
    out = {r["doc"]: r.asDict()
           for r in gopher_quality_filter(df, "doc_id").collect()}
    for d in (1, 2):
        assert not out[d]["passes"]
        assert "too_few_words" in out[d]["violations"]


def test_corpus_build_rejects_orphan_gopher_thresholds(spark):
    from sparkocr.corpus import build_training_corpus

    docs = spark.createDataFrame(
        [(0, "web", "some text here")],
        "doc_id long, source string, text string")
    with pytest.raises(ValueError, match="gopher_gate"):
        build_training_corpus(docs,
                              gopher_thresholds={"frac_dup_lines": 0.5})


def test_drop_positions_rewrite_property(spark):
    """Hypothesis-style randomized invariants for the shared
    positional-drop rewrite (one Spark round-trip over many random
    cases — hypothesis driving Spark per-example would be minutes):
    against a pure-Python split/del/join reference, across random
    texts (empty units, trailing separators) and random drop sets
    (empty, full, out-of-order, all positions)."""
    import random

    from sparkocr.analysis import _drop_positions_rewrite

    rng = random.Random(99)
    rows, drops, want = [], [], {}
    for d in range(60):
        n_units = rng.randint(0, 8)
        units = [
            rng.choice(["", "x", "longer unit", "a b", "zz"])
            for _ in range(n_units)
        ] or [""]  # "".split -> [""]
        text = "\n".join(units)
        rows.append((d, text))
        k = rng.randint(0, len(units))
        pos = rng.sample(range(len(units)), k)
        drops += [(d, p) for p in pos]
        keep = [u for i, u in enumerate(units) if i not in pos]
        want[d] = ("\n".join(keep) if pos else text, len(units) - k)
    df = spark.createDataFrame(rows, "doc long, text string")
    ddf = spark.createDataFrame(drops or [(999999, 0)],
                                "doc long, pos int")
    out = {r["doc"]: (r["clean_text"], r["n_kept"])
           for r in _drop_positions_rewrite(
               df, "doc", "text", "\n", ddf, "n_kept").collect()
           if r["doc"] != 999999}
    assert out == want


# ---------------------------------------------------------------------------
# SFT context windows + pair assembly


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, "
              "text string, n_tokens long")


def test_sft_context_windows_hand_golden(spark):
    from sparkocr.analysis import sft_context_windows

    rows = [
        ("c1", 0, "user", "u0", 10),
        ("c1", 1, "assistant", "a1", 5),   # ctx: turn 0 (10 <= 12)
        ("c1", 2, "user", "u2", 8),
        ("c1", 3, "assistant", "a3", 5),   # ctx: turns 2 (5+8>12 ->
                                           # start at 2? 1..2 = 5+8=13>12
                                           # -> 2..2 = 8 <= 12)
        ("c2", 0, "assistant", "a0", 3),   # first turn: empty context
    ]
    out = {(r["conv"], r["turn"]): r.asDict() for r in
           sft_context_windows(_turns(spark, rows), 12).collect()}
    assert set(out) == {("c1", 1), ("c1", 3), ("c2", 0)}
    r = out[("c1", 1)]
    assert (r["ctx_start"], r["n_ctx_turns"], r["ctx_n_tokens"]) == (0, 1, 10)
    r = out[("c1", 3)]
    assert (r["ctx_start"], r["n_ctx_turns"], r["ctx_n_tokens"]) == (2, 1, 8)
    r = out[("c2", 0)]
    assert (r["ctx_start"], r["n_ctx_turns"], r["ctx_n_tokens"]) == (0, 0, 0)
    with pytest.raises(ValueError):
        sft_context_windows(_turns(spark, rows), 0)


def test_sft_context_windows_matches_duckdb_oracle(spark):
    """Correlated-subquery oracle: smallest start with the window sum
    inside the budget, per assistant turn."""
    import random

    from sparkocr.analysis import sft_context_windows

    rng = random.Random(13)
    rows = []
    for c in range(12):
        for t in range(rng.randint(1, 15)):
            rows.append((f"c{c}", t,
                         rng.choice(["user", "assistant", "tool"]),
                         f"t{c}-{t}", rng.randint(1, 30)))
    B = 40
    got = sorted(
        (r["conv"], r["turn"], r["ctx_start"], r["n_ctx_turns"],
         r["ctx_n_tokens"])
        for r in sft_context_windows(
            _turns(spark, rows).repartition(5), B).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE t(conv VARCHAR, turn BIGINT, role VARCHAR,"
                " text VARCHAR, n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", rows)
    oracle = con.execute(f"""
        WITH pre AS (
          SELECT conv, turn, role, n,
                 coalesce(sum(n) OVER (PARTITION BY conv ORDER BY turn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS p
          FROM t
        )
        SELECT a.conv, a.turn,
               coalesce((SELECT min(s.turn) FROM pre s
                         WHERE s.conv = a.conv AND s.turn < a.turn
                           AND a.p - s.p <= {B}), a.turn) AS ctx_start,
               CAST(coalesce((SELECT count(*) FROM pre s
                         WHERE s.conv = a.conv AND s.turn < a.turn
                           AND a.p - s.p <= {B}), 0) AS INT)
                 AS n_ctx_turns,
               coalesce((SELECT a.p - min(s.p) FROM pre s
                         WHERE s.conv = a.conv AND s.turn < a.turn
                           AND a.p - s.p <= {B}), 0) AS ctx_n_tokens
        FROM pre a WHERE a.role = 'assistant'
    """).fetchall()
    assert got == sorted(oracle)


def test_assemble_sft_pairs_golden(spark):
    from sparkocr.analysis import assemble_sft_pairs, sft_context_windows

    rows = [
        ("c1", 0, "user", "hello there", 10),
        ("c1", 1, "assistant", "hi friend", 5),
        ("c1", 2, "user", "long question follows", 8),
        ("c1", 3, "assistant", "short answer", 5),
        ("c2", 0, "assistant", "opener", 3),
    ]
    df = _turns(spark, rows)
    w = sft_context_windows(df, 12)
    out = {(r["conv"], r["turn"]): r.asDict()
           for r in assemble_sft_pairs(df, w).collect()}
    p = out[("c1", 3)]
    assert p["target_text"] == "short answer"
    assert [(c["turn"], c["role"], c["text"]) for c in p["context"]] == [
        (2, "user", "long question follows")]
    assert out[("c2", 0)]["context"] == []
    assert out[("c1", 1)]["context"][0]["text"] == "hello there"


def test_validate_transcripts_contract(spark):
    from sparkocr.analysis import validate_transcripts

    rows = [
        ("c1", 0, "user", "hello"),
        ("c1", 1, "assistant", "hi"),
        ("c2", 0, "user", "solo"),
        ("c3", 1, "user", "starts at one"),        # non-contiguous
        ("c4", 0, "user", "dup turn a"),
        ("c4", 0, "tool", "dup turn b"),           # duplicate (c4, 0)
        (None, 0, "user", "null conv"),
        ("c5", None, "user", "null turn"),
        ("c6", -1, "user", "negative"),            # also non-contiguous
        ("c7", 0, "robot", None),                  # bad role + null text
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string")
    got = {r["check"]: (r["n_violations"], r["unit"])
           for r in validate_transcripts(df).collect()}
    assert got == {
        "null_conv_id": (1, "rows"),
        "null_turn_idx": (1, "rows"),
        "null_text": (1, "rows"),
        "negative_turn_idx": (1, "rows"),
        "unknown_role": (1, "rows"),
        "duplicate_turn": (1, "conversations"),
        "non_contiguous_turns": (2, "conversations"),
    }
    with pytest.raises(ValueError, match="duplicate_turn"):
        validate_transcripts(df, strict=True)
    # a clean table: every check present with zero
    clean = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c1", 1, "assistant", "b")],
        "conv_id string, turn_idx long, role string, text string")
    zeros = {r["check"]: r["n_violations"]
             for r in validate_transcripts(clean).collect()}
    assert set(zeros) == set(got) and all(v == 0 for v in zeros.values())


def test_render_chat_pairs(spark):
    from sparkocr.analysis import (assemble_sft_pairs, render_chat_pairs,
                                   sft_context_windows)

    rows = [
        ("c1", 0, "user", "hello there", 10),
        ("c1", 1, "assistant", "hi friend", 5),
        ("c2", 0, "assistant", "opener", 3),
    ]
    df = _turns(spark, rows)
    pairs = assemble_sft_pairs(df, sft_context_windows(df, 100))
    out = {(r["conv"], r["turn"]): r["prompt_text"]
           for r in render_chat_pairs(pairs).collect()}
    assert out[("c1", 1)] == "user: hello there\n\nassistant: "
    assert out[("c2", 0)] == "assistant: "
    # custom template with reversed placeholder order
    alt = {(r["conv"], r["turn"]): r["prompt_text"]
           for r in render_chat_pairs(
               pairs, turn_format="<{text}|{role}>",
               turn_sep="|").collect()}
    assert alt[("c1", 1)] == "<hello there|user>|<|assistant>"
    with pytest.raises(ValueError):
        render_chat_pairs(pairs, turn_format="no placeholders")


def test_gopher_quality_filter_matches_reference(spark):
    """Randomized cross-check of every rule against an independent
    pure-Python implementation."""
    import random
    import re as _re

    from sparkocr.analysis import gopher_quality_filter

    def ref(text):
        text = text or ""
        words = [w for w in _re.split(r"[ \t\n\r\f\x0b]+", text) if w]
        n = len(words)
        nz = max(n, 1)
        mean_len = sum(map(len, words)) / nz
        n_sym = text.count("#") + len(_re.findall(r"\.\.\.", text)) \
            + text.count("…")
        lines = text.split("\n")
        nl = max(len(lines), 1)
        bullets = sum(bool(_re.match(r"^\s*[-*•‣▪]", l)) for l in lines)
        ell = sum(bool(_re.search(r"(\.\.\.|…)\s*$", l)) for l in lines)
        alpha = sum(bool(_re.search("[A-Za-z]", w)) for w in words)
        stops = len({w.lower() for w in words}
                    & {"the", "be", "to", "of", "and", "that", "have",
                       "with"})
        v = []
        if n < 50: v.append("too_few_words")
        if n > 100_000: v.append("too_many_words")
        if mean_len < 3 or mean_len > 10:
            v.append("mean_word_len_out_of_band")
        if n_sym / nz > 0.1: v.append("symbol_word_ratio")
        if bullets / nl > 0.9: v.append("bullet_lines")
        if ell / nl > 0.3: v.append("ellipsis_lines")
        if alpha / nz < 0.8: v.append("alpha_words")
        if stops < 2: v.append("stop_words")
        return v

    rng = random.Random(31)
    vocab = ["the", "and", "of", "trade", "x", "#tag", "...", "…",
             "- item", "word", "longerword", "a", "12345", "end."]
    rows = []
    for d in range(60):
        k = rng.randint(0, 120)
        toks = [rng.choice(vocab) for _ in range(k)]
        text = " ".join(toks)
        if rng.random() < 0.4:
            text = text.replace(" ", "\n", rng.randint(1, 5))
        rows.append((d, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc"]: sorted(r["violations"])
           for r in gopher_quality_filter(df, "doc_id").collect()}
    for d, text in rows:
        assert got[d] == sorted(ref(text)), (d, got[d], ref(text), text)


def test_canonicalize_text_matches_engine_and_enables_dedup(spark):
    from sparkocr.analysis import canonicalize_text, exact_dedup_groups
    from sparkocr.recognize import canonicalize

    # é (combining) vs é (precomposed); CRLF; entity
    rows = [
        (1, "café menu &amp; prices\r\nline two"),
        (2, "café menu & prices\nline two"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in canonicalize_text(df).collect()}
    assert out[1] == out[2] == "café menu & prices\nline two"
    assert out[3] is None
    # byte-parity with the engine's canonicalizer (no resample)
    assert out[1] == canonicalize(rows[0][1], max_lines=None)
    # and exact dedup now sees 1 and 2 as duplicates
    groups = exact_dedup_groups(
        canonicalize_text(df.where(F.col("text").isNotNull())),
        "doc_id").collect()
    assert {r["keeper"] for r in groups} == {1}
    # long documents are NOT resampled (the engine's 48-line cap is
    # recognition-only)
    tall = spark.createDataFrame(
        [(9, "\n".join(f"line {i}" for i in range(200)))],
        "doc_id long, text string")
    [r] = canonicalize_text(tall).collect()
    assert r["text"].count("\n") == 199
