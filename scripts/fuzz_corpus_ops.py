"""Long-form differential fuzz of the driver-gated corpus math kernels
(round-4 verdict task #5): dedup_substrings, gopher_repetition_signals,
and perplexity_scores/ppl_buckets against INDEPENDENT pure-Python
oracles, at document sizes the sf0.01 pins never reach (10^4-10^5
tokens per document). scripts/fuzz_fastbatch.py is the template; the
oracles here are written from the operators' documented specs (no
sparkocr imports inside them), the same independence discipline as
tests/test_corpus_ops.py's _brute_substr / gopher ref.

Corpus shape per batch: mostly mid-size documents with PLANTED
structure — repeated passages (ExactSubstr work), duplicated lines and
paragraphs, hot n-grams (Gopher work), shared vocabulary (LM work) —
plus 1-2 whale documents of up to --whale-tokens tokens, so the
kernels' whale-linearity is exercised alongside correctness.

Float policy: dedup + gopher compare EXACTLY (their math is integer
ratios rounded once, identically on both sides). Perplexity compares to
2 units in the 4th decimal (Spark's fsum order vs Python's differs in
the last ulp of the pre-round mean at 10^4+ tokens); bucket labels
compare exactly except for documents whose ppl sits within 1e-9 of a
quantile cut (counted, reported, never silently dropped).

Run: python scripts/fuzz_corpus_ops.py --batches 20 --seed0 1000
Sweep log: append one line per run to BENCH/SCALING_NOTES.md by hand.
"""

from __future__ import annotations

import argparse
import math
import os
import random
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WS = re.compile(r"[ \t\n\r\f\x0b]+")


# ---------------------------------------------------------------------------
# independent oracles (pure python, no sparkocr imports)

def brute_substr(rows, L):
    """String-keyed window scan, keep-first (minimal (doc, wpos)), span
    union, token-position removal — the ExactSubstr spec."""
    first = {}
    for doc, text in sorted(rows):
        toks = text.split(" ")
        for i in range(len(toks) - L + 1):
            first.setdefault(" ".join(toks[i:i + L]), (doc, i))
    out = {}
    for doc, text in rows:
        toks = text.split(" ")
        covered = set()
        for i in range(len(toks) - L + 1):
            if first[" ".join(toks[i:i + L])] != (doc, i):
                covered.update(range(i, i + L))
        if not covered:
            out[doc] = (text, 0)
        else:
            kept = [t for p, t in enumerate(toks) if p not in covered]
            out[doc] = (" ".join(kept), len(covered))
    return out


def gopher_ref(text, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
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
        c = Counter(tuple(toks[i:i + n]) for i in range(len(toks) - n + 1))
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]),
                   default=(None, 0))
        exp[f"frac_chars_top_{n}gram"] = (
            round(best[1] * sum(map(len, best[0])) / tot, 6)
            if best[1] >= 2 and tot else 0.0)
    for n in dup_ns:
        c = Counter(tuple(toks[i:i + n]) for i in range(len(toks) - n + 1))
        cov = set()
        for i in range(len(toks) - n + 1):
            if c[tuple(toks[i:i + n])] > 1:
                cov.update(range(i, i + n))
        exp[f"frac_chars_dup_{n}gram"] = (
            round(sum(len(toks[i]) for i in cov) / tot, 6) if tot else 0.0)
    return exp


def lm_ref(rows, vocab_size=200_000, alpha=0.5):
    """Add-alpha unigram LM + per-doc perplexity + CCNet cuts, from the
    corpus alone (the train_unigram_lm / perplexity_scores /
    ppl_buckets documented math)."""
    counts = Counter()
    for _, text in rows:
        counts.update(t for t in WS.split(text.lower()) if t)
    n_total = sum(counts.values())
    kept = dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                [:vocab_size])
    n_types = min(len(counts), vocab_size)
    denom = n_total + alpha * (n_types + 1)
    logp = {t: math.log((c + alpha) / denom) for t, c in kept.items()}
    oov = math.log(alpha / denom)
    ppls = {}
    for doc, text in rows:
        toks = [t for t in WS.split(text.lower()) if t]
        if not toks:
            ppls[doc] = (None, 0)
            continue
        mean = math.fsum(logp.get(t, oov) for t in toks) / len(toks)
        ppls[doc] = (round(math.exp(-mean), 4), len(toks))
    vals = sorted(p for p, _ in ppls.values() if p is not None)
    cuts = []
    for q in (1 / 3, 2 / 3):
        # percentile_cont linear interpolation
        h = (len(vals) - 1) * q
        lo, hi = int(math.floor(h)), int(math.ceil(h))
        cuts.append(vals[lo] + (h - lo) * (vals[hi] - vals[lo]))
    buckets = {}
    for doc, (p, _) in ppls.items():
        if p is None:
            buckets[doc] = None
        elif p <= cuts[0]:
            buckets[doc] = "head"
        elif p <= cuts[1]:
            buckets[doc] = "middle"
        else:
            buckets[doc] = "tail"
    return ppls, buckets, cuts


# ---------------------------------------------------------------------------
# corpus generator: planted structure at fuzz scale

VOCAB = ("spark sql query table row scan filter join group agg sort key "
         "window hash merge batch stream value data fast slow plan stage "
         "alpha beta gamma delta epsilon zeta eta theta").split()


def make_corpus(rng: random.Random, n_docs: int, lo: int, hi: int,
                whale_tokens: int):
    shared_passage = " ".join(rng.choice(VOCAB) for _ in range(80))
    shared_para = " ".join(rng.choice(VOCAB) for _ in range(12))
    rows = []
    for d in range(n_docs):
        n = whale_tokens if d < 2 else rng.randint(lo, hi)
        toks = [rng.choice(VOCAB) for _ in range(n)]
        text = " ".join(toks)
        r = rng.random()
        if r < 0.4:  # plant a repeated passage (substr-dedup work)
            cut = rng.randrange(max(len(text) - 600, 1))
            text = text[:cut] + " " + shared_passage + " " + text[cut:]
        if r < 0.6:  # plant line/para structure (gopher work)
            parts = text.split(" ")
            for _ in range(min(6, len(parts) // 10)):
                parts[rng.randrange(len(parts))] = "\n" + shared_para
            text = " ".join(parts)
        if rng.random() < 0.1:  # self-repetition whale structure
            text = text + "\n" + text[: len(text) // 2]
        rows.append((d, re.sub(" +", " ", text).strip()))
    return rows


# ---------------------------------------------------------------------------

def run_batch(spark, rng: random.Random, args) -> dict:
    from sparkocr.analysis import dedup_substrings, gopher_repetition_signals
    from sparkocr.lm import perplexity_scores, ppl_buckets, train_unigram_lm

    rows = make_corpus(rng, args.docs, args.min_tokens, args.max_tokens,
                       args.whale_tokens)
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    stats = {"rows": len(rows), "divergences": 0, "near_cut": 0}

    # 1. ExactSubstr
    want = brute_substr(rows, args.min_len)
    got = {r["doc"]: (r["clean_text"], r["n_tokens_removed"])
           for r in dedup_substrings(df, "doc_id",
                                     min_len=args.min_len).collect()}
    for d, w in want.items():
        if got[d] != w:
            stats["divergences"] += 1
            print(f"DIVERGE substr doc {d}: got {got[d][1]} removed, "
                  f"want {w[1]}", flush=True)

    # 2. Gopher battery
    got = {r["doc"]: r.asDict()
           for r in gopher_repetition_signals(df, "doc_id").collect()}
    for d, text in rows:
        for k, v in gopher_ref(text).items():
            if got[d][k] != v:
                stats["divergences"] += 1
                print(f"DIVERGE gopher doc {d} {k}: got {got[d][k]}, "
                      f"want {v}", flush=True)

    # 3. LM: perplexity + buckets
    lm = train_unigram_lm(df)
    scored = perplexity_scores(df, lm)
    lab = {r["doc_id"]: (r["ppl"], r["n_scored"], r["ppl_bucket"])
           for r in ppl_buckets(scored).collect()}
    want_ppl, want_buck, cuts = lm_ref(rows)
    for d, (wp, wn) in want_ppl.items():
        gp, gn, gb = lab[d]
        if wn != gn or (wp is None) != (gp is None):
            stats["divergences"] += 1
            print(f"DIVERGE ppl doc {d}: got ({gp},{gn}), want ({wp},{wn})",
                  flush=True)
            continue
        if wp is not None and abs(gp - wp) > 2e-4:
            stats["divergences"] += 1
            print(f"DIVERGE ppl doc {d}: got {gp}, want {wp}", flush=True)
            continue
        if wp is not None and min(abs(wp - c) for c in cuts) < 1e-9:
            stats["near_cut"] += 1  # label legitimately engine-dependent
        elif gb != want_buck[d]:
            stats["divergences"] += 1
            print(f"DIVERGE bucket doc {d}: ppl {gp}, got {gb}, "
                  f"want {want_buck[d]} (cuts {cuts})", flush=True)
    df.unpersist()
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--docs", type=int, default=30)
    ap.add_argument("--min-tokens", type=int, default=2_000)
    ap.add_argument("--max-tokens", type=int, default=12_000)
    ap.add_argument("--whale-tokens", type=int, default=100_000)
    ap.add_argument("--min-len", type=int, default=50)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from sparkocr.session import get_spark

    spark = get_spark(cores=args.cores, app_name="fuzz-corpus-ops",
                      shuffle_partitions=args.cores * 2)
    spark.sparkContext.setLogLevel("ERROR")
    tot_rows = tot_div = tot_near = 0
    for b in range(args.batches):
        rng = random.Random(args.seed0 + b)
        s = run_batch(spark, rng, args)
        tot_rows += s["rows"]
        tot_div += s["divergences"]
        tot_near += s["near_cut"]
        print(f"batch {b} (seed {args.seed0 + b}): {s['rows']} docs, "
              f"{s['divergences']} divergences, {s['near_cut']} near-cut",
              flush=True)
    print(f"TOTAL: {tot_rows} docs across {args.batches} batches "
          f"(seeds {args.seed0}..{args.seed0 + args.batches - 1}), "
          f"{tot_div} divergences, {tot_near} near-cut label skips")
    spark.stop()
    sys.exit(1 if tot_div else 0)


if __name__ == "__main__":
    main()
