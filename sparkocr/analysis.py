"""Training-data pipeline operators over document/transcript tables.

Everything here is expressed with built-in ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen-able) — no Python in the hot path — except
SimHash, which needs per-token hashing folds and runs as a vectorized
Arrow UDF. Each op is designed for the 100 TB shape:

- exact dedup: one hash-shuffle on a 32-byte digest, not the payload
- n-gram Jaccard near-dup: inverted-index token join (explode distinct
  tokens → equi-join on token → count common), never O(n²) pairwise
- MinHash+LSH: signatures via k independent xxhash64 streams, banded
  bucket join so candidate pairs ~ collisions, not the cross product
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import LongType

from .barrier import pin

# ---------------------------------------------------------------------------
# text analysis

_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "on",
    "with", "as", "at", "by", "an", "be", "this", "are", "or",
)


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count (JVM split, no UDF)."""
    return df.withColumn(
        "n_tokens", F.size(F.split(F.col(text_col), " ")).cast("int")
    )


# BPE-ish pre-tokenizer: the GPT-2-style word/number/punct split WITHOUT
# lookaheads or unicode classes, so Java regex (Spark) and RE2 (DuckDB
# oracle) agree byte-for-byte. Contractions first so "don't" → 3 pieces.
# The whitespace set is spelled out explicitly because `\s` itself
# diverges between the engines (Java \s includes \x0b, RE2's does not —
# a review-caught oracle-hash hazard on vertical-tab input).
_BPE_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f\x0b]+"
)


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Subword-style token count: how many BPE pre-tokenizer pieces the
    text splits into (words, numbers, punctuation runs, contraction
    suffixes; bare whitespace is not a piece) — the usual "how many
    tokens will training see" estimate, next to the cruder whitespace
    count. Pure ``regexp_count`` (codegen, no Python)."""
    return df.withColumn(
        "n_bpe_tokens",
        F.regexp_count(F.col(text_col), F.lit(_BPE_RE)).cast("long"),
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features: token count, stopword count/ratio,
    punctuation count, mean token length — the length/punct/stopword
    heuristics of a pretraining quality filter, all codegen'd."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    n_punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[,.!?;:]", "")
    )
    return (
        df.withColumn("n_tokens", n_tokens.cast("int"))
        .withColumn("n_stop", n_stop.cast("int"))
        .withColumn("n_punct", n_punct.cast("int"))
        .withColumn(
            "stop_ratio",
            F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 4),
        )
        .withColumn(
            "mean_tok_len",
            F.round(
                (F.length(F.col(text_col)) - n_tokens + 1).cast("double")
                / F.greatest(n_tokens, F.lit(1)),
                4,
            ),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-class language heuristic (CJK / kana / hangul / cyrillic
    densities → zh/ja/ko/ru, else en). Range regexes only, so the same
    expression runs under Java regex and RE2."""
    total = F.greatest(F.length(F.col(text_col)), F.lit(1))

    def frac(pattern: str):
        kept = F.length(F.regexp_replace(F.col(text_col), pattern, ""))
        return (F.length(F.col(text_col)) - kept).cast("double") / total

    cjk = frac(r"[^一-鿿]")
    kana = frac(r"[^぀-ヿ]")
    hangul = frac(r"[^가-힯]")
    cyr = frac(r"[^Ѐ-ӿ]")
    return df.withColumn(
        "lang_guess",
        F.when(kana > 0.05, "ja")
        .when(cjk > 0.25, "zh")
        .when(hangul > 0.25, "ko")
        .when(cyr > 0.25, "ru")
        .otherwise("en"),
    )


# ASCII-only patterns on purpose: identical semantics under Java regex
# (Spark) and RE2 (DuckDB oracle)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: redact emails and
    international-format phone numbers, count what was redacted. Pure
    ``regexp_count``/``regexp_replace`` — codegen'd, no Python. At
    100 TB this is a narrow map over the scan; the counts feed the
    corpus-quality manifest."""
    c = F.col(text_col)
    return (
        df.withColumn("n_emails", F.regexp_count(c, F.lit(_EMAIL_RE)).cast("long"))
        .withColumn("n_phones", F.regexp_count(c, F.lit(_PHONE_RE)).cast("long"))
        .withColumn(
            "scrubbed",
            F.regexp_replace(
                F.regexp_replace(c, _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE, "<PHONE>",
            ),
        )
    )


def repetition_ratio(df: DataFrame, key_col: str,
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signal: frequency of the single most
    common whitespace token over the token count. Explode + two partial
    aggregations; map-side combine collapses each partition's repeats
    before the shuffle, so shuffled volume is bounded by distinct
    (doc, token) pairs, never the document text. Ties and casing are
    taken literally (no normalization) so the oracle is exact; at
    100 TB, group on ``xxhash64(tok)`` instead of the token string to
    shuffle 8-byte keys (hash collisions merging two tokens of one doc
    are harmless at the signal's precision)."""
    toks = (
        spread_small_scan(df)
        .select(F.col(key_col).alias("doc"),
                F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    )
    per_tok = toks.groupBy("doc", "tok").agg(F.count("*").alias("n"))
    return (
        per_tok.groupBy("doc")
        .agg(
            F.max("n").cast("long").alias("top_tok_n"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "rep_ratio",
            F.round(F.col("top_tok_n") / F.col("n_tokens"), 4),
        )
    )


def gopher_repetition_signals(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    *,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The Gopher repetition battery (Rae et al. 2021, Table A1) — the
    standard pretraining quality gate this package's simpler
    :func:`repetition_ratio` fronts for. Per document:

    - ``frac_dup_lines`` / ``frac_dup_paras``: occurrences beyond the
      first of a repeated line/paragraph, over total units — the
      fraction a within-doc dedup would delete;
    - ``frac_chars_dup_lines`` / ``frac_chars_dup_paras``: character
      mass of those beyond-first occurrences over total unit chars;
    - ``frac_chars_top_{n}gram`` (n ∈ ``top_ns``): characters of the
      most frequent word n-gram (ties → lexicographically smallest,
      so the signal is deterministic) times its count, over total
      chars;
    - ``frac_chars_dup_{n}gram`` (n ∈ ``dup_ns``): characters of token
      positions covered by ANY word n-gram occurring more than once —
      positional coverage, overlaps counted once (separator chars
      excluded from both sides of the ratio).

    Published reimplementations differ on beyond-first vs
    all-occurrences conventions; this one pins the definitions above
    and tests them against an independent pure-Python reference.

    Execution: every signal is doc-local, so the whole battery is ONE
    narrow Arrow-batched pass — no explode, no shuffle, nothing leaves
    the row's partition. Inside the pass the n-gram work is
    hash-vectorized (the round-3 kernel materialized Python token
    tuples and Counters per n — ~9 full tuple-hash passes over a whale
    doc): each token is hashed ONCE (pandas' fixed-key vectorized
    hash), one Karp-Rabin prefix transform (:func:`_kr_windows`, the
    same one :func:`_rolling_window_hashes` uses) is shared by every n,
    and per n only a subtract/multiply plus ``np.unique`` counting
    remains; duplicate-window coverage is a
    bincount range-mark instead of a Python loop. Counting by 64-bit
    window hash can merge two distinct grams with probability
    ~(windows²)·2⁻⁶⁴ — the same accepted class as every hash-keyed
    dedup here; the top-gram TIE-BREAK (max count, then smallest gram)
    still compares the few tied candidates as real token tuples, so the
    published deterministic order is preserved exactly. Null/empty text
    scores all-zero. Fractions round to 6 decimals."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    fields = (
        ["frac_dup_lines", "frac_chars_dup_lines",
         "frac_dup_paras", "frac_chars_dup_paras"]
        + [f"frac_chars_top_{n}gram" for n in top_ns]
        + [f"frac_chars_dup_{n}gram" for n in dup_ns]
    )
    out_type = StructType(
        [StructField(f, DoubleType(), False) for f in fields])

    def _one(text: str) -> list:
        from collections import Counter

        if not text:
            return [0.0] * len(fields)
        vals = []
        for sep in ("\n", "\n\n"):
            units = text.split(sep)
            n_units = len(units)
            counts = Counter(units)
            extra = sum(c - 1 for c in counts.values() if c > 1)
            extra_chars = sum(
                (c - 1) * len(u) for u, c in counts.items() if c > 1)
            tot_chars = sum(len(u) for u in units)
            vals.append(round(extra / n_units, 6) if n_units else 0.0)
            vals.append(round(extra_chars / tot_chars, 6)
                        if tot_chars else 0.0)
        toks = text.split(" ")
        n_toks = len(toks)
        tok_lens = np.fromiter((len(t) for t in toks), dtype=np.int64,
                               count=n_toks)
        tot = int(tok_lens.sum())
        # hash every token ONCE (vectorized, fixed-key — deterministic
        # across processes), then share one Karp-Rabin prefix transform
        # across every n
        window = _kr_windows(
            pd.util.hash_array(np.asarray(toks, dtype=object)))
        top_vals: dict = {}
        dup_vals: dict = {}
        for n in sorted({*top_ns, *dup_ns}):
            m = n_toks - n + 1
            if m <= 0 or tot == 0:
                if n in top_ns:
                    top_vals[n] = 0.0
                if n in dup_ns:
                    dup_vals[n] = 0.0
                continue
            uniq_first, inv, counts = np.unique(
                window(n), return_index=True, return_inverse=True,
                return_counts=True)[1:]
            if n in top_ns:
                cmax = int(counts.max())
                if cmax < 2:
                    top_vals[n] = 0.0
                else:
                    # ties broken on the REAL gram tuples (usually one
                    # candidate) — identical to the Counter-era order
                    best = min(
                        tuple(toks[j:j + n])
                        for j in uniq_first[counts == cmax])
                    top_vals[n] = round(
                        cmax * sum(len(t) for t in best) / tot, 6)
            if n in dup_ns:
                starts = np.flatnonzero(counts[inv] > 1)
                delta = (
                    np.bincount(starts, minlength=n_toks + 1)
                    - np.bincount(starts + n, minlength=n_toks + 1))
                covered = np.cumsum(delta[:n_toks]) > 0
                dup_vals[n] = round(
                    int(tok_lens[covered].sum()) / tot, 6)
        return (vals + [top_vals[n] for n in top_ns]
                + [dup_vals[n] for n in dup_ns])

    arrow_fields = list(to_arrow_type(out_type))

    @F.arrow_udf(out_type)
    def battery(texts: pa.Array) -> pa.Array:
        rows = [_one(t) for t in texts.to_pylist()]
        return pa.StructArray.from_arrays(
            [pa.array([r[k] for r in rows], type=f.type)
             for k, f in enumerate(arrow_fields)],
            fields=arrow_fields)

    return spread_small_scan(df).select(
        F.col(key_col).alias("doc"),
        battery(F.col(text_col)).alias("_s")
    ).select("doc", "_s.*")


# The published Gopher gate (Rae et al. 2021, Table A1): a document
# failing ANY of these is removed from the training set.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "frac_dup_lines": 0.30,
    "frac_chars_dup_lines": 0.20,
    "frac_dup_paras": 0.30,
    "frac_chars_dup_paras": 0.20,
    "frac_chars_top_2gram": 0.20,
    "frac_chars_top_3gram": 0.18,
    "frac_chars_top_4gram": 0.16,
    "frac_chars_dup_5gram": 0.15,
    "frac_chars_dup_6gram": 0.14,
    "frac_chars_dup_7gram": 0.13,
    "frac_chars_dup_8gram": 0.12,
    "frac_chars_dup_9gram": 0.11,
    "frac_chars_dup_10gram": 0.10,
}


def gopher_repetition_filter(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """The Gopher repetition GATE over
    :func:`gopher_repetition_signals`: per document, which thresholds
    it violates. Returns (doc, passes boolean, n_violations long,
    violations array<string> — the violated signal names, in the
    thresholds' order, so a data audit can aggregate failure causes).
    Defaults are the paper's Table A1 values
    (:data:`GOPHER_REPETITION_THRESHOLDS`); pass a dict to tighten,
    loosen, or gate on a subset. Same narrow zero-shuffle plan as the
    signals — the gate adds only expressions."""
    import re

    thr = thresholds if thresholds is not None \
        else GOPHER_REPETITION_THRESHOLDS
    # the n-gram set derives from the thresholds, so a subset gate
    # computes only the grams it actually checks
    top_ns = tuple(sorted(
        int(m.group(1)) for k in thr
        if (m := re.fullmatch(r"frac_chars_top_(\d+)gram", k))))
    dup_ns = tuple(sorted(
        int(m.group(1)) for k in thr
        if (m := re.fullmatch(r"frac_chars_dup_(\d+)gram", k))))
    sig = gopher_repetition_signals(df, key_col, text_col,
                                    top_ns=top_ns, dup_ns=dup_ns)
    missing = [k for k in thr if k not in sig.columns]
    if missing:
        raise ValueError(
            f"thresholds name unknown signals: {missing}")
    viol = F.filter(
        F.array(*[
            F.when(F.col(name) > F.lit(float(t)), F.lit(name))
            .otherwise(F.lit(None).cast("string"))
            for name, t in thr.items()
        ]),
        lambda x: x.isNotNull(),
    )
    return sig.select(
        "doc",
        (F.size(viol) == 0).alias("passes"),
        F.size(viol).cast("long").alias("n_violations"),
        viol.alias("violations"),
    )


# the "must contain ≥2 of these" stop-word rule (Gopher Table A1)
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_words: int = 2,
) -> DataFrame:
    """The NON-repetition half of the Gopher document gate (Rae et al.
    2021, Table A1) — :func:`gopher_repetition_filter`'s sibling, with
    the paper's defaults: word-count bounds, mean-word-length band,
    symbol-to-word ratio (``#`` and ellipsis), bullet-started and
    ellipsis-ended line fractions, alphabetic-word fraction, and the
    ≥2-of-8 English stop-word requirement (skip that rule for
    non-English corpora via ``min_stop_words=0``). Returns the same
    audit shape as the repetition gate: (doc, passes boolean,
    n_violations long, violations array<string>).

    Every rule is a pure Catalyst expression over one split of the
    text — a single narrow whole-stage-codegen pass, no UDF, no
    shuffle, no explode. NULL text scores like empty text (zero
    words → fails ``too_few_words``): a quality gate must fail
    unreadable rows, never wave them through on null propagation."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(text, "[ \t\n\r\f\x0b]+")
    words = F.filter(toks, lambda x: x != F.lit(""))
    n_words = F.size(words)
    nz = F.greatest(n_words, F.lit(1))
    mean_len = (
        F.aggregate(words, F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x)).cast("double") / nz)
    n_hash = F.length(text) - F.length(
        F.regexp_replace(text, "#", ""))
    n_ellipsis = (F.regexp_count(text, F.lit(r"\.\.\."))
                  + F.regexp_count(text, F.lit("…")))
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nz
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.size(F.filter(
        lines, lambda l: l.rlike(r"^\s*[-*•‣▪]"))).cast("double") / n_lines
    ellipsis_frac = F.size(F.filter(
        lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("double") / n_lines
    alpha_frac = F.size(F.filter(
        words, lambda x: x.rlike("[A-Za-z]"))).cast("double") / nz
    n_stops = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, F.lower)),
        F.array(*[F.lit(s) for s in _GOPHER_STOPS])))
    rules = [
        ("too_few_words", n_words < min_words),
        ("too_many_words", n_words > max_words),
        ("mean_word_len_out_of_band",
         (mean_len < min_mean_word_len) | (mean_len > max_mean_word_len)),
        ("symbol_word_ratio", symbol_ratio > max_symbol_word_ratio),
        ("bullet_lines", bullet_frac > max_bullet_line_frac),
        ("ellipsis_lines", ellipsis_frac > max_ellipsis_line_frac),
        ("alpha_words", alpha_frac < min_alpha_word_frac),
    ]
    if min_stop_words > 0:
        rules.append(("stop_words", n_stops < min_stop_words))
    viol = F.filter(
        F.array(*[F.when(cond, F.lit(name))
                  .otherwise(F.lit(None).cast("string"))
                  for name, cond in rules]),
        lambda x: x.isNotNull(),
    )
    return df.select(
        F.col(key_col).alias("doc"),
        (F.size(viol) == 0).alias("passes"),
        F.size(viol).cast("long").alias("n_violations"),
        viol.alias("violations"),
    )


def contamination_counts(df: DataFrame, probes: list[str],
                         text_col: str = "text") -> DataFrame:
    """Benchmark-contamination scan: how many documents contain each
    probe string (substring match — the cheap first-pass filter before
    an expensive n-gram overlap check). The probe list is tiny and rides
    a broadcast nested-loop join; the corpus is scanned ONCE for all
    probes, never once per probe.

    Every probe gets a row — a clean probe reports ``n_docs = 0``
    rather than vanishing (a report that omits clean probes cannot
    distinguish "0 hits" from "probe not checked"). The zero rows ride
    a tiny probes←counts left join AFTER the aggregate, so the corpus
    scan shape is unchanged."""
    spark = df.sparkSession
    # dedupe (order-preserving): a repeated probe would inflate its own
    # count through the join fan-out AND emit duplicate report rows
    probe_df = spark.createDataFrame(
        [(p,) for p in dict.fromkeys(probes)], "probe string")
    counts = (
        df.select(F.col(text_col).alias("__t__"))
        .join(F.broadcast(probe_df),
              F.instr(F.col("__t__"), F.col("probe")) > 0)
        .groupBy("probe")
        .agg(F.count("*").alias("__n__"))
    )
    return probe_df.join(F.broadcast(counts), "probe", "left").select(
        "probe",
        F.coalesce(F.col("__n__"), F.lit(0)).cast("long").alias("n_docs"),
    )


# case-insensitivity spelled out with explicit classes, NOT (?i): the
# flag case-folds Unicode under RE2 (U+017F long-s folds to 's') but is
# ASCII-only under Java — explicit classes are the only form the two
# engines agree on byte-for-byte (review finding)
_URL_RE = r"[Hh][Tt][Tt][Pp][Ss]?://[A-Za-z0-9.-]+(/[^ \t\n]*)?"
_DOMAIN_RE = r"[Hh][Tt][Tt][Pp][Ss]?://([A-Za-z0-9.-]+)"


def url_domain_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain URL frequency across the corpus — the standard
    web-corpus provenance report (and the input to domain-level
    filtering/sampling policies). One ``regexp_extract_all`` + explode +
    count; only matched URLs leave the scan, so shuffle volume tracks
    URL density, not corpus size. ASCII-only, case-insensitive pattern
    (Java/RE2 identical); domains are normalized — lowercased, trailing
    sentence dots stripped — so one site is one count key."""
    urls = spread_small_scan(df).select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(_URL_RE), F.lit(0))
        ).alias("url")
    )
    domain = F.regexp_replace(
        F.lower(F.regexp_extract("url", _DOMAIN_RE, 1)), r"\.+$", "")
    return (
        urls.select(domain.alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )


def canonicalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-level text canonicalization — the normalize-before-dedup
    step (precomposed vs combining Unicode forms, CRLF vs LF, HTML
    entities would otherwise defeat exact/hash dedup) — reusing the
    extraction engine's OWN R1 canonicalizer byte-for-byte
    (:func:`sparkocr.recognize.canonicalize`: NFC, newline/tab folding,
    entity decode) minus its recognition-only 48-line resample, so text
    that went through the engine and text normalized here agree
    exactly. Arrow-batched narrow map (the per-string Python is the
    same budget the engine already spends per turn); NULL stays NULL.
    Replaces ``text_col`` in place unless ``out_col`` is given."""
    from pyspark.sql.types import StringType

    @F.arrow_udf(StringType())
    def canon(texts: pa.Array) -> pa.Array:
        from sparkocr.recognize import canonicalize

        return pa.array([
            None if t is None else canonicalize(t, max_lines=None)
            for t in texts.to_pylist()
        ], type=pa.string())

    return df.withColumn(out_col or text_col, canon(F.col(text_col)))


def strip_boilerplate_lines(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    min_df: int = 10,
    min_line_chars: int = 8,
) -> DataFrame:
    """Cross-corpus repeated-line removal (the CCNet/RefinedWeb move):
    a LINE appearing verbatim in ≥ ``min_df`` documents is boilerplate
    (cookie banners, nav rows, license headers) and is dropped from
    every document; survivors reassemble in original order.

    Scale shape: the hot-line detection runs entirely on
    ``xxhash64(line)`` — the count shuffles (doc, 8-byte hash) rows and
    the hot list is a tiny broadcast semi-join probe, so LINE TEXT never
    shuffles and is never copied into executor storage — drop positions
    fold to one small array per affected doc and the removal is an
    index-aware filter on the ORIGINAL row. What IS materialized is only
    the (doc, pos, hash, len) table (~24 bytes/line), which at 100 TB of
    text is orders of magnitude smaller than the corpus (the round-2
    design checkpointed the full line table — a full-corpus copy). The
    source is scanned twice (hash pass + original-row rewrite pass, no
    second explode); columnar scans are the cheap side of that trade. A 64-bit hash collision could only
    drop a line that collides with a genuinely hot line (~n·2⁻⁶⁴ —
    negligible next to the heuristic's own noise; the sf0.01 oracle,
    which compares against string-keyed SQL, stays bit-exact). Lines
    shorter than ``min_line_chars`` are exempt (blank/short lines
    repeat naturally and are not boilerplate evidence)."""
    line_h = F.xxhash64("line")
    lines = spread_small_scan(df).select(
        F.col(key_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    hashed = lines.select(
        "doc", "pos", line_h.alias("line_h"),
        F.length("line").alias("line_len")
    ).transform(pin)
    hot = (
        hashed.where(F.col("line_len") >= min_line_chars)
        .groupBy("line_h")
        .agg(F.count_distinct("doc").alias("line_df"))
        .where(F.col("line_df") >= min_df)
        .select("line_h")
    )
    # hot only ever contains hashes of lines ≥ min_line_chars, so the
    # semi-join alone implements the exemption; drops are (doc, pos)
    # rows off the materialized hash table — the text explode runs
    # exactly once (the hash pass) and the rewrite works on original
    # rows via _drop_positions_rewrite
    drops = hashed.join(hot, "line_h", "left_semi").select("doc", "pos")
    return _drop_positions_rewrite(df, key_col, text_col, "\n", drops,
                                   "n_lines_kept")


def _drop_positions_rewrite(df: DataFrame, key_col: str, text_col: str,
                            sep: str, drops: DataFrame,
                            count_alias: str,
                            keep_orig: bool = False) -> DataFrame:
    """Delete the sep-delimited units named by ``drops`` (doc, pos)
    from each document ON ITS ORIGINAL ROW: per-doc drop positions fold
    to one small array row (partial-aggregated groupBy of skinny rows),
    join back to the source, and an index-aware array filter removes
    the units. Document text never shuffles while the drop table
    broadcasts (the common regime — only AFFECTED docs have a row);
    when most docs carry drops Spark falls back to a doc-keyed
    sort-merge join and the text side pays ONE exchange — still
    strictly less than the old reassembly groupBy, which moved every
    surviving unit's text through an exchange unconditionally (bucket
    the source by doc to make even that one vanish). THE single home of the
    lost-everything contract for the line/paragraph strippers: a doc
    whose every unit was dropped still appears (empty text, zero
    count) — "was 100% dropped" and "never existed" are different
    facts downstream. ``sep`` must be metacharacter-free so that
    split-then-rejoin is the identity on whatever survives; null-text
    docs are absent from the output (they have no units — same as the
    explode-based form this replaces)."""
    per_doc = drops.groupBy("doc").agg(
        F.collect_set("pos").alias("__drop__"))
    units = F.split(F.col("__orig__"), sep)
    kept_units = F.filter(
        units, lambda u, i: ~F.array_contains(F.col("__drop__"), i))
    return (
        df.select(F.col(key_col).alias("doc"),
                  F.col(text_col).alias("__orig__"))
        .where(F.col("__orig__").isNotNull())
        .join(per_doc, "doc", "left")
        .select(
            "doc",
            F.when(F.col("__drop__").isNull(), F.col("__orig__"))
            .otherwise(F.array_join(kept_units, sep)).alias("clean_text"),
            (F.size(units)
             - F.when(F.col("__drop__").isNull(), F.lit(0))
             .otherwise(F.size("__drop__")))
            .cast("long").alias(count_alias),
            # callers computing further flags off the source text keep
            # it on the SAME row (no extra scan, no join-back)
            *([F.col("__orig__")] if keep_orig else []),
        )
    )


def c4_line_filters(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    *,
    min_line_words: int = 5,
    require_terminal_punct: bool = True,
    banned_line_substrings: tuple[str, ...] = ("javascript",),
    min_sentences: int = 3,
    page_banned_substrings: tuple[str, ...] = ("lorem ipsum",),
    drop_brace_pages: bool = True,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, §2.2) with the
    paper's defaults. Line level — a line survives only if it ends in
    a terminal punctuation mark (``.!?"”``), has ≥ ``min_line_words``
    words, and contains none of ``banned_line_substrings``
    (case-insensitive). Page level — a document is FLAGGED dropped if
    its original text contains any ``page_banned_substrings`` or (with
    ``drop_brace_pages``) a curly brace, or if the line-filtered text
    has fewer than ``min_sentences`` sentences (approximated as
    terminal-punctuation runs, documented deviation from the paper's
    unspecified sentence splitter).

    Returns every non-null-text input doc: (doc, clean_text,
    n_lines_kept, dropped boolean, drop_reasons array<string>) —
    dropped pages keep their filtered text so audits can inspect what
    the gate saw; callers filter ``~dropped``. Null-text docs are
    absent (no units — the same contract as the sibling strippers).

    Plan shape: the line rules are pure expressions over a positional
    explode whose output is ONLY (doc, pos) drop keys — line text
    never shuffles (the rewrite is :func:`_drop_positions_rewrite` on
    original rows), and the page flags are one more narrow expression
    pass. No UDF anywhere."""
    line_words = F.size(F.filter(
        F.split(F.col("line"), "[ \t]+"), lambda x: x != F.lit("")))
    ok = line_words >= min_line_words
    if require_terminal_punct:
        ok = ok & F.col("line").rlike(r'[.!?"”]\s*$')
    for s in banned_line_substrings:
        ok = ok & ~F.contains(F.lower(F.col("line")), F.lit(s.lower()))
    drops = (
        spread_small_scan(df)
        .select(F.col(key_col).alias("doc"),
                F.posexplode(F.split(F.col(text_col), "\n"))
                .alias("pos", "line"))
        .where(~ok)
        .select("doc", "pos")
    )
    cleaned = _drop_positions_rewrite(df, key_col, text_col, "\n",
                                      drops, "n_lines_kept",
                                      keep_orig=True)
    page_reasons = [
        F.when(F.contains(F.lower(F.col("__orig__")), F.lit(s.lower())),
               F.lit(f"contains:{s}")).otherwise(
            F.lit(None).cast("string"))
        for s in page_banned_substrings
    ]
    if drop_brace_pages:
        page_reasons.append(
            F.when(F.col("__orig__").rlike(r"[{}]"),
                   F.lit("curly_brace")).otherwise(
                F.lit(None).cast("string")))
    n_sents = F.regexp_count(F.col("clean_text"), F.lit(r"[.!?]+"))
    reasons = F.filter(
        F.concat(
            F.array(*page_reasons) if page_reasons else F.array(),
            F.array(F.when(n_sents < min_sentences,
                           F.lit("too_few_sentences")).otherwise(
                F.lit(None).cast("string"))),
        ),
        lambda x: x.isNotNull(),
    )
    # the rewrite carries __orig__ on the same row (keep_orig), so the
    # page flags are expressions over the rewrite's own output — no
    # third source scan, no join-back moving document text
    return cleaned.select(
        "doc", "clean_text", "n_lines_kept",
        (F.size(reasons) > 0).alias("dropped"),
        reasons.alias("drop_reasons"),
    )


def dedup_paragraphs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    sep: str = "\n\n",
    min_para_chars: int = 8,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup, first occurrence wins
    (the Lee et al. 2021 "Deduplicating Training Data" move at paragraph
    granularity): a paragraph repeated verbatim anywhere in the corpus
    survives only at its first occurrence under the global
    (``key_col``, position) order; every later copy is dropped and the
    survivors reassemble in original order.

    Differs from :func:`strip_boilerplate_lines` in BOTH unit and
    policy: paragraphs (not lines), and every duplicate group loses its
    copies regardless of document frequency (no ``min_df`` floor) — but
    the first occurrence is always kept, so unique content is never
    touched.

    Scale shape: the duplicate decision runs entirely on
    ``(doc, pos, xxhash64(para))`` rows (~24 bytes/paragraph) — one
    groupBy on the 8-byte hash picks the ``min(struct(doc, pos))``
    keeper, and only the LOSER keys (one row per dropped copy, a small
    fraction of the corpus) fold to per-doc drop arrays that filter the
    original rows in place; paragraph text itself NEVER shuffles. Paragraphs shorter than
    ``min_para_chars`` are exempt (blank separators and one-word
    paragraphs repeat naturally; deduping them would silently reflow
    unrelated documents). A 64-bit hash collision can only drop a
    paragraph whose hash collides with an earlier one (~n·2⁻⁶⁴ —
    negligible, and the pytest oracle compares against string-keyed SQL
    so the tested scales are bit-exact)."""
    para_h = F.xxhash64("para")
    paras = spread_small_scan(df).select(
        F.col(key_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    hashed = paras.select(
        "doc", "pos", para_h.alias("para_h"),
        F.length("para").alias("para_len"),
    ).transform(pin)
    eligible = hashed.where(F.col("para_len") >= min_para_chars)
    first = (
        eligible.groupBy("para_h")
        .agg(F.min(F.struct("doc", "pos")).alias("first"))
    )
    losers = (
        eligible.join(first, "para_h")
        .where((F.col("doc") != F.col("first.doc"))
               | (F.col("pos") != F.col("first.pos")))
        .select("doc", "pos")
    )
    return _drop_positions_rewrite(df, key_col, text_col, sep, losers,
                                   "n_paras_kept")


# Karp-Rabin multiplier: odd (invertible mod 2^64, and A^k stays odd so
# no low-bit entropy drain); its inverse is computed once at import
_KR_A = 0x9E3779B97F4A7C15
_KR_AINV = pow(_KR_A, -1, 1 << 64)


def _kr_windows(t: np.ndarray):
    """The Karp-Rabin prefix transform of a uint64 token-hash stream
    ``t``, shared by every window length: returns ``window(n)``, the
    uint64 hash of each stride-1 window of ``n`` tokens,

        h_i = Σ_{j<n} t_{i+j} · A^{n-1-j}  (mod 2^64),

    computed in O(1) per window via renormalized prefix sums: with
    Q_m = Σ_{k<m} t_k·A^{-k}, h_i = (Q_{i+n} − Q_i) · A^{i+n-1} — the
    position cancels, so equal windows hash equal wherever they sit.
    ``window(n)`` is empty when ``t`` holds fewer than ``n`` tokens."""
    with np.errstate(over="ignore"):
        pow_a = np.full(t.shape[0], _KR_A, dtype=np.uint64)
        pow_a[:1] = 1
        np.cumprod(pow_a, out=pow_a)
        pow_ainv = np.full(t.shape[0], _KR_AINV, dtype=np.uint64)
        pow_ainv[:1] = 1
        np.cumprod(pow_ainv, out=pow_ainv)
        q = np.zeros(t.shape[0] + 1, dtype=np.uint64)
        np.cumsum(t * pow_ainv, out=q[1:])

    def window(n: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            return (q[n:] - q[:-n]) * pow_a[n - 1:]

    return window


def _rolling_window_hashes(length: int):
    """Arrow UDF: token-xxhash64 array → array of Karp-Rabin window
    hashes, one per stride-1 window of ``length`` tokens
    (:func:`_kr_windows`). One prefix transform over the batch-FLAT
    token stream (``flatten()``) serves every document, since the
    global position cancels; each document's windows are then one
    gather by the list offsets, with no per-row Python. A document
    shorter than ``length`` tokens (or null) gets no windows. Differing
    windows collide with ~2⁻⁶⁴ probability over the already-uniform
    token hashes (like the direct xxhash64 form this replaces — but
    NOT adversary-resistant: a crafted corpus could engineer
    collisions, acceptable for dedup)."""
    from pyspark.sql.types import ArrayType, LongType

    out_type = to_arrow_type(ArrayType(LongType()))

    @F.arrow_udf(ArrayType(LongType()))
    def roll(tok_hashes: pa.Array) -> pa.Array:
        flat = tok_hashes.flatten().to_numpy(zero_copy_only=False)
        h_flat = _kr_windows(flat.view(np.uint64))(length).view(np.int64)
        # flatten() drops the values under null rows: their length is 0
        lens = pc.list_value_length(tok_hashes).fill_null(0).to_numpy()
        starts = np.cumsum(lens) - lens
        counts = np.maximum(lens - length + 1, 0)
        offsets = np.zeros(len(lens) + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        # the k-th output window of a row sits at flat position
        # start + (k - the row's first output slot)
        take = (np.arange(offsets[-1])
                + np.repeat(starts - offsets[:-1], counts))
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(h_flat[take]), type=out_type)

    return roll


def _window_hashes(df: DataFrame, key_col: str, text_col: str,
                   length: int) -> DataFrame:
    """(doc, wpos, whash) for EVERY length-``length`` token window at
    stride 1 — the positional sibling of :func:`_shingle_posting`
    (which distinct-s and drops positions). Documents shorter than
    ``length`` tokens have no windows.

    Two stages: the JVM hashes each token ONCE (codegen xxhash64 —
    O(n) string work), then the Arrow-batched Karp-Rabin kernel
    (:func:`_rolling_window_hashes`) combines token hashes into window
    hashes in O(n) — replacing the previous concat-then-xxhash64 per
    window, whose O(n·L) character traffic was ~L× this cost and
    dominated substring dedup end to end. Only (doc, hash-array) rows
    cross the Arrow boundary, never text."""
    toks = F.split(F.col(text_col), " ")
    roll = _rolling_window_hashes(length)
    return (
        spread_small_scan(df.where(F.size(toks) >= length))
        .select(
            F.col(key_col).alias("doc"),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
        )
        .select(
            "doc",
            F.posexplode(roll(F.col("_th"))).alias("wpos", "whash"),
        )
    )


def dedup_substrings(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    min_len: int = 50,
) -> DataFrame:
    """Exact-substring dedup (the ExactSubstr operator of Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"),
    re-expressed over token windows: any length-``min_len`` token
    window whose content appears more than once in the corpus marks a
    duplicated span, and every occurrence EXCEPT the globally first
    (minimal ``(doc, wpos)``) is removed. Overlapping flagged windows
    union into maximal spans before removal, so a long duplicated
    passage disappears as one piece. Documents shorter than ``min_len``
    tokens are never touched; documents with no flagged span keep
    their text byte-identical (they never pay the token explode).

    The paper builds a corpus-wide suffix array; that is a
    single-machine construction. The Spark-shaped equivalent is the
    stride-1 window-hash table: it finds exactly the duplicated spans
    of length ≥ ``min_len`` (a duplicated span of length m ≥ L is
    covered by its m−L+1 duplicated windows), costs one narrow
    generate + one 16-byte-row shuffle, and never materializes text
    off the original rows. Hash collisions (xxhash64) can only
    over-remove, at ~(corpus windows)²·2⁻⁶⁴ expected false pairs —
    negligible; the pytest brute-force oracle compares against
    string-keyed spans so the tested scales are exact.

    Scale shape: the decision table is (doc, wpos, int64) rows, the
    window-hash generate runs ONCE (duplicate detection is a
    row_number over whash — one shuffle, no self-join, no second pass
    over the corpus), and document text never shuffles at all: merged
    spans come back to the text as a per-doc array join and the
    removal is an index-aware ``filter`` on the original token array
    on the original row. Flagged rows ≪ corpus pay the span-merge
    window. A window content duplicated corpus-wide (hot boilerplate)
    skews its whash partition — run :func:`strip_boilerplate_lines`
    first; at min_len=50 tokens organic mega-hot windows are rare.
    Returns (doc, clean_text, n_tokens_removed) with every input doc
    present."""
    if min_len < 2:
        raise ValueError("min_len must be ≥ 2 tokens")
    wins = _window_hashes(df, key_col, text_col, min_len)
    # every occurrence of a duplicated window content except the
    # globally first: rank within whash — rn > 1 both proves the
    # duplication and names the survivors, one shuffle, wins consumed
    # exactly once
    w_hash = Window.partitionBy("whash").orderBy("doc", "wpos")
    flagged = (
        wins.withColumn("rn", F.row_number().over(w_hash))
        .where(F.col("rn") > 1)
        .select("doc", F.col("wpos").alias("start"))
    )
    # union overlapping/adjacent flagged windows into maximal spans.
    # Because every interval has the same length L, "start past the
    # running max end" degenerates to the PAIRWISE rule
    # s_i − s_{i−1} > L on sorted starts — so the whole merge is one
    # partial-aggregated groupBy packing each doc's starts into a
    # sorted array (map-side combine on the whash-shuffle output) plus
    # in-array expressions, instead of a doc-partitioned sort of every
    # flagged row through two window passes and two aggregations.
    # Per-doc array size is bounded by the doc's token count (a 1M-token
    # doc worst-cases at ~8 MB — fine; the corpus never aggregates).
    ss = F.col("_ss")
    # when() keeps the element_at lookups off the boundary rows — ANSI
    # mode makes out-of-range array indices errors, not NULLs
    span_starts = F.filter(
        ss, lambda s, i: F.when(i == F.lit(0), F.lit(True)).otherwise(
            s - F.element_at(ss, i) > min_len))
    span_ends = F.filter(
        F.transform(ss, lambda s: s + min_len),
        lambda e, i: F.when(i == F.size(ss) - 1, F.lit(True)).otherwise(
            F.element_at(ss, i + 2) - (e - min_len) > min_len))
    spans_col = F.zip_with(
        span_starts, span_ends,
        lambda s, e: F.struct(s.alias("start"), e.alias("end")))
    # merged spans fold to ONE small row per affected doc; the removal
    # then happens on the text's original row via an index-aware array
    # filter — document text is never exploded and never grouped back
    spans_per_doc = (
        flagged.groupBy("doc")
        .agg(F.sort_array(F.collect_list("start")).alias("_ss"))
        .select(
            "doc",
            spans_col.alias("__spans__"),
            F.aggregate(
                spans_col, F.lit(0).cast("long"),
                lambda acc, s: acc + (s["end"] - s["start"]),
            ).alias("__n_removed__"),
        )
    )
    toks = F.split(F.col("__orig__"), " ")
    kept = F.filter(
        toks,
        lambda tok, i: ~F.exists(
            F.col("__spans__"),
            lambda s: (i >= s["start"]) & (i < s["end"]),
        ),
    )
    return (
        df.select(F.col(key_col).alias("doc"),
                  F.col(text_col).alias("__orig__"))
        .join(spans_per_doc, "doc", "left")
        .select(
            "doc",
            # untouched docs (no spans row): byte-identical text
            F.when(F.col("__spans__").isNull(), F.col("__orig__"))
            .otherwise(F.array_join(kept, " ")).alias("clean_text"),
            F.coalesce("__n_removed__", F.lit(0)).cast("long")
            .alias("n_tokens_removed"),
        )
    )


def ngram_contamination(
    df: DataFrame,
    probes: list[str],
    key_col: str,
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3 appendix-C
    move, 13-gram default): a document is contaminated if it shares ANY
    length-``n`` token window with any probe text — the expensive
    second pass that :func:`contamination_counts`'s substring filter
    fronts for. Returns one row per contaminated document:
    (doc, n_hit_windows, n_probes_hit).

    Scale shape: probe windows are tiny (probes × probe length) and
    fold into a broadcast (both sides hash through the shared
    token-xxhash64 + Arrow Karp-Rabin kernel of
    :func:`_window_hashes`, so probe and corpus hashes agree by
    construction); the corpus pays one stride-1 window-hash generate
    (int64 rows, text never shuffles) and a broadcast equi-join on the
    8-byte hash — one corpus pass for all probes, never a pass per
    probe. A hash collision can only
    over-flag (a doc falsely marked contaminated), at ~(corpus
    windows)·(probe windows)·2⁻⁶⁴ — negligible, and over-flagging is
    the safe direction for decontamination."""
    if n < 1:
        raise ValueError("n must be ≥ 1 token")
    if not probes:
        raise ValueError("probes must be non-empty")
    short = [p for p in probes if len(p.split(" ")) < n]
    if short:
        # a probe shorter than n tokens has no n-gram windows and could
        # never match anything — silent false-clean is the one failure
        # mode a decontamination pass must not have
        raise ValueError(
            f"{len(short)} probe(s) shorter than n={n} tokens (first: "
            f"{short[0]!r}); lower n or drop/extend those probes")
    spark = df.sparkSession
    probe_df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probes)], "probe_id int, text string")
    probe_wins = (
        _window_hashes(probe_df, "probe_id", "text", n)
        .select(F.col("doc").alias("probe_id"), "whash")
        .distinct()
    )
    doc_wins = _window_hashes(df, key_col, text_col, n)
    return (
        doc_wins.join(F.broadcast(probe_wins), "whash")
        .groupBy("doc")
        .agg(
            # distinct wpos, not join rows: an n-gram shared by several
            # probes is still ONE hit window in the document
            F.countDistinct("wpos").cast("long").alias("n_hit_windows"),
            F.countDistinct("probe_id").cast("long").alias("n_probes_hit"),
        )
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text (md5 so the DuckDB oracle can reproduce it bit-for-bit)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


def length_percentiles(df: DataFrame, key_col: str = "source",
                       value_col: str = "n_chars") -> DataFrame:
    """Per-group length distribution (p50/p90/p99 + count) — the corpus
    composition report every pretraining pipeline prints. Uses EXACT
    interpolated percentiles (matches DuckDB ``quantile_cont`` so the
    oracle is bit-exact); at 100 TB swap ``percentile`` for
    ``approx_percentile(…, accuracy)`` — same plan shape, bounded
    memory, no full sort per group."""
    v = F.col(value_col)
    return (
        df.groupBy(key_col)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.expr(f"percentile({value_col}, 0.5)"), 4).alias("p50"),
            F.round(F.expr(f"percentile({value_col}, 0.9)"), 4).alias("p90"),
            F.round(F.expr(f"percentile({value_col}, 0.99)"), 4).alias("p99"),
            F.max(v).cast("long").alias("v_max"),
        )
    )


def stratified_sample(df: DataFrame, key_col: str = "source",
                      id_col: str = "doc_id", k: int = 10) -> DataFrame:
    """Deterministic per-group sample: the ``k`` rows with the smallest
    ``md5(id)`` per group — a seedless, machine-independent "random"
    sample (md5 is uniform in the id), reproducible by any engine.
    Window per group; groups are typically few and k small, so the sort
    is bounded — for huge groups pre-filter on an md5 prefix first."""
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _token_count(token_col: str):
    """The packers' and windows' token column: a null count (a null-text
    document) counts as 0 tokens, so it can never poison a prefix sum."""
    return F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias(
        "n_tokens")


def _next_fit(toks: np.ndarray, cap: int) -> tuple[np.ndarray, np.ndarray]:
    """Greedy next-fit of ``toks``, in order, into bins of at most ``cap``
    tokens: a bin takes documents until the next one would overflow it,
    and a document over ``cap`` sits alone in its bin. Returns each
    document's bin (dense from 0) and its position inside the bin.

    One step per bin, not per document: over the prefix sums ``c`` the
    bin opened at ``s`` ends at the last ``e`` with ``c[e] - c[s] <=
    cap``, one ``searchsorted`` (at least one document per bin)."""
    toks = np.asarray(toks, dtype=np.int64)
    if (toks < 0).any():
        raise ValueError("token counts must be non-negative")
    n = len(toks)
    c = np.concatenate(([0], np.cumsum(toks)))
    starts = []
    s = 0
    while s < n:
        starts.append(s)
        s = max(int(np.searchsorted(c, c[s] + cap, side="right")) - 1,
                s + 1)
    flags = np.zeros(n, dtype=np.int64)
    flags[starts] = 1
    bins = np.cumsum(flags) - 1
    pos = np.arange(n) - np.asarray(starts, dtype=np.int64)[bins]
    return bins, pos.astype(np.int32)


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    group_col: str = "source",
    n_shards: int = 1,
) -> DataFrame:
    """Greedy next-fit sequence packing: assign documents to fixed-budget
    training bins (≤ ``max_tokens`` tokens per bin) — the batch-building
    step of a pretraining pipeline.

    Packing is sequential (the current bin's remaining budget depends
    on every prior assignment), so each (group, shard) is one
    ``applyInArrow`` group, packed by :func:`_next_fit` in a
    DETERMINISTIC order (ascending ``id_col``): next-fit — append to the
    current bin until the next document would overflow, then open a new
    bin. A null token count packs as 0 tokens; a negative one raises
    ``ValueError``. A document
    alone larger than ``max_tokens`` gets its own bin flagged
    ``oversize`` (callers chunk or drop those; silently truncating here
    would corrupt token accounting).

    Scale/skew: one task per (group, shard). A whale group (one source
    = half the corpus) is the conv_id-skew problem again, so
    ``n_shards`` salts the group key with ``pmod(xxhash64(id), n)`` —
    packing quality is unchanged (bins never cross documents) and each
    shard packs independently; the cost is at most ``n_shards - 1``
    extra partially-filled bins per group. Only (id, n_tokens) rows
    shuffle — never the text.

    Columns: (group, shard, bin, pos, id, n_tokens, oversize). ``bin``
    is dense per (group, shard); ``pos`` is the document's position
    inside its bin. ``id`` keeps the INPUT column's type untouched
    (string doc ids pack fine — the deterministic order is ascending
    ``id`` under the column's own ordering; casting to long here would
    crash ANSI runs or silently null string keys, the mix_corpus
    lesson)."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    out_schema = StructType([
        StructField("group", StringType()),
        StructField("shard", IntegerType()),
        StructField("bin", LongType()),
        StructField("pos", IntegerType()),
        StructField("id", df.schema[id_col].dataType),
        StructField("n_tokens", LongType()),
        StructField("oversize", IntegerType()),
    ])
    schema = to_arrow_schema(out_schema)

    def pack(tbl):
        tbl = tbl.sort_by("id")
        toks = tbl["n_tokens"].to_numpy()
        bins, pos = _next_fit(toks, max_tokens)
        return pa.table({
            "group": tbl["group"], "shard": tbl["shard"], "bin": bins,
            "pos": pos, "id": tbl["id"], "n_tokens": toks,
            "oversize": (toks > max_tokens).astype(np.int32),
        }, schema=schema)

    narrow = df.select(
        F.col(group_col).cast("string").alias("group"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        .cast("int").alias("shard"),
        # id untouched: type preserved end to end (see docstring)
        F.col(id_col).alias("id"),
        _token_count(token_col),
    )
    return narrow.groupBy("group", "shard").applyInArrow(pack, out_schema)


def chunk_conversations(
    df: DataFrame,
    max_tokens: int,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Split each conversation into CONTIGUOUS training windows of at
    most ``max_tokens`` tokens — the SFT/chat-data sibling of
    :func:`pack_sequences`: where the packer bins unordered documents,
    this keeps every conversation's turns in ``order_col`` order, never
    reorders across conversations, and never splits a turn. Greedy:
    a chunk closes when the next turn would overflow it; a single turn
    larger than ``max_tokens`` becomes its own chunk flagged
    ``oversize`` (truncation is the caller's policy, same contract as
    the packer).

    Greedy boundaries depend on every prior turn, so each conversation
    is one ``applyInArrow`` group over its (order, n_tokens) rows, cut
    by the packer's :func:`_next_fit` (null counts as 0 tokens, negative
    raises) — turn TEXT never enters the chunker; callers join chunk ids
    back by (conv, turn). Group size is one conversation (naturally
    bounded — the conv_id skew story of the extract engine does not
    apply to a per-conv scan of ~8-byte rows).

    Columns: (conv, chunk, pos, turn, n_tokens, oversize); ``chunk`` is
    dense per conversation, ``pos`` the turn's index inside its chunk."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    out_schema = StructType([
        StructField("conv", StringType()),
        StructField("chunk", LongType()),
        StructField("pos", IntegerType()),
        StructField("turn", LongType()),
        StructField("n_tokens", LongType()),
        StructField("oversize", IntegerType()),
    ])
    schema = to_arrow_schema(out_schema)

    def chunk(tbl):
        tbl = tbl.sort_by("turn")
        toks = tbl["n_tokens"].to_numpy()
        chunks, pos = _next_fit(toks, max_tokens)
        return pa.table({
            "conv": tbl["conv"], "chunk": chunks, "pos": pos,
            "turn": tbl["turn"], "n_tokens": toks,
            "oversize": (toks > max_tokens).astype(np.int32),
        }, schema=schema)

    narrow = df.select(
        F.col(conv_col).cast("string").alias("conv"),
        F.col(order_col).cast("long").alias("turn"),
        _token_count(token_col),
    )
    return narrow.groupBy("conv").applyInArrow(chunk, out_schema)


def sft_context_windows(
    df: DataFrame,
    budget_tokens: int,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    token_col: str = "n_tokens",
    target_role: str = "assistant",
) -> DataFrame:
    """The SFT pair-maker's windowing half: for every ``target_role``
    turn, the MAXIMAL contiguous context window ending just before it
    whose token total fits ``budget_tokens`` — the standard
    "context-up-to-budget" assembly of chat fine-tuning data. Returns
    one skinny row per target turn: (conv, turn, ctx_start, n_ctx_turns,
    ctx_n_tokens); a target with no affordable context (first turn, or
    the budget smaller than the previous turn) appears with
    ``n_ctx_turns`` 0 and ``ctx_start`` = its own turn — visible to the
    caller's policy, never silently dropped.

    Execution is two JVM window passes over skinny (turn, role,
    n_tokens) rows — turn TEXT never enters the operator. Per
    conversation in turn order: the row number ``rn`` and the exclusive
    token prefix ``pre`` (a null count is 0 tokens). A target's context
    then starts right after the last row that does not fit, the last
    row with ``pre`` at least ``budget + 1`` below the target's: its
    ``rn``, inclusive prefix and next turn are maxima over a
    ``rangeBetween(unboundedPreceding, -budget - 1)`` frame ordered by
    ``pre``. That frame only grows, so each conversation is one pass at
    any budget; a sliding ``rangeBetween(-budget, 0)`` frame would
    re-aggregate its whole buffer at every row. Pair materialization
    is :func:`assemble_sft_pairs`."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    by_turn = Window.partitionBy("conv").orderBy("turn")
    cut = Window.partitionBy("conv").orderBy("pre").rangeBetween(
        Window.unboundedPreceding, -budget_tokens - 1)
    return (
        df.select(
            F.col(conv_col).cast("string").alias("conv"),
            F.col(order_col).cast("long").alias("turn"),
            F.col(role_col).cast("string").alias("role"),
            _token_count(token_col),
        )
        .withColumn("rn", F.row_number().over(by_turn))
        .withColumn("pre", F.coalesce(F.sum("n_tokens").over(
            by_turn.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
        .withColumn("next_turn", F.lead("turn").over(by_turn))
        .withColumn("first_turn", F.first("turn").over(by_turn))
        .select(
            "conv", "turn", "role", "rn", "pre", "first_turn",
            F.max("rn").over(cut).alias("cut_rn"),
            F.max(F.col("pre") + F.col("n_tokens")).over(cut)
            .alias("cut_pre"),
            F.max("next_turn").over(cut).alias("cut_next"),
        )
        .where(F.col("role") == target_role)
        .select(
            "conv", "turn",
            F.coalesce("cut_next", "first_turn").alias("ctx_start"),
            (F.col("rn") - F.coalesce("cut_rn", F.lit(0)) - 1)
            .alias("n_ctx_turns"),
            (F.col("pre") - F.coalesce("cut_pre", F.lit(0)))
            .alias("ctx_n_tokens"),
        )
    )


def assemble_sft_pairs(
    df: DataFrame,
    windows: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Materialize :func:`sft_context_windows` into training pairs:
    per target turn, the ordered context as array<struct{turn, role,
    text}> plus the target's own role/text. This is the step where
    text moves — inherently, it IS the output dataset; everything
    upstream stayed skinny. The context join is a per-conversation
    range join ((conv equal, turn in [ctx_start, target)) — bucket both
    sides by conv to make the equi-part exchange-free). Zero-context
    targets appear with an empty array."""
    # windows fans out below (context join + target join); without a
    # boundary its window plan (two sorts per conversation) would
    # execute once per consumer — the rows are skinny (5 scalars per
    # target turn), so the materialization is cheap at any scale
    windows = windows.transform(pin)
    t = df.select(
        F.col(conv_col).cast("string").alias("conv"),
        F.col(order_col).cast("long").alias("t_turn"),
        F.col(role_col).alias("t_role"),
        F.col(text_col).alias("t_text"),
    )
    ctx_src = df.select(
        F.col(conv_col).cast("string").alias("conv"),
        F.col(order_col).cast("long").alias("c_turn"),
        F.col(role_col).alias("c_role"),
        F.col(text_col).alias("c_text"),
    )
    w = windows.select("conv", "turn", "ctx_start", "ctx_n_tokens")
    ctx = (
        w.join(ctx_src, ["conv"])
        .where((F.col("c_turn") >= F.col("ctx_start"))
               & (F.col("c_turn") < F.col("turn")))
        .groupBy("conv", "turn")
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("c_turn").alias("turn"),
            F.col("c_role").alias("role"),
            F.col("c_text").alias("text")))).alias("context"))
    )
    return (
        w.join(ctx, ["conv", "turn"], "left")
        .join(t, (w["conv"] == t["conv"])
              & (w["turn"] == t["t_turn"]))
        .select(
            w["conv"], w["turn"],
            F.coalesce(
                "context",
                F.array().cast(
                    "array<struct<turn:bigint,role:string,text:string>>")
            ).alias("context"),
            F.col("t_role").alias("target_role"),
            F.col("t_text").alias("target_text"),
            "ctx_n_tokens",
        )
    )


def render_chat_pairs(
    pairs: DataFrame,
    *,
    turn_format: str = "{role}: {text}",
    turn_sep: str = "\n\n",
) -> DataFrame:
    """Render :func:`assemble_sft_pairs` output into trainable
    (prompt_text, target_text) strings: each context turn through
    ``turn_format`` (placeholders ``{role}``/``{text}``), joined by
    ``turn_sep``, with the target turn's role header appended so the
    model is prompted to speak — the generic role-header template;
    swap ``turn_format`` for your chat template's markup. Adds
    ``prompt_text`` (empty context → just the target header); all
    other columns pass through. Pure expressions — the render is a
    per-row transform over the already-assembled arrays."""
    import re

    if "{text}" not in turn_format or "{role}" not in turn_format:
        raise ValueError(
            "turn_format must contain {role} and {text} placeholders")
    parts = re.split(r"(\{role\}|\{text\})", turn_format)

    def fmt(role: F.Column, text: F.Column) -> F.Column:
        return F.concat(*[
            role if p == "{role}" else text if p == "{text}"
            else F.lit(p)
            for p in parts if p != ""
        ])

    rendered = F.array_join(
        F.transform(F.col("context"),
                    lambda c: fmt(c["role"], c["text"])),
        turn_sep,
    )
    header = fmt(F.col("target_role"), F.lit("")).alias("_h")
    prompt = F.when(
        F.size("context") > 0,
        F.concat(rendered, F.lit(turn_sep), header),
    ).otherwise(header)
    return pairs.withColumn("prompt_text", prompt)


def sft_mask_spans(
    df: DataFrame,
    max_tokens: int,
    trainable_roles: tuple[str, ...] = ("assistant",),
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Per-turn loss-mask spans for SFT training windows: chunk each
    conversation with :func:`chunk_conversations`, then give every turn
    its token offset range [start_tok, end_tok) INSIDE its chunk plus a
    ``trainable`` flag (1 iff ``role_col`` ∈ ``trainable_roles`` — the
    usual mask-everything-but-assistant policy; pass more roles to
    train on tool outputs too). A trainer consumes this as "tokens
    start_tok..end_tok of chunk (conv, chunk) contribute to the loss".

    Everything after the chunker is built-ins: one (conv, turn)
    equi-join to bring the role back, one windowed running sum per
    (conv, chunk) for the offsets — both shuffle only ~40-byte rows,
    never turn text; window groups are single chunks (≤max_tokens
    tokens), so no skew. Output: (conv, chunk, turn, role, start_tok,
    end_tok, trainable), one row per turn."""
    chunks = chunk_conversations(
        df, max_tokens, conv_col=conv_col, order_col=order_col,
        token_col=token_col)
    roles = df.select(
        F.col(conv_col).cast("string").alias("conv"),
        F.col(order_col).cast("long").alias("turn"),
        F.col(role_col).cast("string").alias("role"),
    )
    w = (Window.partitionBy("conv", "chunk").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    end = F.sum("n_tokens").over(w)
    return (
        chunks.join(roles, ["conv", "turn"])
        .select(
            "conv", "chunk", "turn", "role",
            (end - F.col("n_tokens")).cast("long").alias("start_tok"),
            end.cast("long").alias("end_tok"),
            F.col("role").isin(*trainable_roles).cast("int")
            .alias("trainable"),
        )
    )


def validate_transcripts(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    *,
    roles: tuple[str, ...] = ("user", "assistant", "tool", "system"),
    strict: bool = False,
) -> DataFrame:
    """The input data contract a production ingest fronts the pipeline
    with: one pass over the transcript table reporting, per check, how
    many rows/conversations violate it. Checks:

    - ``null_conv_id`` / ``null_turn_idx`` / ``null_text``: null keys
      or payload (rows)
    - ``negative_turn_idx``: ordering key below zero (rows)
    - ``unknown_role``: role outside ``roles`` (rows; NULL counts)
    - ``duplicate_turn``: more than one row per (conv, turn) — the
      invariant every window-ranked reassembly in this package assumes
      (conversations)
    - ``non_contiguous_turns``: a conversation whose turn indices are
      not exactly 0..n-1 (conversations) — informational for re-crawled
      data, fatal for positional consumers

    Returns (check string, n_violations long, unit string), every check
    present (zero rows included) so dashboards diff runs structurally.
    With ``strict=True`` raises ValueError listing the failing checks
    instead of returning — the ingest-gate mode.

    One narrow scan computes the row checks as conditional partial
    aggregations; the two conversation checks share one (conv, turn)
    groupBy — nothing text-sized shuffles. The input is read twice
    (row pass + conversation pass): fine off a columnar source, so if
    ``df`` is an expensive computed plan, materialize it upstream
    first (the validator deliberately does not checkpoint a
    text-carrying input itself)."""
    c, t = F.col(conv_col), F.col(order_col)
    row_checks = df.agg(
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("null_conv_id"),
        F.sum(F.when(t.isNull(), 1).otherwise(0)).alias("null_turn_idx"),
        F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0)).alias(
            "null_text"),
        F.sum(F.when(t < 0, 1).otherwise(0)).alias("negative_turn_idx"),
        F.sum(F.when(~F.col(role_col).isin(*roles)
                     | F.col(role_col).isNull(), 1).otherwise(0)).alias(
            "unknown_role"),
    ).head()
    per_conv = (
        df.where(c.isNotNull() & t.isNotNull())
        .groupBy(c.alias("conv"), t.alias("turn"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("conv")
        .agg(
            F.max("n").alias("max_per_turn"),
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn").alias("lo"),
            F.max("turn").alias("hi"),
        )
    )
    conv_checks = per_conv.agg(
        F.sum(F.when(F.col("max_per_turn") > 1, 1).otherwise(0)).alias(
            "duplicate_turn"),
        F.sum(F.when((F.col("lo") != 0)
                     | (F.col("hi") != F.col("n_turns") - 1),
                     1).otherwise(0)).alias("non_contiguous_turns"),
    ).head()
    rows = (
        [(k, int(row_checks[k] or 0), "rows")
         for k in ("null_conv_id", "null_turn_idx", "null_text",
                   "negative_turn_idx", "unknown_role")]
        + [(k, int(conv_checks[k] or 0), "conversations")
           for k in ("duplicate_turn", "non_contiguous_turns")]
    )
    if strict:
        bad = [(k, n) for k, n, _ in rows if n > 0]
        if bad:
            raise ValueError(f"transcript contract violated: {bad}")
    return df.sparkSession.createDataFrame(
        rows, "check string, n_violations long, unit string")


def dedup_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Whole-conversation exact dedup: two conversations are duplicates
    iff they have the same turn texts in the same turn order (turn
    indices may differ — a re-crawled conversation renumbered 0..n
    still matches). Returns (conv, fingerprint, keep) — keeper is the
    min conv id per fingerprint, first-occurrence-wins like the
    document-level :func:`exact_dedup`.

    Scale shape: each turn's text is hashed to 8 bytes WHERE IT SITS
    (xxhash64, no shuffle), the per-conv fingerprint is a sort_array +
    aggregate fold over (turn, hash) structs inside one groupBy — so
    the only shuffle carries (conv, turn-hash) rows and the keeper
    window runs on conv-count-sized data. Turn text never moves."""
    per_turn = df.select(
        F.col(conv_col).cast("string").alias("conv"),
        F.struct(
            F.col(order_col).cast("long").alias("turn"),
            # NULL text hashes to xxhash64's seed (a stable value distinct
            # from every real string's hash) - no sentinel needed
            F.xxhash64(F.col(text_col).cast("string")).alias("h"),
        ).alias("th"),
    )
    # order-invariant collect, then an order-DEPENDENT fold: sorting the
    # (turn, hash) structs recovers turn order, and folding sequentially
    # makes the fingerprint sensitive to it (hash(a,b) != hash(b,a))
    fps = (
        per_turn.groupBy("conv")
        .agg(F.sort_array(F.collect_list("th")).alias("ths"))
        .select(
            "conv",
            F.aggregate(
                "ths", F.lit(0).cast("long"),
                lambda acc, s: F.xxhash64(acc, s["h"]),
            ).alias("fingerprint"),
        )
    )
    w = Window.partitionBy("fingerprint").orderBy("conv")
    return fps.select(
        "conv", "fingerprint",
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    source_col: str = "source",
    n_buckets: int = 256,
) -> DataFrame:
    """Token-budget corpus mixing: draw a deterministic sample from each
    source sized to its mixture weight — the "data mixture" step of a
    pretraining pipeline (e.g. 60% web / 30% code / 10% books by token
    count). Source ``s`` gets a target of
    ``round(weights[s]/Σweights × total_tokens)`` tokens; its documents
    are taken in ``(md5(id), id)`` order (a seedless deterministic
    shuffle, same device as :func:`stratified_sample`) while the running
    token total BEFORE each document is under the target — so the target
    is always reached when the source is large enough, overshooting by
    less than one document. Sources missing from ``weights`` contribute
    nothing; a source smaller than its target contributes everything it
    has (under-delivery is the caller's signal to re-weight, not a
    silent re-draw).

    Scale shape: the naive form is one cumulative-sum window per source
    — a whale source would serialize its entire (id, n_tokens) stream
    through a single task. Instead the order is bucketed by its own
    prefix (``md5`` prefix → ``n_buckets`` order-contiguous buckets):
    per-(source, bucket) token sums make a tiny aggregate (sources ×
    buckets rows) whose cumulative sum locates each source's BOUNDARY
    bucket; buckets wholly under the target are taken with no window at
    all, buckets past it are dropped at the join, and only the one
    boundary bucket per source (~1/n_buckets of the source) pays a
    windowed cumsum, seeded with the bucket's running offset. Results
    are bit-identical to the naive spec at any ``n_buckets`` (buckets
    partition a prefix of the order), which the DuckDB oracle in pytest
    checks against the naive global-window SQL. Only (source, id,
    n_tokens) rows ever shuffle — never text."""
    if total_tokens < 0:
        raise ValueError("total_tokens must be non-negative")
    if not weights:
        raise ValueError("weights must name at least one source")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative with a positive sum")
    if not 0 < n_buckets <= 65536:
        raise ValueError("n_buckets must be in (0, 65536] — buckets are "
                         "ranges of a 16-bit md5 prefix")
    wsum = float(sum(weights.values()))
    spark = df.sparkSession
    targets = spark.createDataFrame(
        [(s, int(round(w / wsum * total_tokens)))
         for s, w in sorted(weights.items())],
        f"{source_col} string, target long",
    )
    ord_key = F.md5(F.col(id_col).cast("string"))
    narrow = (
        df.select(
            F.col(source_col).alias("source"),
            # id is carried through untouched (any orderable type — the
            # order key hashes its string form); casting here would
            # crash ANSI runs or null out string ids
            F.col(id_col).alias("id"),
            F.col(token_col).cast("long").alias("n_tokens"),
            ord_key.alias("ord_key"),
        )
        # md5-prefix range bucket: lexicographic hex order == numeric
        # order, so floor(prefix16 · n/65536) is order-CONTIGUOUS
        # (bucket b's keys all sort before bucket b+1's) and per-bucket
        # sums compose into the global cumulative sum exactly
        .withColumn(
            "bucket",
            F.floor(
                F.conv(F.substring("ord_key", 1, 4), 16, 10).cast("long")
                * n_buckets / F.lit(65536)
            ).cast("int"),
        )
        .join(F.broadcast(targets.withColumnRenamed(source_col, "source")),
              "source")
    )
    # tiny aggregate: (source, bucket) token sums → running offset per
    # bucket; the window here is over ≤ n_buckets rows per source
    wb = Window.partitionBy("source").orderBy("bucket")
    bucket_sums = (
        narrow.groupBy("source", "bucket", "target")
        .agg(F.sum("n_tokens").alias("b_tokens"))
        .withColumn(
            "b_before",
            F.coalesce(
                F.sum("b_tokens").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn(
            "b_state",
            # strict <: a bucket summing EXACTLY to the target must take
            # the boundary path — under "all" a zero-token doc sitting
            # at cum_before == target would be kept, diverging from the
            # naive spec (cum_before < target) only at some n_buckets
            F.when(F.col("b_before") + F.col("b_tokens") < F.col("target"),
                   F.lit("all"))
            .when(F.col("b_before") >= F.col("target"), F.lit("none"))
            .otherwise(F.lit("boundary")),
        )
        .select("source", "bucket", "b_before", "b_state")
    )
    staged = narrow.join(F.broadcast(bucket_sums), ["source", "bucket"])
    whole = staged.where(F.col("b_state") == "all")
    # only the boundary bucket pays a row-level window, offset by the
    # buckets before it
    wrow = (
        Window.partitionBy("source", "bucket")
        .orderBy("ord_key", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    edge = (
        staged.where(F.col("b_state") == "boundary")
        .withColumn(
            "cum_before",
            F.col("b_before") + F.coalesce(F.sum("n_tokens").over(wrow),
                                           F.lit(0)),
        )
        .where(F.col("cum_before") < F.col("target"))
        .drop("cum_before")
    )
    return (
        whole.unionByName(edge)
        .select(F.col("source").alias(source_col),
                F.col("id").alias(id_col),
                F.col("n_tokens").alias(token_col))
    )


def hash_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment from the first hex char
    of ``md5(id)``: '0'-'b' → train (75%), 'c'-'d' → val (12.5%),
    'e'-'f' → test (12.5%). Pure expression, no RNG state — the same
    row lands in the same split on every engine and every run, the
    property a reproducible corpus split needs."""
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return df.withColumn(
        "split",
        F.when(h < "c", "train").when(h < "e", "val").otherwise("test"),
    )


def neardup_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    that turns pairwise LSH/Jaccard hits into dedup GROUPS (keep one doc
    per component, drop the rest). HashMin label propagation: every node
    starts labeled with itself; each round, a node adopts the minimum
    label in its neighborhood; converged when no label changes. Rounds ≈
    graph diameter (near-dup clusters are shallow); each round is one
    join + one partial-agg groupBy — the standard DataFrame-native CC at
    any scale. Labels are materialized per round (``barrier.pin``) so
    the plan does not grow with iterations; convergence is an exact
    count of changed labels — the loop RAISES if the graph has not
    converged (a silent early exit would return split components).
    Clusters with diameter ≤ ``max_iters`` always converge (the loop
    runs ``max_iters`` propagation rounds plus the one confirming
    zero-change round); raise ``max_iters`` for pathological
    chain-shaped clusters. Returns (node, component) with component =
    min node id of the cluster."""
    # both edge directions from ONE pass over the (possibly expensive)
    # pairs plan — a plain union of two selects would execute it twice
    edges = (
        pairs.select(
            F.explode(F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .transform(pin)
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(pin)
    )
    changed = -1  # defined even if max_iters <= 0 (error path below)
    for _ in range(max_iters + 1):
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh_min, labels.node == neigh_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .transform(pin)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — a cluster's diameter "
            "exceeds max_iters; raise it (rounds are cheap: one join + "
            "one partial agg each)")
    return labels.select("node", F.col("label").alias("component"))


def dedup_keepers(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Per-component keeper selection: the minimum doc id of each
    near-dup cluster survives, everything else is slated for removal.
    Returns (component, keeper, n_members). Under the min-label policy
    ``keeper`` always equals ``component`` (HashMin converges to the
    min id) — the column exists as the policy seam: swap the ``min``
    for e.g. longest-doc or earliest-crawl selection without touching
    consumers."""
    comp = neardup_components(pairs, a_col, b_col)
    return (
        comp.groupBy("component")
        .agg(
            F.min("node").alias("keeper"),
            F.count("*").cast("long").alias("n_members"),
        )
    )


# ---------------------------------------------------------------------------
# deduplication

def exact_dedup_groups(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup: group on the md5 digest (32-byte shuffle key, the
    payload never moves), emit (fingerprint, n_dups, keeper)."""
    return (
        with_fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min(key_col).alias("keeper"),
        )
    )



def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition IF the input has fewer partitions than the
    cluster has slots — a small/single-split scan would otherwise run the
    whole tokenize/hash pipeline on one core. Gated on the actual
    partition count so a production scan with plenty of splits never
    pays a payload shuffle before a narrow map. THE single home of this
    policy — driver queries import it rather than re-deriving it."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < spread:
        return df.repartition(spread)
    return df


def _shingle_posting(df: DataFrame, key_col: str, text_col: str,
                     n: int) -> DataFrame:
    """(doc, gram) posting list of distinct word n-grams per document —
    THE single home of shingle construction. Documents shorter than n
    tokens have NO n-grams (the sequence expression would otherwise emit
    one truncated shingle at index 0, silently diverging from the
    pos+1-join oracle SQL).

    The token array is PROJECTED to a column before the gram transform:
    a split() expression referenced inside the lambda is re-evaluated
    per sequence element (Catalyst does not hoist subexpressions out of
    higher-order-function lambdas), re-splitting the whole document
    once per token — O(n²) per doc. Invisible at the corpus's ~60-token
    documents; a planted 400k-token whale took >10 min per task before
    and 0.9 s after (tests/test_skew_whales.py is the regression
    gate)."""
    raw = F.split(F.col(text_col), " ")
    pre = (
        spread_small_scan(df.where(F.size(raw) >= n))
        .select(F.col(key_col).alias("doc"), raw.alias("_toks"))
    )
    toks = F.col("_toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    return pre.select("doc", F.explode(grams).alias("gram"))


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs via inverted-index join.

    distinct n-grams per doc → explode → self-equi-join on the n-gram →
    count common per pair → |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold.
    Shuffle is bounded by total n-gram postings; no cross product.

    ``max_df`` is the stop-shingle guard that makes the join tractable at
    any scale: an n-gram appearing in more than ``max_df`` documents
    carries no near-dup signal but contributes O(df²) join fan-out, so
    hot n-grams are dropped BEFORE the self-join and pair sizes |A|,|B|
    are counted over the surviving postings (both sides of the Jaccard
    see the same filtered universe — the oracle SQL mirrors this
    exactly). ``max_df=None`` disables the cap (exact, small inputs
    only)."""
    # the (filtered) posting list feeds three consumers (sizes + both
    # self-join sides); without materialization Catalyst re-executes the
    # tokenize+shingle explode for each. The eager pin stores it once
    # and — unlike persist() — its storage is reclaimed by the
    # ContextCleaner as soon as the returned plan is garbage, so repeated
    # calls in one session cannot accumulate session-lifetime caches
    # (round-1 review finding; reliable-pin FILES need
    # cleanCheckpoints=true, which get_spark sets). With a checkpoint
    # dir set (sc.setCheckpointDir) the pin is a reliable checkpoint
    # automatically (sparkocr.barrier), so executor loss cannot
    # invalidate the materialized posting mid-job.
    posting = _shingle_posting(df, key_col, text_col, n)
    if max_df is not None:
        # anti-join against the (small) hot-gram list: a partial-agg
        # count + AQE-sized join, cheaper at scale than a window over
        # every posting (which would sort-shuffle the full posting list)
        hot = (
            posting.groupBy("gram")
            .agg(F.count("*").alias("gram_df"))
            .where(F.col("gram_df") > max_df)
            .select("gram")
        )
        posting = posting.join(hot, "gram", "left_anti")
    posting = posting.transform(pin)
    sizes = posting.groupBy("doc").agg(F.count("*").alias("n_grams"))
    common = (
        posting.alias("a")
        .join(posting.alias("b"), "gram")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_grams", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_grams", "nb"), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .where(F.col("jaccard_raw") >= threshold)
        .select(
            "doc_a", "doc_b", "n_common",
            F.round("jaccard_raw", 4).alias("jaccard"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    n_shingle: int = 3,
    n_hashes: int = 32,
) -> DataFrame:
    """MinHash signatures: k independent hash streams; signature = array
    of per-stream minima. One explode + one groupBy; the shingle text
    itself never shuffles (only 8-byte hashes).

    The shingle string is hashed ONCE (``xxhash64(gram)``); the k
    streams are derived from that 8-byte base as ``xxhash64(i, base)``
    — k fixed-width hashes instead of k full string hashes, the
    dominant per-shingle cost at scale."""
    posting = _shingle_posting(df, key_col, text_col, n_shingle)
    base = F.xxhash64(F.col("gram"))
    hashed = posting.select(
        "doc", base.alias("__base__")
    ).select(
        "doc",
        *[
            F.xxhash64(F.lit(i), F.col("__base__")).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    aggs = [F.min(f"h{i}").alias(f"m{i}") for i in range(n_hashes)]
    sig = hashed.groupBy("doc").agg(*aggs)
    return sig.select(
        "doc", F.array(*[f"m{i}" for i in range(n_hashes)]).alias("signature")
    )


def source_overlap_jaccard(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n_shingle: int = 3,
    n_hashes: int = 256,
) -> DataFrame:
    """Corpus-planning sketch: pairwise Jaccard similarity between
    SOURCES' word-shingle sets, estimated from one per-source MinHash
    signature — answers "how much does crawl A overlap crawl B" (i.e.
    whether a cross-source dedup pass is worth scheduling) without ever
    materializing or intersecting the shingle sets. The estimator is
    the classic one: P[min agrees on stream i] = J(A,B), so the
    fraction of agreeing streams is an unbiased Jaccard estimate with
    stderr ≈ sqrt(J(1−J)/k) (~0.03 at k=256, J=0.5).

    Scale shape: one corpus pass builds the signatures — the shingle
    string is hashed once, the k streams are fixed-width re-hashes
    (same device as :func:`minhash_signatures`), and the per-source
    groupBy ships k longs per partial aggregate (map-side combine).
    The pairwise comparison is over SOURCES (a handful of rows), a
    broadcast self-join on ``a.source < b.source``; ``zip_with``
    counts agreeing streams JVM-side. Deterministic: same input →
    bit-identical estimates (seedless xxhash64 streams).

    Returns (source_a, source_b, est_jaccard) for EVERY unordered
    source pair — a source whose documents are all shorter than
    ``n_shingle`` tokens has an empty shingle set and reports 0.0
    against everything (Jaccard with an empty set), rather than
    silently dropping its pairs."""
    if n_hashes < 1:
        raise ValueError("n_hashes must be ≥ 1")
    sig = minhash_signatures(df, source_col, text_col,
                             n_shingle=n_shingle, n_hashes=n_hashes)
    # left-join signatures onto the full source list: shingle-less
    # sources keep a null signature and score 0.0 below
    srcs = (df.select(F.col(source_col).alias("src")).distinct()
            .join(sig.withColumnRenamed("doc", "src"), "src", "left"))
    a = srcs.select(F.col("src").alias("source_a"),
                    F.col("signature").alias("sig_a"))
    b = srcs.select(F.col("src").alias("source_b"),
                    F.col("signature").alias("sig_b"))
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda m: m,
    ))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a", "source_b",
            F.when(F.col("sig_a").isNull() | F.col("sig_b").isNull(),
                   F.lit(0.0))
            .otherwise(F.round(agree.cast("double") / F.lit(n_hashes), 6))
            .alias("est_jaccard"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    n_shingle: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash+LSH candidate pairs: split the signature into ``bands``
    rows-per-band chunks, bucket-join on (band, chunk-hash). Candidates ~
    actual collisions; verify with exact signature similarity."""
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}) exactly — "
            "trailing signature entries would silently drop out of banding"
        )
    rows_per_band = n_hashes // bands
    # materialize the signature aggregate ONCE: without this, both
    # self-join aliases re-execute the full shingle→hash→groupBy pipeline
    # (round-1 review finding — at 100 TB recomputing a full-corpus
    # explode+agg to save a small cache is the wrong trade). The
    # signature table is tiny relative to the corpus (n_hashes longs per
    # doc, the text never leaves the map side); pin storage is
    # reclaimed when the plan is garbage, and with a checkpoint dir set
    # the pin is a reliable checkpoint (sparkocr.barrier), so executor
    # loss can't invalidate it.
    sig = minhash_signatures(df, key_col, text_col, n_shingle, n_hashes) \
        .transform(pin)
    band_hash = [
        F.xxhash64(
            *[F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
        )
        for b in range(bands)
    ]
    buckets = (
        sig.withColumn("band_hashes", F.array(*band_hash))
        .select(
            "doc", "signature", "band_hashes",
            F.posexplode("band_hashes").alias("band", "bucket"),
        )
    )
    # dedupe WITHOUT a second shuffle: a pair colliding in several bands
    # would come out of the equi-join once per colliding band, so keep
    # only the row whose band is the FIRST band on which the two
    # signatures agree (computable from the carried band-hash arrays — a
    # map-side filter, replacing the old post-join dropDuplicates
    # exchange)
    first_agree = F.array_position(
        F.zip_with("a.band_hashes", "b.band_hashes",
                   lambda x, y: (x == y)),
        True,
    )
    pairs = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bucket"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .where(first_agree == F.col("band") + 1)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(n_hashes),
        4,
    )
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


def simhash64(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens (vectorized Arrow UDF: the
    per-bit majority fold has no good codegen form); a null or empty
    text hashes to 0. Deterministic blake2b-based token hashing —
    stable across processes/machines."""
    import hashlib

    @F.arrow_udf(LongType())
    def sim(s: pa.Array) -> pa.Array:
        out = np.zeros(len(s), dtype=np.int64)
        for i, text in enumerate(s.to_pylist()):
            if not text:
                continue
            toks = text.split(" ")
            hs = np.array(
                [
                    int.from_bytes(
                        hashlib.blake2b(t.encode(), digest_size=8).digest(), "big"
                    )
                    for t in toks
                ],
                dtype=np.uint64,
            )
            bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            acc = np.where(bits == 1, 1, -1).sum(axis=0)
            v = np.uint64(0)
            for b in range(64):
                if acc[b] > 0:
                    v |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(v.astype(np.int64))
        return pa.array(out)

    return spread_small_scan(df).withColumn("simhash", sim(F.col(text_col)))


def simhash_neardup_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    min_tokens: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Banded join, exact by pigeonhole: the 64-bit hash splits into 4
    16-bit bands, and any pair within Hamming distance 3 (< 4 bands)
    must agree EXACTLY on at least one band — so candidates = band
    collisions (equi-join on (band_no, band_value), shuffle bounded by
    collisions) and the residual ``bit_count(xor) <= k`` filter makes
    the result exact, never a cross product. For ``max_hamming`` ≥ 4
    widen to 8×8-bit bands accordingly (not needed here).

    Degenerate-band skew guards (round-1 review finding — empty or
    boilerplate-identical docs all hash to the same simhash, so all 4
    bands collide and one (band_no, band_val) bucket does O(n²)
    residual-filter work):

    - ``min_tokens``: docs with fewer whitespace tokens are excluded
      up front — a near-empty doc's simhash carries no signal. NOTE
      this is a deliberate recall trade: identical single-token docs
      are no longer reported here (they are exact duplicates — run
      ``exact_dedup_groups`` first, which catches them at any length);
      pass ``min_tokens=0`` to restore the old contract.
    - ``max_bucket``: any (band_no, band_val) bucket with more members
      is dropped before the self-join (the ``max_df`` stop-shingle
      pattern). A 100 TB corpus with 1% byte-identical boilerplate
      should be exact-deduped FIRST (``exact_dedup_groups``); after
      that, a >``max_bucket`` bucket is pathological skew, and
      dropping it trades bounded recall (only pairs whose EVERY
      agreeing band is hot can be lost) for a bounded join.
      ``None`` disables the cap."""
    if max_hamming > 3:
        raise ValueError("4×16-bit banding is only exact for max_hamming <= 3")
    if min_tokens > 0:
        df = df.where(
            F.size(F.split(F.col(text_col), " ")) >= min_tokens
        )
    # materialize the (tiny) simhash table once: it feeds the hot-bucket
    # aggregate, the anti-join probe side, AND both self-join sides —
    # without this the per-token Arrow UDF would re-run for each
    sh = simhash64(df, key_col, text_col).select(
        F.col(key_col).alias("doc"), "simhash"
    ).transform(pin)
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band_no"),
            F.shiftrightunsigned("simhash", 16 * i)
            .bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
        )
        for i in range(4)
    ])
    banded = sh.select("doc", "simhash", F.explode(bands).alias("b")).select(
        "doc", "simhash", "b.band_no", "b.band_val"
    )
    if max_bucket is not None:
        hot = (
            banded.groupBy("band_no", "band_val")
            .agg(F.count("*").alias("occ"))
            .where(F.col("occ") > max_bucket)
            .select("band_no", "band_val")
        )
        banded = banded.join(hot, ["band_no", "band_val"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    pairs = (
        a.join(b, ["band_no", "band_val"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("band_no"),
            F.bit_count(xor).alias("hamming"),
            # band i agrees iff its 16 xor bits are all zero; the first
            # agreeing band is derivable map-side from the xor
            (F.array_position(
                F.array(*[
                    (F.shiftrightunsigned(xor, 16 * i)
                     .bitwiseAND(F.lit(0xFFFF)) == 0)
                    for i in range(4)
                ]), True,
            ) - 1).alias("first_agree"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    if max_bucket is None:
        # dedupe WITHOUT a shuffle: a pair agreeing on several bands
        # exits the equi-join once per band — keep only the row whose
        # band_no is the first agreeing band (map-side filter replacing
        # a dropDuplicates exchange)
        return (pairs.where(F.col("band_no") == F.col("first_agree"))
                .select("doc_a", "doc_b", "hamming"))
    # with the occupancy cap a pair's first agreeing band may have been
    # dropped as hot (the pair then only surfaces via a later band), so
    # the first-agree filter would lose it. Candidates are already
    # bounded by the cap, so the dedup exchange is bounded too.
    return (pairs.select("doc_a", "doc_b", "hamming")
            .dropDuplicates(["doc_a", "doc_b"]))
