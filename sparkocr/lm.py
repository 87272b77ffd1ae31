"""Language-model-driven data selection and tokenization: the
perplexity / importance-weight / BPE family of a pretraining pipeline.

Three published-algorithm operator groups, each Spark-first:

- :func:`train_unigram_lm` / :func:`with_perplexity` — CCNet-style
  quality scoring (Wenzek et al. 2020): train a smoothed unigram LM on a
  clean reference corpus, score every document by perplexity, gate on
  the score. The LM here is add-alpha unigram rather than a KenLM 5-gram
  (no external model files in this environment); the Spark plumbing —
  reference-corpus aggregation, broadcast scoring join, map-side partial
  aggregation — is the real thing and is what matters at 100 TB.
- :func:`dsir_weights` / :func:`dsir_sample` — DSIR importance
  resampling (Xie et al. 2023): hashed n-gram bag-of-words LMs on a
  target and a raw corpus, per-document log importance weight
  Σ count(bucket)·(log p_target − log p_raw), then Gumbel top-k
  sampling without replacement — seedless and deterministic, per this
  package's md5-order convention.
- :func:`train_bpe` / :func:`bpe_encode` — byte-pair-encoding tokenizer
  training (Sennrich et al. 2016) and GPT-2-style rank-greedy encoding.
  Training collapses the corpus to a capped word-frequency table
  (distributed aggregation — the corpus-sized pass) and runs the
  inherently sequential merge loop on the driver over that bounded
  table, exactly as real tokenizer trainers do; encoding is a narrow
  Arrow UDF with per-batch word caching and the merge list broadcast in
  the closure.

Analog in the reference: the rec-stage dictionary (rec.rs:55-59 keys
file → id↔token mapping) is the reference's tokenizer artifact; these
operators build and apply such artifacts corpus-scale instead of
loading them from disk.

Scale shape (100 TB): the corpus is touched only by narrow passes
(tokenize/explode) and partial aggregations — what shuffles is
(token, count) / (bucket, count) / (doc, partial-sum) rows, never
document text. Every model artifact (LM vocab table, bucket log-ratio
table, merge list) is bounded by an explicit cap parameter and moves to
executors by broadcast.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from .barrier import pin

# Whitespace-run splitter with the class spelled out: `\s` diverges
# between Java regex (Spark) and RE2 (the DuckDB oracle) on \x0b.
_WS_RE = "[ \t\n\r\f\x0b]+"


def _tokens(col: F.Column) -> F.Column:
    """Lowercased whitespace tokens of ``col``, empties removed (the
    split emits '' at string edges)."""
    return F.filter(
        F.split(F.lower(col), _WS_RE), lambda t: t != F.lit("")
    )


# ---------------------------------------------------------------------------
# CCNet-style unigram-LM perplexity scoring


@dataclass(frozen=True)
class UnigramLM:
    """A trained unigram LM: a small (token, logprob) table plus the
    shared out-of-vocabulary logprob. ``table`` is a DataFrame so the
    artifact can be persisted/bucketed like any other table; scoring
    broadcasts it (bounded by ``vocab_size``)."""

    table: DataFrame  # (token string, logprob double)
    oov_logprob: float
    n_tokens: int  # total training tokens (post-cap mass included)
    n_types: int  # vocabulary size after the cap


def train_unigram_lm(
    ref: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 200_000,
    alpha: float = 0.5,
) -> UnigramLM:
    """Train an add-alpha-smoothed unigram LM on the reference corpus
    ``ref`` — the "clean side" model of a CCNet perplexity filter.

    Tokens are lowercased whitespace pieces. The vocabulary keeps the
    top ``vocab_size`` tokens by (count desc, token asc — a total,
    deterministic order); everything else shares the OOV estimate.
    With ``N`` = total token count (including capped-away tokens — their
    mass stays in the denominator) and ``V`` = kept vocabulary size:

        logprob(t in vocab) = ln((c_t + alpha) / (N + alpha·(V+1)))
        oov_logprob         = ln(alpha / (N + alpha·(V+1)))

    The corpus-sized work is one explode + one partial-aggregated
    groupBy on the token string; only (token, count) rows shuffle. The
    driver materializes exactly two scalars (N, V) and the capped vocab
    stays a DataFrame. At 100 TB the one refinement worth making is
    grouping on ``xxhash64(token)`` first and resolving strings for the
    top-V only; at vocab scale the straight string groupBy is fine.
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    if alpha <= 0:
        raise ValueError("alpha must be positive (add-alpha smoothing)")
    counts = (
        ref.select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # pin the vocabulary-sized aggregate BEFORE the scalar action: the
    # returned table would otherwise re-run the corpus explode+groupBy
    # on every downstream action (an unconditional second 100 TB pass)
    # — and for a nondeterministic input plan the scalars and the table
    # could come from two DIFFERENT evaluations (a silently
    # inconsistent LM)
    counts = pin(counts)
    # Two scalars to the driver; the full counts never leave executors.
    tot = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("v"),
    ).head()
    n_total = int(tot["n"])
    kept = counts
    if int(tot["v"]) > vocab_size:
        # deterministic top-V cap as orderBy().limit() — a TakeOrdered:
        # per-partition heads, only vocab_size rows ever move. An
        # unpartitioned row_number() window would funnel every
        # (token, count) row through one task — a straggler/OOM at the
        # module's documented 100 TB shape (same device as train_bpe's
        # max_words cap).
        kept = counts.orderBy(
            F.col("c").desc(), F.col("token")).limit(vocab_size)
    n_types = min(int(tot["v"]), vocab_size)
    denom = n_total + alpha * (n_types + 1)
    table = kept.select(
        "token",
        F.log((F.col("c") + F.lit(float(alpha))) / F.lit(denom)).alias(
            "logprob"
        ),
    )
    return UnigramLM(
        table=table,
        oov_logprob=math.log(alpha / denom),
        n_tokens=n_total,
        n_types=n_types,
    )


def perplexity_scores(
    df: DataFrame,
    lm: UnigramLM,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document of ``df`` under ``lm``: returns
    (key_col, ppl double, n_scored long) — ``ppl`` is the unigram
    perplexity, exp of the negative mean token logprob, rounded to 4
    decimals; ``n_scored`` counts scored tokens. Documents with no
    tokens are present with ``ppl`` NULL and ``n_scored`` 0 — an empty
    document has no perplexity, and NULL keeps it visible to the
    caller's gate rather than silently best- or worst-scoring it.

    Plan shape: explode (narrow — each document's tokens stay in its
    partition) → broadcast left join against the bounded LM table →
    groupBy on the document key, whose partial aggregation collapses
    each document to one (key, sum, count) row BEFORE the shuffle, so
    the exchange moves one skinny row per document and text never
    moves. This skinny form is the scale API; :func:`with_perplexity`
    is the convenience join-back.
    """
    return (
        df.select(F.col(key_col),
                  _tokens(F.col(text_col)).alias("_toks"))
        .select(key_col, F.explode_outer("_toks").alias("token"))
        .join(F.broadcast(lm.table), "token", "left")
        .groupBy(key_col)
        .agg(
            F.round(
                F.exp(-F.avg(
                    F.when(F.col("token").isNotNull(),
                           F.coalesce(F.col("logprob"),
                                      F.lit(lm.oov_logprob))))),
                4,
            ).alias("ppl"),
            F.count("token").alias("n_scored"),
        )
    )


def with_perplexity(
    df: DataFrame,
    lm: UnigramLM,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`perplexity_scores` joined back onto ``df`` (adds ``ppl``,
    ``n_scored``). The join-back co-shuffles ``df`` on the key; at
    corpus scale prefer the skinny :func:`perplexity_scores` (or a
    key-bucketed ``df``, where this join is exchange-free)."""
    scored = perplexity_scores(df, lm, key_col, text_col)
    return df.join(
        scored.withColumnRenamed(key_col, "_k"),
        df[key_col] == F.col("_k"),
        "left",
    ).drop("_k")


def ppl_buckets(
    scores: DataFrame,
    ppl_col: str = "ppl",
    boundaries: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): label every
    row of a :func:`perplexity_scores` output by which corpus-level
    perplexity quantile band it falls in — ``head`` = lowest perplexity
    (most reference-like), ``tail`` = highest. The cut points are exact
    ``percentile_cont``-style quantiles (linear interpolation) of the
    non-null scores; a row with ``ppl`` exactly on a boundary goes to
    the lower band (<=), and NULL ppl (empty documents) gets a NULL
    bucket — the caller's gate decides their fate, as everywhere in
    this package.

    Plan shape: one exact-percentile aggregation (partial-aggregated;
    at true corpus scale swap in ``approx_percentile`` and note the
    tolerance) producing ``len(boundaries)`` driver-side scalars, then
    a pure-expression label. The input plan is evaluated twice — a
    column-pruned percentile pass (only ``ppl_col`` survives pruning)
    plus the labeled output — so materialize expensive score plans
    upstream first; the function deliberately does not checkpoint its
    input, whose columns it does not control (it may carry full
    document text)."""
    if len(labels) != len(boundaries) + 1:
        raise ValueError("need exactly len(boundaries)+1 labels")
    if list(boundaries) != sorted(boundaries) or any(
            not 0 < b < 1 for b in boundaries):
        raise ValueError("boundaries must be ascending and in (0, 1)")
    cuts_row = scores.agg(
        F.percentile(F.col(ppl_col), F.array(
            *[F.lit(float(b)) for b in boundaries]))).head()[0]
    if cuts_row is None:  # no non-null scores at all
        cuts_row = [None] * len(boundaries)
    expr = None
    for cut, label in zip(cuts_row, labels[:-1]):
        if cut is None:
            continue
        cond = F.col(ppl_col) <= F.lit(float(cut))
        expr = F.when(cond, label) if expr is None else expr.when(
            cond, label)
    last = F.lit(labels[-1])
    bucket = (last if expr is None else expr.otherwise(last))
    return scores.withColumn(
        "ppl_bucket",
        F.when(F.col(ppl_col).isNull(), F.lit(None).cast("string"))
        .otherwise(bucket),
    )


# ---------------------------------------------------------------------------
# DSIR hashed-n-gram importance resampling


def _gram_buckets(col: F.Column, n_buckets: int) -> F.Column:
    """Hashed unigram+bigram feature buckets of a text column (the DSIR
    feature map): xxhash64 of each token and of each adjacent
    space-joined token pair, folded into ``n_buckets`` non-negative
    buckets. Pure expression — no UDF."""
    toks = _tokens(col)
    unis = F.transform(toks, lambda t: F.pmod(F.xxhash64(t),
                                              F.lit(n_buckets)))
    # bigrams: zip tokens with themselves shifted by one; slice drops
    # the unmatched tail so a k-token doc yields exactly k-1 bigrams
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bis = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        shifted,
        lambda a, b: F.pmod(F.xxhash64(F.concat_ws(" ", a, b)),
                            F.lit(n_buckets)),
    )
    return F.concat(unis, bis)


def _bucket_logprobs(df: DataFrame, text_col: str, n_buckets: int,
                     alpha: float) -> tuple[DataFrame, float]:
    """((bucket, logprob), total feature count) under add-alpha
    smoothing with the FIXED feature space of ``n_buckets`` buckets
    (hashing closes the vocabulary, so the denominator needs no +1 OOV
    slot). The total is returned so callers derive the smoothing floor
    without a second corpus-sized pass."""
    counts = (
        df.select(F.explode(_gram_buckets(F.col(text_col),
                                          n_buckets)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # pin the ≤n_buckets-row aggregate before the scalar action: one
    # corpus pass total, and the total + table come from the SAME
    # evaluation (see train_unigram_lm)
    counts = pin(counts)
    n = float(counts.agg(F.coalesce(F.sum("c"), F.lit(0))).head()[0])
    denom = n + alpha * n_buckets
    table = counts.select(
        "bucket",
        F.log((F.col("c") + F.lit(float(alpha))) / F.lit(denom)
              ).alias("logprob"),
    )
    return table, n


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    raw: DataFrame | None = None,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR log importance weights: for each document of ``df``, the sum
    over its hashed unigram+bigram features of
    ``log p_target(bucket) − log p_raw(bucket)``, where both bucket LMs
    are add-alpha-smoothed over the fixed ``n_buckets`` feature space.
    ``raw`` defaults to ``df`` itself (the usual case: weight the raw
    pool against a clean target). Returns (key_col, log_w double —
    rounded to 6 decimals, n_feats long).

    Evaluation contract: the LM count tables are pinned (one corpus
    pass each, see ``_bucket_logprobs``), but ``df`` itself is read by
    BOTH the raw-LM aggregation and the scoring pass — a
    nondeterministic ``df`` plan (a sample, a tie-broken limit) should
    be pinned by the CALLER first; this function does not force a
    corpus-sized materialization on the deterministic common case
    (a parquet-backed table).

    Scale shape: the two LM tables are exactly ``≤ n_buckets`` rows each
    — their difference is merged into ONE broadcast (bucket, log_ratio)
    table so the corpus-sized side joins once, not twice. The corpus
    pass is explode → broadcast left join → per-document partial sum;
    only (key, partial-sum) rows shuffle, never text. A bucket unseen
    in BOTH corpora scores the difference of the two smoothed floors
    (the left join's fill), a bucket unseen in one scores against that
    side's floor — exactly the add-alpha DSIR estimator. A document
    with no tokens has the empty sum: ``log_w`` 0 (weight 1),
    ``n_feats`` 0, still present in the output.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if alpha <= 0:
        raise ValueError("alpha must be positive")
    raw = raw if raw is not None else df
    # each side's total feature count rides back with its LM table —
    # the smoothing floors cost no extra corpus pass
    p_t, n_t = _bucket_logprobs(target, text_col, n_buckets, alpha)
    p_r, n_r = _bucket_logprobs(raw, text_col, n_buckets, alpha)
    floor_t = math.log(alpha / (n_t + alpha * n_buckets))
    floor_r = math.log(alpha / (n_r + alpha * n_buckets))
    ratio = (
        p_t.withColumnRenamed("logprob", "lp_t")
        .join(p_r.withColumnRenamed("logprob", "lp_r"), "bucket", "full")
        .select(
            "bucket",
            (F.coalesce(F.col("lp_t"), F.lit(floor_t))
             - F.coalesce(F.col("lp_r"), F.lit(floor_r))
             ).alias("log_ratio"),
        )
    )
    return (
        df.select(F.col(key_col),
                  F.explode_outer(_gram_buckets(F.col(text_col),
                                                n_buckets)).alias("bucket"))
        # left join: a bucket absent from BOTH LM tables still scores
        # (as floor_t − floor_r); inner would silently drop the feature
        .join(F.broadcast(ratio), "bucket", "left")
        .groupBy(key_col)
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("bucket").isNotNull(),
                                 F.coalesce(F.col("log_ratio"),
                                            F.lit(floor_t - floor_r)))),
                    F.lit(0.0)),
                6,
            ).alias("log_w"),
            F.count("bucket").alias("n_feats"),
        )
    )


def dsir_sample(weights: DataFrame, k: int,
                key_col: str = "doc_id") -> DataFrame:
    """Draw ``k`` documents without replacement with probability ∝
    exp(log_w), via the Gumbel top-k trick: rank on
    ``log_w + Gumbel(md5(key))`` and keep the top ``k``. The Gumbel
    noise is seedless-deterministic — ``u`` is the first 12 md5 hex
    digits of the key as a uniform in (0,1), ``g = −ln(−ln u)`` — so the
    draw is reproducible by any engine from the table alone, matching
    :func:`sparkocr.analysis.stratified_sample`'s md5-order device.
    Returns the surviving (key_col, log_w, gumbel_key) rows.

    A global top-k is a TakeOrdered (per-partition heads, no full
    sort-shuffle); ``k`` rows land on the driver side of the limit only
    if the caller collects.
    """
    if k < 0:
        raise ValueError("k must be non-negative")
    # 12 hex digits = 48 bits: exact in a double, and u > 0 is
    # guaranteed by the +1 on the integer form (u in (0, 1])... u must
    # also stay < 1 so ln(u) < 0: (h + 1) / (2^48 + 1) is in (0, 1)
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12),
               16, 10).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(2**48 + 1))
    g = -F.log(-F.log(u))
    return (
        weights.withColumn("gumbel_key",
                           F.round(F.col("log_w") + g, 6))
        .orderBy(F.col("gumbel_key").desc(), F.col(key_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# fastText-style quality classifier: hashed bag-of-n-grams logistic
# regression, full-batch gradient descent as DataFrame aggregations


@dataclass(frozen=True)
class QualityClassifier:
    """A trained quality model: a (bucket, weight) table (≤ n_buckets
    rows — broadcastable by construction), the bias, and the training
    log-loss history (one float per iteration, for monitoring)."""

    table: DataFrame  # (bucket int, weight double)
    bias: float
    n_buckets: int
    loss_history: tuple[float, ...]


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    *,
    text_col: str = "text",
    n_buckets: int = 65_536,
    n_iters: int = 20,
    lr: float = 2.0,
    l2: float = 1e-4,
) -> QualityClassifier:
    """Train the LLM-pipeline "quality classifier" (the
    fastText-style linear model of the GPT-3 / LLaMA data recipes:
    positives = a trusted corpus, negatives = raw crawl) by FULL-BATCH
    gradient descent on hashed unigram+bigram features — batch GD
    rather than SGD because a deterministic order-free gradient is
    exactly one partial-aggregated DataFrame pass, where SGD's
    sequential updates are driver-bound by definition.

    Per iteration, on a features table built ONCE and persisted
    (key, bucket, x — never text): broadcast-join the current weights,
    per-document margin by partial-agg groupBy, residual p − y, then
    the bucket gradient by a second partial-agg groupBy. Weights live
    on the driver as a dense ``n_buckets`` vector (8 B × n_buckets —
    half a MiB at the default; the explicit cap is the documented
    driver bound) and ship back each iteration as a broadcast table.
    Updates: ``w ← w − lr·(∇/n + l2·w)``, bias unregularized.
    Documents with no features are excluded from training (they carry
    no signal for a linear model); :func:`quality_scores` still scores
    them (at sigmoid(bias)).
    """
    import numpy as np

    if n_buckets <= 0 or n_iters <= 0:
        raise ValueError("n_buckets and n_iters must be positive")
    if lr <= 0 or l2 < 0:
        raise ValueError("lr must be positive, l2 non-negative")
    spark = pos.sparkSession
    labeled = (
        pos.select(F.monotonically_increasing_id().alias("_rid"),
                   F.col(text_col)).withColumn("y", F.lit(1.0))
        .unionByName(
            neg.select((F.monotonically_increasing_id()
                        + F.lit(1 << 62)).alias("_rid"),
                       F.col(text_col)).withColumn("y", F.lit(0.0)))
    )
    # materialize (rid, y, buckets) ONCE: _rid is partition-dependent,
    # so feats and labels must branch from a single evaluation — and
    # checkpointing AFTER the feature hash keeps text out of storage
    base = labeled.select(
        "_rid", "y",
        _gram_buckets(F.col(text_col), n_buckets).alias("_bs"),
    ).where(F.size("_bs") > 0).transform(pin)
    feats = (
        base.select("_rid", F.size("_bs").alias("_n"),
                    F.explode("_bs").alias("bucket"))
        .groupBy("_rid", "bucket", "_n")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("_rid", "bucket",
                (F.col("_c").cast("double") / F.col("_n")).alias("x"))
        .transform(pin)
    )
    labels = base.select("_rid", "y")
    n_docs = labels.count()
    if n_docs == 0:
        raise ValueError("no trainable documents (all inputs empty?)")

    w = np.zeros(n_buckets, dtype=np.float64)
    bias = 0.0
    history: list[float] = []
    for _ in range(n_iters):
        nz = np.nonzero(w)[0]
        wdf = spark.createDataFrame(
            [(int(i), float(w[i])) for i in nz] or [(0, 0.0)],
            "bucket int, weight double",
        )
        margins = (
            feats.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("_rid")
            .agg(F.sum(F.col("x") * F.coalesce(F.col("weight"),
                                               F.lit(0.0))).alias("m"))
            .join(labels, "_rid")
            .select(
                "_rid", "y",
                (F.lit(1.0) / (F.lit(1.0)
                               + F.exp(-(F.col("m") + F.lit(bias))))
                 ).alias("p"),
            )
            .withColumn("resid", F.col("p") - F.col("y"))
        )
        # one pass computes the loss scalar, the bias gradient, and
        # feeds the bucket gradient; margins is tiny (one row per doc).
        # Rebinding `margins` next iteration drops the only reference
        # to this checkpoint, so the ContextCleaner reclaims its blocks
        # as the loop advances (the package's pin lifecycle
        # convention — see analysis.py's CC loop); storage high-water
        # is one margins snapshot plus base/feats, not n_iters of them.
        # (Reliable pins reclaim FILES only under cleanCheckpoints=true,
        # which get_spark sets; barrier.pin warns otherwise.)
        margins = margins.transform(pin)
        agg = margins.agg(
            F.avg(-(F.col("y") * F.log(F.greatest(F.col("p"),
                                                  F.lit(1e-12)))
                    + (F.lit(1.0) - F.col("y"))
                    * F.log(F.greatest(F.lit(1.0) - F.col("p"),
                                       F.lit(1e-12))))).alias("loss"),
            F.avg("resid").alias("gb"),
        ).head()
        grad_rows = (
            feats.join(margins.select("_rid", "resid"), "_rid")
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("resid")).alias("g"))
            .collect()  # ≤ n_buckets skinny rows — the documented bound
        )
        grad = np.zeros(n_buckets, dtype=np.float64)
        for r in grad_rows:
            grad[r["bucket"]] = r["g"]
        w -= lr * (grad / n_docs + l2 * w)
        bias -= lr * float(agg["gb"])
        history.append(float(agg["loss"]))

    nz = np.nonzero(w)[0]
    table = spark.createDataFrame(
        [(int(i), float(w[i])) for i in nz] or [(0, 0.0)],
        "bucket int, weight double",
    )
    return QualityClassifier(table=table, bias=bias, n_buckets=n_buckets,
                             loss_history=tuple(history))


def quality_scores(
    df: DataFrame,
    model: QualityClassifier,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents under a trained classifier: (key_col,
    quality double — sigmoid of the linear score, rounded to 6
    decimals, higher = more positive-like; n_feats long). Same plan
    shape as :func:`perplexity_scores`: explode → broadcast weight
    join → one skinny per-document exchange; a document with no
    features scores sigmoid(bias) with ``n_feats`` 0."""
    b = (
        df.select(F.col(key_col),
                  _gram_buckets(F.col(text_col),
                                model.n_buckets).alias("_bs"))
        .select(key_col, F.size("_bs").alias("_n"),
                F.explode_outer("_bs").alias("bucket"))
    )
    # _n = 0 only on the explode_outer NULL row of a featureless doc;
    # the when-guard keeps the division ANSI-safe there
    margin = F.coalesce(
        F.sum(F.when(F.col("_n") > 0,
                     F.col("weight") / F.col("_n"))), F.lit(0.0)
    ) + F.lit(model.bias)
    return (
        b.join(F.broadcast(model.table), "bucket", "left")
        .groupBy(key_col)
        .agg(
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)),
                    6).alias("quality"),
            F.count("bucket").alias("n_feats"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: distributed word-count train, driver merge loop,
# Arrow-batched encode

_END = "</w>"  # end-of-word marker (Sennrich et al. 2016 convention)


def word_frequencies(df: DataFrame, text_col: str = "text",
                     *, min_freq: int = 1) -> DataFrame:
    """(word, freq) over lowercased whitespace tokens — the corpus-sized
    half of BPE training, a plain partial-aggregated groupBy. At 100 TB
    this table (post ``min_freq``) is what fits where the corpus does
    not; every downstream training cost is bounded by it."""
    wf = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        wf = wf.where(F.col("freq") >= min_freq)
    return wf


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]
                ) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(sym):
        if (i + 1 < len(sym) and sym[i] == pair[0]
                and sym[i + 1] == pair[1]):
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_bpe(
    df: DataFrame,
    *,
    num_merges: int = 100,
    text_col: str = "text",
    min_freq: int = 2,
    max_words: int = 100_000,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus. Two phases:

    1. distributed: :func:`word_frequencies`, capped to the top
       ``max_words`` words by (freq desc, word asc) — the only
       corpus-sized pass;
    2. driver: the classic Sennrich merge loop over that word-frequency
       dict (≤ ``max_words`` rows — an explicit, documented driver
       bound; the loop is sequential BY DEFINITION, each merge
       conditions on the last, so no distributed formulation removes
       it — real trainers run it over exactly this collapsed table).

    Tie-break at every step: highest pair count, then lexicographically
    smallest pair — total and deterministic, so two runs (or two
    engines) learn identical merge tables. Stops early when no pair
    occurs twice. Returns a DataFrame (rank int, left string,
    right string) — the tokenizer artifact, persistable like any table.
    """
    if num_merges <= 0:
        raise ValueError("num_merges must be positive")
    if max_words <= 0:
        raise ValueError("max_words must be positive")
    wf = word_frequencies(df, text_col, min_freq=min_freq)
    rows = (
        wf.orderBy(F.col("freq").desc(), F.col("word"))
        .limit(max_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["word"]) + (_END,): int(r["freq"]) for r in rows
    }
    merges = _learn_merges(vocab, num_merges)
    spark = df.sparkSession
    return spark.createDataFrame(merges, "rank int, left string, right string")


def _learn_merges(vocab: dict, num_merges: int
                  ) -> list[tuple[int, str, str]]:
    """The driver-side merge loop. Incremental Sennrich trainer: pair
    counts and a pair→words index are built once, then each merge
    touches only the words containing the merged pair — O(affected
    symbols) per step, not a full recount of every word (which at
    num_merges × max_words scale is minutes of driver time for
    identical output). Consumes ``vocab`` (mutated in place).
    Property-tested against the brute-force recount in
    tests/test_lm.py."""
    pairs: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set] = {}
    for sym, freq in vocab.items():
        for p in zip(sym, sym[1:]):
            pairs[p] = pairs.get(p, 0) + freq
            where.setdefault(p, set()).add(sym)
    merges: list[tuple[int, str, str]] = []
    for rank in range(num_merges):
        if not pairs:
            break
        # min over the full dict with a total (count desc, pair asc)
        # key — deterministic regardless of dict order
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break  # nothing repeats: further merges are noise
        pair = best[0]
        merges.append((rank, pair[0], pair[1]))
        for sym in where.pop(pair, ()):  # only words containing pair
            freq = vocab.pop(sym, None)
            if freq is None:
                continue  # already rewritten via a merge collision
            for p in zip(sym, sym[1:]):
                c = pairs[p] - freq
                if c > 0:
                    pairs[p] = c
                else:
                    del pairs[p]
                ws = where.get(p)
                if ws is not None:
                    ws.discard(sym)
                    if not ws:
                        where.pop(p, None)
            new = _merge_word(sym, pair)
            vocab[new] = vocab.get(new, 0) + freq
            for p in zip(new, new[1:]):
                pairs[p] = pairs.get(p, 0) + freq
                where.setdefault(p, set()).add(new)
    return merges


def bpe_vocab(df: DataFrame, merges: DataFrame,
              text_col: str = "text") -> DataFrame:
    """The (id int, token string) vocabulary a merge table induces over
    a corpus: base symbols first (every distinct character of the
    corpus's words plus the ``</w>`` marker, id'd in sorted order),
    then one token per merge in rank order — the standard BPE vocab
    construction, deterministic end to end. A merge product that
    collides with an earlier token (possible when two different pairs
    concatenate to the same string) keeps its first id.

    This is the analog of the reference's rec-stage keys dictionary
    (rec.rs:55-59: one token per line, id = line number);
    :func:`vocab_to_keys_bytes` serializes to exactly that format so
    the artifact round-trips through ``sparkocr.keys``."""
    spark = df.sparkSession
    chars = (
        word_frequencies(df, text_col)
        .select(F.explode(F.split("word", "")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    base = chars.unionByName(
        spark.createDataFrame([(_END,)], "token string")).distinct()
    # pin the tiny symbol table before the scalar count: base_ids below
    # re-reads it, and left lazy that means re-running the
    # word_frequencies corpus pass (and n_base could disagree with the
    # ids if the input plan were nondeterministic)
    base = pin(base)
    n_base = base.count()  # scalar: offsets the merge-product ids
    w = Window.orderBy("token")
    base_ids = base.select(
        (F.row_number().over(w) - 1).alias("id"), "token")
    merged = merges.select(
        (F.col("rank") + F.lit(n_base)).alias("id"),
        F.concat("left", "right").alias("token"),
    )
    return (
        base_ids.unionByName(merged)
        .groupBy("token")
        .agg(F.min("id").alias("id"))
        .select("id", "token")
    )


def vocab_to_keys_bytes(vocab: DataFrame) -> bytes:
    """Serialize a :func:`bpe_vocab` table to the reference's keys-file
    format — one token per line, line number = id (rec.rs:55-59) — so
    a Spark-trained tokenizer loads through
    :func:`sparkocr.keys.load_keys_bytes` like any shipped dictionary.
    Collects the vocab (bounded: base chars + num_merges rows). Ids
    must be dense from 0 — guaranteed by ``bpe_vocab`` unless merge
    products collided, in which case the gap is rejected here rather
    than silently misnumbering every later line."""
    rows = sorted((r["id"], r["token"]) for r in vocab.collect())
    for i, (vid, _) in enumerate(rows):
        if vid != i:
            raise ValueError(
                f"vocab ids are not dense at {vid} (expected {i}) — "
                "renumber before export")
    return ("\n".join(t for _, t in rows) + "\n").encode("utf-8")


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge table: adds ``out_col`` =
    ``array<string>`` of BPE tokens (word-final pieces carry ``</w>``).
    Rank-greedy like GPT-2's encoder: repeatedly merge the
    lowest-ranked adjacent pair present in the word.

    Execution: one Arrow UDF — a narrow map, no shuffle;
    the merge-rank dict rides the closure (broadcast by Spark as task
    state, bounded by ``num_merges``). Within a batch every distinct
    word is encoded once and cached — web text repeats words heavily,
    so per-batch cost is ∝ distinct words, not tokens. Per-row Python
    exists only INSIDE the Arrow batch, the same budget the extraction
    engine's mapInArrow already spends.
    """
    from pyspark.sql.types import ArrayType, StringType

    ranks = {
        (r["left"], r["right"]): int(r["rank"])
        for r in merges.collect()  # bounded by num_merges
    }
    enc = _bpe_udf(ranks, None, ArrayType(StringType()))
    return df.withColumn(out_col, enc(F.col(text_col)))


def bpe_encode_ids(
    df: DataFrame,
    merges: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_ids",
) -> DataFrame:
    """:func:`bpe_encode` with the id mapping fused in: adds
    ``out_col`` = ``array<int>`` under the :func:`bpe_vocab` table —
    the form a training pipeline actually materializes. A token absent
    from the vocab (a character never seen at train time) maps to −1,
    kept in place so offsets still align with the token stream. Same
    narrow single-UDF plan as ``bpe_encode`` — the lookup happens
    inside the batch, not as a join."""
    from pyspark.sql.types import ArrayType, IntegerType

    ranks = {
        (r["left"], r["right"]): int(r["rank"])
        for r in merges.collect()
    }
    ids = {r["token"]: int(r["id"]) for r in vocab.collect()}
    enc = _bpe_udf(ranks, ids, ArrayType(IntegerType()))
    return df.withColumn(out_col, enc(F.col(text_col)))


def _bpe_udf(ranks: dict, ids: dict | None, out_type):
    """The shared encode kernel: rank-greedy merge per word, per-batch
    word cache; with ``ids``, tokens map to vocab ids (−1 = unknown)."""
    arrow_type = to_arrow_type(out_type)
    # the same explicit whitespace class as _tokens — Python's bare
    # str.split() would also break on unicode spaces (NEL, NBSP) that
    # the Spark-side trainer does not, skewing encode vs train
    ws = re.compile(_WS_RE)

    def encode_word(word: str, cache: dict) -> list:
        hit = cache.get(word)
        if hit is not None:
            return hit
        sym = list(word) + [_END]
        while len(sym) > 1:
            ranked = [
                (ranks[p], i)
                for i, p in enumerate(zip(sym, sym[1:]))
                if p in ranks
            ]
            if not ranked:
                break
            _, i = min(ranked)
            sym[i:i + 2] = [sym[i] + sym[i + 1]]
        if ids is not None:
            sym = [ids.get(s, -1) for s in sym]
        cache[word] = sym
        return sym

    @F.arrow_udf(out_type)
    def enc(texts: pa.Array) -> pa.Array:
        cache: dict = {}
        out = []
        for t in texts.to_pylist():
            if t is None:
                out.append(None)
                continue
            toks: list = []
            for w in ws.split(t.lower()):
                if w:
                    toks.extend(encode_word(w, cache))
            out.append(toks)
        return pa.array(out, type=arrow_type)

    return enc
