"""End-to-end training-corpus construction: the composed pipeline a
pretraining data team actually runs, wiring this package's individually
oracled operators in the published order (RefinedWeb/Dolma shape):

    boilerplate strip → exact-substring dedup → paragraph dedup →
    quality gate → (optional) perplexity gate → whole-document exact
    dedup → benchmark decontamination → mixture sampling → sequence
    packing

Every stage is an operator with its own oracle-gated tests; this module
owns only the composition, the stage-boundary materialization policy,
and the bookkeeping columns. See ``corpus_build_v2`` in
``__spark_entry__.py`` for the driver-gated fuzzy-dedup (Jaccard +
connected components) sibling of this pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .barrier import pin

from sparkocr.analysis import (
    c4_line_filters,
    canonicalize_text,
    dedup_paragraphs,
    dedup_substrings,
    exact_dedup_groups,
    gopher_repetition_filter,
    mix_corpus,
    ngram_contamination,
    pack_sequences,
    strip_boilerplate_lines,
    with_quality,
)
from sparkocr.lm import (_WS_RE, QualityClassifier, UnigramLM,
                         perplexity_scores, quality_scores,
                         train_unigram_lm)


def build_training_corpus(
    docs: DataFrame,
    *,
    decontamination_probes: list[str] | tuple[str, ...] = (),
    mixture_weights: dict[str, float] | None = None,
    total_tokens: int | None = None,
    seq_len: int = 2048,
    min_quality_tokens: int = 10,
    stop_ratio_band: tuple[float, float] = (0.05, 0.6),
    boiler_min_df: int = 10,
    substr_min_len: int = 50,
    ngram_n: int = 13,
    pack_shards: int = 1,
    max_ppl: float | None = None,
    ppl_lm: "UnigramLM | None" = None,
    gopher_gate: bool = False,
    gopher_thresholds: dict[str, float] | None = None,
    c4_clean: bool = False,
    canonicalize: bool = False,
    quality_model: "QualityClassifier | None" = None,
    min_quality_score: float | None = None,
    with_funnel: bool = False,
) -> dict[str, DataFrame]:
    """Run the full corpus build over ``docs`` (columns ``doc_id``,
    ``source``, ``text``) and return the named stage outputs:

    - ``documents``: the surviving cleaned documents
      (doc_id, source, text, n_tokens) — after boilerplate stripping,
      substring/paragraph/whole-doc dedup, the quality gate,
      decontamination, and (when ``mixture_weights`` is given) the
      token-budget mixture draw
    - ``packed``: fixed-budget training bins over ``documents``
      (group, shard, bin, pos, id, n_tokens, oversize)
    - ``stats``: per-source (n_docs, n_tokens) of ``documents``
    - ``funnel`` (only with ``with_funnel=True``): per-stage retention
      counts (stage_idx int, stage string, n long, unit string) in
      pipeline order — opt-in because it runs one count action per
      stage boundary

    Materialization policy: text-rewriting stages that consume their
    input more than once internally (substring dedup reads the corpus
    for the window table and again for the rewrite; paragraph dedup
    likewise) read from an eagerly pinned boundary (``barrier.pin``)
    so the upstream rewrite never executes twice. On a real cluster set
    a checkpoint dir (``sc.setCheckpointDir``) — every pin upgrades to
    a reliable, executor-loss-proof checkpoint automatically — or
    write intermediate tables; the composition is unchanged.

    Everything downstream of ``documents`` moves only
    (id, source, n_tokens) rows; document text never shuffles in the
    mixture draw or the packer."""
    if mixture_weights is not None and total_tokens is None:
        raise ValueError("total_tokens is required with mixture_weights")
    if ppl_lm is not None and max_ppl is None:
        raise ValueError(
            "ppl_lm given without max_ppl — the perplexity gate needs a "
            "threshold; pass max_ppl to enable it")
    if gopher_thresholds is not None and not gopher_gate:
        raise ValueError(
            "gopher_thresholds given without gopher_gate=True — the "
            "thresholds would be silently ignored")
    if (quality_model is None) != (min_quality_score is None):
        raise ValueError(
            "quality_model and min_quality_score go together — the "
            "classifier gate needs both the model and its threshold")
    lo_band, hi_band = stop_ratio_band
    if not (0.0 <= lo_band <= hi_band <= 1.0):
        raise ValueError(
            f"stop_ratio_band must be (lo, hi) with 0 <= lo <= hi <= 1, "
            f"got {stop_ratio_band} — a reversed band is unsatisfiable "
            "and would silently empty the corpus at the quality gate")
    missing = {"doc_id", "source", "text"} - set(docs.columns)
    if missing:
        raise ValueError(f"docs is missing columns: {sorted(missing)}")

    sources = docs.select("doc_id", "source")
    funnel: list[tuple[str, DataFrame]] = [("input", docs)]

    # 0. optional normalize-before-everything (NFC/CRLF/entities —
    # un-normalized variants would defeat every hash-keyed dedup
    # below); a pure narrow rewrite, no funnel entry since it never
    # drops a doc
    if canonicalize:
        docs = canonicalize_text(docs)

    # 1. cross-corpus boilerplate lines (hot-line anti-join)
    stripped = (
        strip_boilerplate_lines(docs, "doc_id", min_df=boiler_min_df)
        .select(F.col("doc").alias("doc_id"),
                F.col("clean_text").alias("text"))
        .transform(pin)
    )
    funnel.append(("boilerplate_strip", stripped))

    # 1b. optional C4 cleaning (Raffel et al. 2020 defaults): line-level
    # terminal-punct/word-count/banned-substring removal plus the
    # lorem-ipsum / curly-brace / <3-sentence page drops — runs on the
    # raw-ish text BEFORE dedup, as in the paper's pipeline order
    if c4_clean:
        stripped = (
            c4_line_filters(stripped, "doc_id")
            .where(~F.col("dropped"))
            .select(F.col("doc").alias("doc_id"),
                    F.col("clean_text").alias("text"))
            .transform(pin)
        )
        funnel.append(("c4_clean", stripped))
    # 2. duplicated-passage removal (ExactSubstr; reads its input twice)
    passages = (
        dedup_substrings(stripped, "doc_id", min_len=substr_min_len)
        .select(F.col("doc").alias("doc_id"),
                F.col("clean_text").alias("text"))
        .transform(pin)
    )
    funnel.append(("substr_dedup", passages))
    # 3. paragraph-level first-occurrence dedup (reads its input twice)
    paras = (
        dedup_paragraphs(passages, "doc_id")
        .select(F.col("doc").alias("doc_id"),
                F.col("clean_text").alias("text"))
    )

    # 4. quality gate
    lo, hi = stop_ratio_band
    gated = (
        with_quality(paras.join(sources, "doc_id"))
        .where((F.col("stop_ratio") >= lo) & (F.col("stop_ratio") <= hi)
               & (F.col("n_tokens") >= min_quality_tokens))
        .select("doc_id", "source", "text",
                F.col("n_tokens").cast("long").alias("n_tokens"))
        # fans out below: keeper join, contamination scan, final output
        .transform(pin)
    )
    funnel.append(("quality_gate", gated))

    # 4a. optional Gopher repetition gate (published Table A1
    # thresholds by default) — a pure narrow pass, so no extra
    # materialization boundary is needed for the filter itself.
    # Deliberately the REPETITION battery only: the pipeline's own
    # quality gate (stage 4) already bounds length/stopwords with its
    # caller-set band; compose analysis.gopher_quality_filter
    # explicitly for the paper's full document gate.
    if gopher_gate:
        keep = (
            gopher_repetition_filter(gated, "doc_id",
                                     thresholds=gopher_thresholds)
            .where("passes")
            .select(F.col("doc").alias("doc_id"))
        )
        gated = gated.join(keep, "doc_id",
                           "left_semi").transform(pin)
        funnel.append(("gopher_gate", gated))

    # 4a2. optional trained-classifier gate (the GPT-3/LLaMA recipe's
    # third filter family: a fastText-style model scored by one
    # broadcast join, gate on sigmoid score). Same fan-out boundary
    # policy as the neighbouring gates.
    if quality_model is not None:
        keep = (
            quality_scores(gated, quality_model)
            .where(F.col("quality") >= F.lit(float(min_quality_score)))
            .select("doc_id")
        )
        gated = gated.join(keep, "doc_id",
                           "left_semi").transform(pin)
        funnel.append(("classifier_gate", gated))

    # 4b. optional CCNet-style perplexity gate. Default LM: trained on
    # the gated corpus itself (self-perplexity flags the outliers); a
    # caller with a clean reference corpus passes its LM as ppl_lm.
    # Empty docs (ppl NULL) cannot pass — but the quality gate already
    # removed them.
    if max_ppl is not None:
        lm = ppl_lm if ppl_lm is not None else train_unigram_lm(gated)
        keep = (
            perplexity_scores(gated, lm)
            .where(F.col("ppl") <= F.lit(float(max_ppl)))
            .select("doc_id")
        )
        # the gated-after-gate table fans out exactly like `gated`
        # above (keeper grouping, semi join, contamination scan): without
        # this boundary the scoring join — and, for the default self-LM,
        # the LM's own token aggregation — would re-execute per consumer
        gated = gated.join(keep, "doc_id",
                           "left_semi").transform(pin)
        funnel.append(("perplexity_gate", gated))

    # 5. whole-document exact dedup (md5 digest shuffle, keeper wins)
    keepers = exact_dedup_groups(gated, "doc_id").select(
        F.col("keeper").alias("doc_id"))
    kept = gated.join(keepers, "doc_id", "left_semi")
    if with_funnel:
        # the funnel count materializes this boundary anyway; keeping
        # the checkpoint lets the next stage and the final outputs
        # reuse it instead of re-running the dedup join per consumer
        kept = kept.transform(pin)
    funnel.append(("exact_dedup", kept))

    # 6. benchmark decontamination (drop any doc sharing an n-gram
    # with a probe; over-flagging is the safe direction)
    if decontamination_probes:
        contaminated = ngram_contamination(
            kept, list(decontamination_probes), "doc_id", n=ngram_n
        ).select("doc")
        kept = kept.join(contaminated.withColumnRenamed("doc", "doc_id"),
                         "doc_id", "left_anti")
        if with_funnel:
            kept = kept.transform(pin)
        funnel.append(("decontamination", kept))

    # 7. mixture draw on (id, source, n_tokens) rows only
    if mixture_weights is not None:
        chosen = mix_corpus(kept, mixture_weights, total_tokens).select(
            "doc_id")
        kept = kept.join(chosen, "doc_id", "left_semi")
        if with_funnel:
            kept = kept.transform(pin)
        funnel.append(("mixture", kept))

    documents = kept

    # 8. sequence packing (text never enters the packer)
    packed = pack_sequences(
        documents.select("doc_id", "source", "n_tokens"),
        max_tokens=seq_len,
        n_shards=pack_shards,
    )

    stats = (
        documents.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("n_tokens"))
    )
    out = {"documents": documents, "packed": packed, "stats": stats}
    if with_funnel:
        # the retention funnel every production build reports: one
        # count per stage boundary. Every stage frame except the raw
        # input is pinned (the gates always, the tail
        # stages above when the funnel is on), so each count scans
        # materialized data; the input count scans the caller's plan
        # once — deliberately not checkpointed, it may be the raw
        # corpus
        spark = docs.sparkSession
        out["funnel"] = spark.createDataFrame(
            [(i, name, int(frame.count()), "documents")
             for i, (name, frame) in enumerate(funnel)],
            "stage_idx int, stage string, n long, unit string")
    return out


def build_sft_corpus(
    turns: DataFrame,
    *,
    budget_tokens: int = 2048,
    target_role: str = "assistant",
    dedup: bool = True,
    strict_validation: bool = False,
    decontamination_probes: list[str] | tuple[str, ...] = (),
    ngram_n: int = 13,
    with_funnel: bool = False,
) -> dict[str, DataFrame]:
    """The transcript-side sibling of :func:`build_training_corpus`:
    turn a table of multi-turn conversations (``conv_id``, ``turn_idx``,
    ``role``, ``text``) into SFT training pairs, composing this
    package's individually-tested conversation operators in pipeline
    order:

        contract validation → whole-conversation exact dedup →
        (optional) benchmark decontamination → budget-bounded context
        windows per target turn → pair assembly

    Returns the named stage outputs:

    - ``report``: the :func:`~sparkocr.analysis.validate_transcripts`
      violation counts (with ``strict_validation`` the build instead
      raises on any violation);
    - ``windows``: skinny (conv, turn, ctx_start, n_ctx_turns,
      ctx_n_tokens) rows — the scale artifact, safe to persist at any
      size;
    - ``pairs``: the materialized (context array, target) training
      pairs — the only text-carrying output;
    - ``stats``: per-role turn/token counts of the surviving
      conversations;
    - ``funnel`` (only with ``with_funnel=True``): per-stage retention
      (stage_idx, stage, n, unit) — conversations surviving each stage
      plus the final target-window count, the same schema as
      :func:`build_training_corpus`'s funnel.

    Scale shape: turn text moves exactly once (into ``pairs``);
    validation, dedup, decontamination keys, and windowing all run on
    skinny or hashed rows. The post-validation table is materialized
    once (it fans out to every stage); on a real cluster set a
    checkpoint dir so that pin becomes a reliable checkpoint, per this
    module's standing policy. Token counts are whitespace tokens
    computed in codegen; swap in a real tokenizer count column
    upstream if the training stack needs exact budget parity."""
    from sparkocr.analysis import (assemble_sft_pairs, dedup_conversations,
                                   sft_context_windows,
                                   validate_transcripts)

    missing = {"conv_id", "turn_idx", "role", "text"} - set(turns.columns)
    if missing:
        raise ValueError(f"turns is missing columns: {sorted(missing)}")
    report = validate_transcripts(turns, strict=strict_validation)

    # null text → 0 tokens, explicitly: F.size(null) would yield a NULL
    # count that downstream numpy kernels must never see
    # greatest(, 0) also covers legacy sizeOfNull=-1 configurations
    toks = F.greatest(
        F.coalesce(
            F.size(F.filter(F.split(F.col("text"), _WS_RE),
                            lambda x: x != F.lit(""))),
            F.lit(0)),
        F.lit(0))
    base = turns.select(
        "conv_id", "turn_idx", "role", "text",
        toks.cast("long").alias("n_tokens"),
    ).transform(pin)  # fans out: dedup keys, windows, pairs
    funnel: list[tuple[str, DataFrame]] = [("input", base)]

    if dedup:
        keepers = (
            dedup_conversations(base)
            .where(F.col("keep") == 1)  # keep is an int flag
            .select(F.col("conv").alias("conv_id"))
        )
        base = base.join(keepers, "conv_id", "left_semi")
        if with_funnel:
            # counting materializes it anyway — keep the checkpoint so
            # windows/pairs/stats reuse it rather than re-running the
            # dedup join
            base = base.transform(pin)
        funnel.append(("conversation_dedup", base))

    if decontamination_probes:
        # a conversation is contaminated if ANY of its turns shares an
        # n-gram with a probe; over-flagging is the safe direction
        # \x1f (unit separator) cannot appear in a sane conv_id; using
        # it keeps the turn-key split unambiguous
        hit = (
            ngram_contamination(
                base.select(
                    F.concat_ws("\x1f", "conv_id",
                                F.col("turn_idx").cast("string"))
                    .alias("doc_id"), "text"),
                list(decontamination_probes), "doc_id", n=ngram_n)
            .select(F.split(F.col("doc"), "\x1f")
                    .getItem(0).alias("conv_id"))
            .distinct()
        )
        base = base.join(hit, "conv_id", "left_anti")
        if with_funnel:
            base = base.transform(pin)
        funnel.append(("decontamination", base))

    # materialized HERE so the returned windows and the pair assembly
    # share one evaluation of the dedup/decontaminate pipeline and of
    # the window plan's two per-conversation sorts (assemble_sft_pairs
    # re-checkpoints its copy — a cheap second pass over already-
    # materialized skinny rows, not a recompute)
    windows = sft_context_windows(
        base, budget_tokens,
        target_role=target_role).transform(pin)
    pairs = assemble_sft_pairs(base, windows)
    stats = (
        base.groupBy("role")
        .agg(F.count("*").cast("long").alias("n_turns"),
             F.sum("n_tokens").cast("long").alias("n_tokens"))
    )
    out = {"report": report, "windows": windows, "pairs": pairs,
           "stats": stats}
    if with_funnel:
        # conversation retention per stage, plus the final target-turn
        # count (windows is already materialized). Opt-in: one count
        # action per stage
        spark = turns.sparkSession
        rows = [
            (i, name, int(frame.select("conv_id").distinct().count()),
             "conversations")
            for i, (name, frame) in enumerate(funnel)
        ] + [(len(funnel), "target_windows", int(windows.count()),
              "turns")]
        out["funnel"] = spark.createDataFrame(
            rows, "stage_idx int, stage string, n long, unit string")
    return out
