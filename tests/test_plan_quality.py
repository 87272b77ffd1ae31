"""Physical-plan hygiene: the properties that keep the engine fast at
100 TB must be visible in the plans, not just hoped for.

- filters reach the parquet scan (PushedFilters)
- projections prune the read schema (ReadSchema)
- the fused extract is a single narrow stage (no Exchange)
- the small dimension side of a join broadcasts
- whole-stage codegen covers the relational operators
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(tmp_path_factory):
    return "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark, sf):
    df = (
        spark.read.parquet(f"{sf}/part.parquet")
        .where(F.col("p_size") > 5)
        .select("p_partkey", "p_size")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,5)]" in plan


def test_column_pruning_reaches_scan(spark, sf):
    df = spark.read.parquet(f"{sf}/part.parquet").select("p_partkey", "p_size")
    plan = _plan(df)
    # only the 2 projected columns are read, not the full table
    assert "ReadSchema: struct<p_partkey:bigint,p_size:int>" in plan


def test_extract_is_single_narrow_stage(spark, sf):
    from sparkocr.engine import SparkOcrEngine

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        "text",
    )
    plan = _plan(SparkOcrEngine(spark).extract(docs))
    assert "Exchange" not in plan  # no shuffle anywhere in the fused map
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan
    # only conv_id/doc_id/text read from the file, and exactly one scan
    assert plan.count("FileScan") == 1


def test_small_dimension_broadcasts(spark, sf):
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_relational_ops_stay_in_codegen(spark, sf):
    df = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.avg("l_quantity").alias("avg_qty"))
        .where(F.col("avg_qty") > 10)
    )
    plan = _plan(df)
    # map-side combine: a partial_avg runs BEFORE the exchange, so the
    # shuffle moves (sum, count) pairs per key, not raw rows
    assert "partial_avg" in plan
    assert plan.index("partial_avg") > plan.index("Exchange")  # partial below exchange
    assert "BatchEvalPython" not in plan  # no accidental row-Python
    # codegen spans hide under unexecuted AQE plans; check with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df2 = (
            spark.read.parquet(f"{sf}/lineitem.parquet")
            .groupBy("l_orderkey")
            .agg(F.avg("l_quantity").alias("avg_qty"))
            .where(F.col("avg_qty") > 10)
        )
        # "*(n)" operator prefixes are the whole-stage-codegen markers in
        # the compact plan string (explain("formatted") spells them out)
        assert "*(" in _plan(df2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_no_row_at_a_time_python_udfs_in_package(spark):
    """The input_hint mandates zero per-row Python: every UDF in the
    package must be Arrow-vectorized, never
    pyspark.sql.functions.udf. Every stage crosses the boundary as
    Arrow (arrow_udf / mapInArrow / applyInArrow), never through pandas
    (pandas_udf / mapInPandas / applyInPandas, whose prefix also
    matches applyInPandasWithState)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "sparkocr"
    banned = ("F.udf(", "functions.udf(", "@udf", "pandas_udf(",
              "mapInPandas(", "applyInPandas")
    offenders = []
    for p in root.glob("*.py"):
        src = p.read_text()
        offenders += [(p.name, b) for b in banned if b in src]
    assert not offenders, offenders


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Bucketed+sorted tables co-locate join keys at WRITE time — the
    repeated-join amortization story for 100 TB fact tables: the join
    plan has no Exchange on either side."""
    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{wh}'")
    a = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS vb")
    for name, df in (("bdemo.ta", a), ("bdemo.tb", b)):
        (df.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
         .format("parquet").saveAsTable(name))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bdemo.ta").join(spark.table("bdemo.tb"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_new_text_ops_stay_in_codegen(spark, sf):
    """pii_scrub / bpe_token_count / pii counters are pure regexp
    expressions — no Python evaluation node may appear in their plans."""
    from sparkocr.analysis import pii_scrub, with_bpe_token_count

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    for df in (pii_scrub(docs), with_bpe_token_count(docs)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan


def test_repetition_ratio_map_side_combine(spark, sf):
    """The (doc, token) count must partial-aggregate before its
    exchange — shuffled volume is distinct pairs, not raw tokens."""
    from sparkocr.analysis import repetition_ratio

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(repetition_ratio(docs, "doc_id"))
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Exchange")


def test_substr_dedup_plan_shape(spark, sf):
    """ExactSubstr dedup: no cartesian/nested-loop path, no
    row-at-a-time Python, exactly ONE Arrow-batched kernel (the
    Karp-Rabin rolling window hash — fed token-hash arrays, never
    text), and document text absent from every Exchange."""
    from sparkocr.analysis import dedup_substrings

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(dedup_substrings(docs, "doc_id", min_len=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time: banned
    assert plan.count("ArrowEvalPython") == 1  # the rolling-hash kernel
    # the Arrow node's input is the token-hash array, not the text
    arrow_line = next(l for l in plan.splitlines()
                      if "ArrowEvalPython" in l)
    assert "text" not in arrow_line, f"text into Arrow: {arrow_line}"
    # text flows only from scan to the final per-row array filter — it
    # must never be a shuffle output (window rows are (doc,wpos,whash))
    for frag in plan.split("Exchange")[1:]:
        first_line = frag.split("\n", 1)[0]
        assert "text" not in first_line, f"text in shuffle: {first_line}"


def test_ngram_contamination_broadcasts_probes(spark, sf):
    from sparkocr.analysis import ngram_contamination

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(ngram_contamination(
        docs, ["alpha beta gamma delta epsilon zeta"], "doc_id", n=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time: banned
    # two window-hash generates (corpus side + probe side), each one
    # Arrow-batched rolling-hash kernel
    assert plan.count("ArrowEvalPython") == 2


def test_paragraph_dedup_and_mix_corpus_no_python_path(spark, sf):
    from sparkocr.analysis import dedup_paragraphs, mix_corpus

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p1 = _plan(dedup_paragraphs(docs, "doc_id"))
    toks = docs.select("doc_id", "source",
                       F.size(F.split("text", " ")).alias("n_tokens"))
    p2 = _plan(mix_corpus(toks, {"web": 1.0, "books": 1.0}, 10_000))
    for p in (p1, p2):
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # mix_corpus: the target table rides a broadcast, never a shuffle
    assert "BroadcastHashJoin" in p2


def test_merged_driver_queries_plan_hygiene(spark):
    """The round-4 merged driver queries compose many operators whose
    individual plans are asserted above — but composition can
    reintroduce what each piece avoids (a cartesian from a bad join
    condition, a row-at-a-time Python node from a lost Arrow hint).
    Pin the composed plans: no cartesian/nested-loop joins, no
    row-at-a-time Python anywhere, and Arrow-batched kernels capped at
    the known per-query count (gopher: the two rolling-hash window
    generates; dedup battery: those plus the ExactSubstr kernel;
    classifier scoring: one). Plan-built at sf0.001 so the model-fit
    actions inside the lm/corpus queries stay cheap."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    max_arrow = {
        "gopher_c4_documents": 2,
        "dedup_battery_documents": 3,
        "lm_ppl_documents": 0,
        "lm_model_scores_documents": 1,
        "mix_pack_documents": 0,
        "corpus_funnels": 0,
        "posexplode_bigram_documents": 0,
        "embed_topk_neardup_exact": 0,
    }
    # embed_topk_neardup_exact is the LABELED exact all-pairs oracle
    # (ann.py: brute-force cosine is the correctness baseline; the
    # scale route is the LSH bucket equi-join) — its broadcast
    # nested-loop join is the documented design, not a regression
    nlj_ok = {"embed_topk_neardup_exact"}
    qs = entry.queries()
    for name, cap in max_arrow.items():
        plan = _plan(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        if name not in nlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert plan.count("ArrowEvalPython") <= cap, (
            f"{name}: {plan.count('ArrowEvalPython')} Arrow nodes > {cap}")
