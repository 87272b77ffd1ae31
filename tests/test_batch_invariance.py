"""Arrow batch-boundary invariance: every pandas/Arrow kernel in the
package is designed batch-local (the rolling window hash's flat cumsum,
the Gopher battery's per-doc Counters, bpe_encode's per-batch word
cache, the extraction engine's mapInArrow) — so shrinking
``spark.sql.execution.arrow.maxRecordsPerBatch`` to a handful of rows
must change NOTHING in any output. A cross-batch state leak or a
flat-array stitching bug shows up immediately at batch size 3."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def tiny_batches(spark):
    old = spark.conf.get(BATCH_KEY, None)
    yield
    if old is None:
        spark.conf.unset(BATCH_KEY)
    else:
        spark.conf.set(BATCH_KEY, old)


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _run_at(spark, batch_size, build):
    # restoration is the tiny_batches fixture's job — a second restore
    # path here would leak a wrong value into the session for tests
    # that forget the fixture
    spark.conf.set(BATCH_KEY, str(batch_size))
    return _collect_sorted(build())


def test_window_hashes_batch_invariant(spark, tiny_batches):
    from sparkocr.analysis import _window_hashes

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def build():
        return _window_hashes(docs, "doc_id", "text", 12)

    assert _run_at(spark, 3, build) == _run_at(spark, 10000, build)


def test_substr_dedup_batch_invariant(spark, tiny_batches):
    from sparkocr.analysis import dedup_substrings

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)

    def build():
        return dedup_substrings(docs, "doc_id", min_len=10)

    assert _run_at(spark, 2, build) == _run_at(spark, 10000, build)


def test_gopher_battery_batch_invariant(spark, tiny_batches):
    from sparkocr.analysis import gopher_repetition_signals

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(150)

    def build():
        return gopher_repetition_signals(docs, "doc_id")

    assert _run_at(spark, 1, build) == _run_at(spark, 10000, build)


def test_bpe_encode_batch_invariant(spark, tiny_batches):
    from sparkocr.lm import bpe_encode, train_bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    merges = train_bpe(docs, num_merges=30, max_words=2000)

    def build():
        return bpe_encode(docs, merges).select(
            "doc_id", F.col("bpe_tokens").cast("string"))

    assert _run_at(spark, 2, build) == _run_at(spark, 10000, build)


def test_engine_extract_batch_invariant(spark, tiny_batches):
    from sparkocr.engine import SparkOcrEngine
    from sparkocr.fixtures import turns_pandas

    df = spark.createDataFrame(turns_pandas(seed=11, n_convs=4))
    eng = SparkOcrEngine(spark)

    def build():
        return eng.extract(df).select("conv_id", "turn_idx", "full_text")

    assert _run_at(spark, 4, build) == _run_at(spark, 10000, build)


def test_sft_windows_whale_conversation(spark):
    """The searchsorted kernel's O(n log n) per-conversation claim,
    exercised: one 60k-turn whale conversation windows in seconds, and
    spot positions match the definition."""
    import time

    from sparkocr.analysis import sft_context_windows

    n = 60_000
    turns = spark.range(n).select(
        F.lit("whale").alias("conv_id"),
        F.col("id").alias("turn_idx"),
        F.when(F.col("id") % 2 == 1, "assistant").otherwise("user")
        .alias("role"),
        F.lit("x").alias("text"),
        (F.col("id") % 7 + 1).alias("n_tokens"),
    )
    t = time.time()
    out = sft_context_windows(turns, 100).collect()
    wall = time.time() - t
    assert len(out) == n // 2
    assert wall < 60, f"whale conversation took {wall:.1f}s"
    # spot-check one window against the definition: tokens of
    # ctx_start..turn-1 fit 100, and extending one turn earlier breaks
    toks = [(i % 7) + 1 for i in range(n)]
    pre = [0]
    for x in toks:
        pre.append(pre[-1] + x)
    by_turn = {r["turn"]: r for r in out}
    for t_idx in (1, 999, 35_001, n - 1):
        r = by_turn[t_idx]
        s = r["ctx_start"]
        assert pre[t_idx] - pre[s] <= 100
        if s > 0:
            assert pre[t_idx] - pre[s - 1] > 100
        assert r["ctx_n_tokens"] == pre[t_idx] - pre[s]
