"""Streaming surface: incremental exactly-once extraction over an
append-only directory, and the watermarked metrics plan."""

from __future__ import annotations

from sparkocr.fixtures import turns_pandas
from sparkocr.streaming import (
    TRANSCRIPT_SCHEMA,
    extract_stream,
    quality_metrics_stream,
)


def _write_batch(spark, pdf, path):
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_extract_stream_incremental_exactly_once(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pdf = turns_pandas(seed=11, n_convs=6)
    half = len(pdf) // 2
    _write_batch(spark, pdf.iloc[:half], src)
    q = extract_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == half

    # append a second batch; a NEW availableNow query drains only it
    _write_batch(spark, pdf.iloc[half:], src)
    q2 = extract_stream(spark, src, out, ckpt)
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == len(pdf)
    assert got.select("conv_id", "turn_idx").distinct().count() == len(pdf)

    # re-running with nothing new appended is a no-op (exactly-once)
    q3 = extract_stream(spark, src, out, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(pdf)

    # streamed results match the batch engine byte-for-byte
    from sparkocr.engine import SparkOcrEngine

    batch = SparkOcrEngine(spark).extract(spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA))
    b = {(r["conv_id"], r["turn_idx"]): r["full_text"] for r in batch.collect()}
    s = {(r["conv_id"], r["turn_idx"]): r["full_text"] for r in got.collect()}
    assert b == s


def test_quality_metrics_stream_plan(spark, tmp_path):
    src = str(tmp_path / "in")
    _write_batch(spark, turns_pandas(seed=12, n_convs=3), src)
    agg = quality_metrics_stream(spark, src)
    assert agg.isStreaming
    # watermark present in the analyzed plan; complete-mode runnable
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "watermark" in plan.lower()
    q = (
        agg.writeStream.format("memory").queryName("qm")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # append mode emits only windows sealed by the watermark — with a
    # single batch nothing seals, so the table exists and is empty; the
    # point is the watermarked windowed agg plan executes on a stream
    assert spark.table("qm").columns == ["win", "n_turns", "n_blocks", "empty_rate"]


def test_dedupe_stream_exactly_once_across_batches(spark, tmp_path):
    """The stateful dedupe drops replayed turns even when the replay
    arrives in a LATER micro-batch (state outlives the batch)."""
    from sparkocr.streaming import dedupe_stream, read_transcript_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pdf = turns_pandas(seed=13, n_convs=4)

    def run_batch():
        q = (
            dedupe_stream(read_transcript_stream(spark, src))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # batch 1: first 60% of turns
    cut = int(len(pdf) * 0.6)
    _write_batch(spark, pdf.iloc[:cut], src)
    run_batch()
    assert spark.read.parquet(out).count() == cut

    # batch 2: remaining turns PLUS a full replay of batch 1 — the
    # replayed turns must be dropped by state that outlived the batch —
    # plus an in-batch duplicate of a fresh turn and a null-turn_idx row
    import pandas as pd
    fresh = pdf.iloc[cut:]
    batch2 = pd.concat([fresh, pdf.iloc[:cut], fresh.iloc[:1],
                        fresh.iloc[:1].assign(turn_idx=None)])
    batch2["turn_idx"] = batch2["turn_idx"].astype("Int32")
    _write_batch(spark, batch2, src)
    run_batch()
    got = spark.read.parquet(out)
    assert got.count() == len(pdf)
    keys = [(r["conv_id"], r["turn_idx"]) for r in got.collect()]
    assert len(set(keys)) == len(keys) == len(pdf)
    assert set(keys) == set(zip(pdf["conv_id"], pdf["turn_idx"]))
