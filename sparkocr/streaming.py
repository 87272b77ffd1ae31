"""Structured Streaming surface for the extraction engine.

The reference is strictly request/response batch (engine.rs:382-475) and
the north rule's 10^12-turn job is batch-with-checkpoints — but a
transcript corpus at that scale is usually APPENDED to continuously, so
the engine verbs are also exposed over streaming DataFrames. The fused
extract (one narrow ``mapInArrow`` stage) is stateless per-row, which
makes it directly streamable: same UDF, same schema, no state store
needed. Spark's streaming checkpoint (source offsets + file-sink log)
then provides the incremental-processing half of the resumability
story: a restarted query processes exactly the files that arrived
since the last commit —
complementing ``sparkocr.checkpoint``, which makes one large batch
restartable from the middle.

Watermarked windowed aggregation is included for the quality-metrics
side-channel (late turns tolerated up to the watermark, the standard
late-data answer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .config import FLAGSHIP_CONFIG, EngineConfig
from .engine import SparkOcrEngine

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(spark: SparkSession, input_path: str,
                           fmt: str = "parquet") -> DataFrame:
    """File-source stream over an append-only transcript directory
    (schema per BASELINE input_hint; file sources need it declared)."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).format(fmt).load(input_path)


def extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    config: EngineConfig = FLAGSHIP_CONFIG,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream → fused extract → parquet writeStream.

    ``available_now=True`` (default) drains everything currently in the
    source then stops — the incremental-batch trigger: run it from cron
    and each invocation processes exactly the new files, exactly once
    (offsets live in the streaming checkpoint). ``False`` runs
    continuously with the default micro-batch trigger."""
    eng = SparkOcrEngine(spark, config)
    out = eng.extract(read_transcript_stream(spark, input_path))
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedupe_stream(src: DataFrame) -> DataFrame:
    """Custom stateful operator: exactly-once turn dedupe across
    micro-batches via ``applyInPandasWithState``.

    An at-least-once upstream (replayed kafka offsets, re-dropped files)
    can deliver the same (conv_id, turn_idx) twice, possibly in
    different micro-batches — beyond ``dropDuplicates``' power without a
    watermark-bounded buffer. State per conv_id is the set of turn_idx
    already emitted (a per-conversation bitmap at scale); a turn passes
    through iff its index is unseen. First-writer-wins, deterministic.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = TRANSCRIPT_SCHEMA
    state_schema = StructType([StructField("seen", StringType())])

    def dedupe(key, pdfs, state: GroupState):
        seen = set()
        if state.exists:
            (seen_csv,) = state.get
            if seen_csv:
                seen = set(int(x) for x in seen_csv.split(","))
        frames = []
        for pdf in pdfs:
            # poison-row policy: a null turn_idx (NaN after Arrow->pandas)
            # has no dedupe identity and must not kill the query — drop it
            pdf = pdf[pdf["turn_idx"].notna()]
            fresh = pdf[~pdf["turn_idx"].isin(seen)]
            # dedupe within the batch too, keeping first occurrence
            fresh = fresh[~fresh["turn_idx"].duplicated()]
            seen.update(int(t) for t in fresh["turn_idx"])
            frames.append(fresh)
        # NOTE on state shape: a CSV int-set is fine for conversation-
        # sized groups; at 10^12 turns swap for a range-compressed
        # bitmap (turn_idx is dense per conv) and a ProcessingTime
        # timeout to expire finished conversations.
        state.update((",".join(str(t) for t in seen),))
        out = pd.concat(frames) if frames else pd.DataFrame()
        if len(out):
            yield out

    return src.groupBy("conv_id").applyInPandasWithState(
        dedupe, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def quality_metrics_stream(
    spark: SparkSession,
    input_path: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    config: EngineConfig = FLAGSHIP_CONFIG,
) -> DataFrame:
    """Watermarked per-window extraction-quality metrics (blocks/turn,
    empty rate) — the streaming twin of the checkpoint ledger metrics.
    Late turns within the watermark update their window; later ones are
    dropped (documented late-data policy)."""
    eng = SparkOcrEngine(spark, config)
    src = read_transcript_stream(spark, input_path)
    out = eng.extract(src, passthrough=("conv_id", "turn_idx", "role", "ts"))
    return (
        out.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_blocks").alias("n_blocks"),
            F.avg(F.when(F.col("n_blocks") == 0, 1.0).otherwise(0.0))
            .alias("empty_rate"),
        )
    )
