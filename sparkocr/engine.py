"""The Spark engine: the reference's public verbs (OcrRequest enum,
engine.rs:16-90) as DataFrame-returning functions.

| reference request       | verb here                | shape |
|-------------------------|--------------------------|-------|
| GetTextRects            | ``spans(df)``            | + array<box struct> |
| DetectText/GetTextImages| ``blocks(df)``           | + array<string> crops |
| RecognizeText           | ``recognize(df, col)``   | + struct(text, confidence, block_type) |
| ProcessOcr              | ``extract(df)``          | full fused pipeline |
| Shutdown                | ``spark.stop()``         | session-managed |

The reference's ``*Efficient`` requests differ only in choosing a crop
strategy by cardinality (det.rs:167-171); Catalyst/AQE plans the same
DataFrame either way, so they have no verb here. Per-row stage
dispatch is ``fastbatch._stage`` for every verb that detects, as one
detector serves them all in the reference (det.rs:121-132): the verbs
only move columns in and out of ``fastbatch.extract_batch`` (extract)
and ``fastbatch.detect_batch`` (spans, blocks).

Execution model: all per-turn compute runs in Arrow-batched Python
(zero per-row Python UDFs) with no pandas in between: ``spans``,
``blocks`` and ``recognize`` are Arrow UDFs, and the fused ``extract``
is one narrow ``mapInArrow`` stage — one job over the whole table with
NO shuffle, the columnar replacement for the reference's
one-request-per-image worker loop (engine.rs:413-437). Each verb hands
its kernel the column's ``str``/``None`` values and types its result
with ``to_arrow_type`` of the verb's Spark type.
Ordering is never implicit: use ``ordered()`` / ``with_rank()`` before
any order-sensitive sink (Catalyst does not preserve order through
exchanges)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .barrier import pin
from .config import FLAGSHIP_CONFIG, EngineConfig

# ---------------------------------------------------------------------------
# schemas

BOX_FIELDS = [
    StructField("left", IntegerType()),
    StructField("top", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("start", LongType()),
    StructField("end", LongType()),
]
BOX_STRUCT = StructType(BOX_FIELDS)

BLOCK_STRUCT = StructType(
    [
        StructField("pos", IntegerType()),
        StructField("text", StringType()),
        StructField("confidence", FloatType()),
        StructField("block_type", StringType()),
    ]
    + BOX_FIELDS
)

RECOGNIZED_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("confidence", FloatType()),
        StructField("block_type", StringType()),
    ]
)

EXTRACT_RESULT_FIELDS = [
    StructField("n_blocks", IntegerType()),
    StructField("blocks", ArrayType(BLOCK_STRUCT)),
    StructField("full_text", StringType()),
    StructField("error_code", StringType()),
    StructField("error_msg", StringType()),
]


# ---------------------------------------------------------------------------
# engine

class SparkOcrEngine:
    """Configured engine bound to a SparkSession (the OcrEngine analog;
    multiple differently-configured engines may coexist — the FFI handle
    registry analog, capi.rs:73-126)."""

    def __init__(self, spark: SparkSession, config: EngineConfig = FLAGSHIP_CONFIG):
        self.spark = spark
        self.config = config

    # -- P1: fused pipeline ------------------------------------------------

    def extract(
        self,
        df: DataFrame,
        text_col: str = "text",
        passthrough: tuple = ("conv_id", "turn_idx", "role"),
        repartition: int | None = None,
        route_documents: bool = False,
    ) -> DataFrame:
        """ProcessOcr over the whole table: one narrow ``mapInArrow``
        stage. Each Arrow batch goes to ``fastbatch.extract_batch`` and
        comes back as its result columns after the untouched
        ``passthrough`` columns.

        ``passthrough`` columns are carried alongside the results;
        ``repartition`` optionally rebalances input rows first
        (round-robin — deliberately NOT keyed on conv_id, so whale
        conversations spread across tasks; the salting story for the
        stateless map stage).
        ``route_documents`` sends tool-role turns carrying multi-page
        document payloads through the layout-region parser instead
        (requires a ``role`` column; see fastbatch.extract_batch)."""
        cfg = self.config
        keep = [c for c in passthrough if c in df.columns]
        if route_documents and "role" not in df.columns:
            raise ValueError("route_documents requires a 'role' column")
        # routing needs the role even when the caller's passthrough
        # drops it — carry it under a private name so the output schema
        # still honors `passthrough` exactly
        route_cols = (
            [F.col("role").alias("__role__")] if route_documents else []
        )
        src = df.select(*keep, *route_cols, F.col(text_col).alias("__text__"))
        if repartition:
            src = src.repartition(repartition)

        out_schema = StructType(
            [df.schema[c] for c in keep] + EXTRACT_RESULT_FIELDS
        )

        def run(batches):
            from .fastbatch import extract_batch

            for batch in batches:
                roles = (batch.column("__role__").to_pylist()
                         if route_documents else None)
                res = extract_batch(batch.column("__text__").to_pylist(),
                                    roles, cfg)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(c) for c in keep] + res.columns,
                    names=keep + res.schema.names)

        return src.mapInArrow(run, out_schema)

    # -- stage-level verbs ---------------------------------------------------

    def spans(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """GetTextRects: adds a ``boxes`` array<struct> column (detection
        only). Box order = detection order; ``posexplode`` the column to
        get (pos, box) rows."""
        cfg = self.config
        out_type = to_arrow_type(ArrayType(BOX_STRUCT))

        @F.arrow_udf(ArrayType(BOX_STRUCT))
        def detect_udf(s: pa.Array) -> pa.Array:
            from .fastbatch import detect_batch

            return pa.array(
                [[c[1:] for c in row]
                 for row in detect_batch(s.to_pylist(), cfg)],
                type=out_type)

        return df.withColumn("boxes", detect_udf(F.col(text_col)))

    def blocks(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """DetectText / GetTextImages: adds a ``crops`` array<string>
        column — the cropped (markup-blanked) block texts, detection
        order."""
        cfg = self.config
        out_type = to_arrow_type(ArrayType(StringType()))

        @F.arrow_udf(ArrayType(StringType()))
        def crops_udf(s: pa.Array) -> pa.Array:
            from .fastbatch import detect_batch

            return pa.array(
                [[c[0] for c in row]
                 for row in detect_batch(s.to_pylist(), cfg)],
                type=out_type)

        return df.withColumn("crops", crops_udf(F.col(text_col)))

    def recognize(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """RecognizeText: decode an arbitrary text column (one block per
        row — the standalone Rec path, examples/simple.rs:74-89). Adds a
        ``recognized`` struct(text, confidence, block_type) column."""
        cfg = self.config
        out_type = to_arrow_type(RECOGNIZED_STRUCT)

        @F.arrow_udf(RECOGNIZED_STRUCT)
        def rec_udf(s: pa.Array) -> pa.Array:
            from .fastbatch import recognize_batch

            cols = recognize_batch(s.to_pylist(), cfg)
            return pa.StructArray.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, out_type)],
                fields=list(out_type))

        return df.withColumn("recognized", rec_udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# ordering / reassembly helpers (the north-rule stable-order guarantee)

def with_rank(df: DataFrame, conv_col: str = "conv_id",
              turn_col: str = "turn_idx") -> DataFrame:
    """Dense global 1-based rank under (conv_id, turn_idx) order — the
    ordering invariant every comparison and ordered sink uses (the
    index-restoring reassembly analog, efficient_cropping.rs:186-202).

    Cost model (honest): one full-data shuffle (the range partition)
    PLUS an eager materialization barrier — calling this runs a Spark
    job immediately and pins the sorted dataset (checkpoint storage)
    for the lifetime of the returned plan. The barrier is what makes
    the rank deterministic: the offsets aggregate and the join's
    stream side both read the sorted subplan, and range partitioning
    samples nondeterministically — without the pin their agreement
    would depend on Spark's exchange reuse collapsing the two reads
    (an AQE replan can break stage dedup), silently corrupting ranks.
    Rank math: ``monotonically_increasing_id()`` over the pinned sort
    encodes (partition id << 33) + local row offset — narrow, zero
    extra Exchange — and only the partition-count-sized offset table
    is aggregated and broadcast back: rank = partition offset + local
    row number; ties on the full key get an arbitrary (but pinned)
    order, like the single-window form this replaces.
    Use :func:`ordered` in data paths that only need sorted output —
    it has no barrier and no storage footprint; reach for with_rank
    only when the materialized global rank itself is the product. On
    a real cluster set a checkpoint dir (``sc.setCheckpointDir``) so
    the pin survives executor loss (see ``sparkocr.barrier``)."""
    local = pin(
        ordered(df, conv_col, turn_col)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33))
        .withColumn("__lrn",
                    F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1)
    )
    # one row per partition: the offset table is partition-count-sized,
    # so the global window over it is trivially cheap
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("__pid").agg(F.count("*").alias("__n"))
        .withColumn("__off",
                    F.coalesce(F.sum("__n").over(w_off), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn("rank",
                    # long, not int: the rank must survive past 2^31
                    # rows (the north rule names 10^12 turns)
                    (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off", "__mid")
    )


def ordered(df: DataFrame, conv_col: str = "conv_id",
            turn_col: str = "turn_idx", partitions: int | None = None) -> DataFrame:
    """Range-partition + in-partition sort by (conv_id, turn_idx):
    deterministic global order for sinks WITHOUT a single-reducer
    bottleneck. Range partitioning splits whale conversations across
    tasks on turn_idx — the skew answer for ordered writes."""
    parts = [F.col(conv_col), F.col(turn_col)]
    rp = df.repartitionByRange(partitions, *parts) if partitions else df.repartitionByRange(*parts)
    return rp.sortWithinPartitions(*parts)


def explode_blocks(result: DataFrame) -> DataFrame:
    """posexplode the blocks array into one row per block, preserving
    intra-turn detection order via the block's own ``pos`` (the P2
    positional-join analog: (conv_id, turn_idx, pos) is the stable key)."""
    keep = [c for c in result.columns if c not in ("blocks",)]
    return (
        result.select(*keep, F.explode("blocks").alias("block"))
        .select(*keep, "block.*")
    )


# ---------------------------------------------------------------------------
# engine manager (P5 parity: OcrEngineManager, engine.rs:615-835)

_INSTANCE: SparkOcrEngine | None = None


def initialize(spark: SparkSession | None = None,
               config: EngineConfig = FLAGSHIP_CONFIG) -> SparkOcrEngine:
    """Initialize the module-level engine singleton."""
    global _INSTANCE
    if spark is None:
        from .session import get_spark

        spark = get_spark()
    _INSTANCE = SparkOcrEngine(spark, config)
    return _INSTANCE


def get_instance() -> SparkOcrEngine:
    if _INSTANCE is None:
        raise RuntimeError(
            "engine not initialized — call sparkocr.engine.initialize() "
            "(EngineError analog, error.rs:47-50)"
        )
    return _INSTANCE


# module-level singleton verb (the engine.rs free-function surface:
# `ocr::process_ocr(img)` delegates to the initialized manager) — raises
# the not-initialized error until initialize() has run

def process_ocr(df: DataFrame, **kw) -> DataFrame:
    return get_instance().extract(df, **kw)
