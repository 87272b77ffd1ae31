"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The container has no image/audio codecs, so the *decode* innermost step
is stubbed two ways — a deterministic fake codec for payloads carrying
the ``FAKE`` header (used by tests/fixtures; fully reproducible), and a
clearly-marked :class:`NotImplementedError` path for real formats (gated
behind an import-try for PIL, which is absent here). Everything around
the stub is real Spark engineering and is tested: the binary+metadata
schema, Arrow transfer of bytes into ``mapInArrow`` stages, batch
shapes, per-row error capture and frame-explode plumbing.

Fake payload wire format (deterministic, versioned by the magic):
  ``FAKEIMG1`` + u16 width + u16 height + blake2b-derived pixel bytes
  ``FAKEVID1`` + u16 n_frames + u16 frame_len + frame bytes concatenated
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMG_MAGIC = b"FAKEIMG1"
VID_MAGIC = b"FAKEVID1"

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def _pixels(media_id: int, n: int) -> bytes:
    """Deterministic pseudo-pixels: blake2b counter stream keyed by id."""
    out = bytearray()
    ctr = 0
    while len(out) < n:
        out += hashlib.blake2b(f"{media_id}:{ctr}".encode(), digest_size=32).digest()
        ctr += 1
    return bytes(out[:n])


def fake_image(media_id: int, width: int, height: int) -> bytes:
    return IMG_MAGIC + struct.pack("<HH", width, height) + _pixels(media_id, width * height)


def fake_video(media_id: int, n_frames: int, frame_len: int) -> bytes:
    return (VID_MAGIC + struct.pack("<HH", n_frames, frame_len)
            + _pixels(media_id, n_frames * frame_len))


def media_rows(n: int, seed: int = 7) -> list[tuple]:
    """Deterministic test corpus: alternating images and videos with
    varied (skewed) sizes."""
    rows = []
    for i in range(n):
        w = 16 + (i * 7 + seed) % 48
        h = 16 + (i * 13 + seed) % 32
        if i % 3 == 2:
            nf = 2 + i % 6
            rows.append((i, "video", fake_video(i, nf, w * h), w, h, nf))
        else:
            rows.append((i, "image", fake_image(i, w, h), w, h, 1))
    return rows


# ---------------------------------------------------------------------------
# decode / feature extraction

FEATURE_FIELDS = [
    StructField("features", ArrayType(FloatType())),
    StructField("decode_error", StringType()),
]


def _decode_image(payload: bytes) -> np.ndarray:
    """Innermost decode. Fake codec for FAKEIMG1; real formats need PIL,
    absent in this container — the surrounding plumbing treats that
    exactly like any per-row failure."""
    if payload[:8] == IMG_MAGIC:
        w, h = struct.unpack("<HH", payload[8:12])
        px = np.frombuffer(payload[12:12 + w * h], dtype=np.uint8)
        return px.reshape(h, w).astype(np.float32)
    try:  # pragma: no cover - PIL not installed here
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload)).convert("L")
        return np.asarray(img, dtype=np.float32)
    except ImportError:
        raise NotImplementedError(
            "real image decode requires PIL (not installed); payloads "
            "must carry the FAKEIMG1 fake-codec header in this environment"
        )


def image_features(
    df: DataFrame,
    payload_col: str = "payload",
    passthrough: tuple = ("media_id", "kind", "width", "height"),
    n_bins: int = 8,
) -> DataFrame:
    """Decode + feature-extract images in one narrow ``mapInArrow``
    stage (passthrough columns go back untouched):
    per-image [mean, std, then an ``n_bins``-bin intensity histogram],
    all float32. Rows that fail to decode get a null feature vector and
    a ``decode_error`` message instead of killing the task (poison blobs
    must not fail a 100 TB job)."""
    keep = [c for c in passthrough if c in df.columns]
    src = df.select(*keep, F.col(payload_col).alias("__payload__"))
    out_schema = StructType([df.schema[c] for c in keep] + FEATURE_FIELDS)
    res_schema = to_arrow_schema(StructType(FEATURE_FIELDS))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            feats, errs = [], []
            for payload in batch.column("__payload__").to_pylist():
                if payload is None:
                    feats.append(None)
                    errs.append("null payload")
                    continue
                try:
                    px = _decode_image(payload)
                    # a header declaring width/height 0 decodes to an empty
                    # pixel array: mean/std would be NaN and hist/px.size a
                    # zero-divide — an all-NaN feature vector that poisons
                    # downstream ordering. Flag it as a decode error instead.
                    if px.size == 0:
                        raise ValueError("decoded image has zero pixels")
                    hist = np.histogram(px, bins=n_bins, range=(0, 256))[0]
                    v = np.concatenate(
                        [[px.mean(), px.std()], hist.astype(np.float32) / px.size]
                    ).astype(np.float32)
                    feats.append(v.tolist())
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 - incl. NotImplementedError
                    feats.append(None)
                    errs.append(f"{type(e).__name__}: {e}"[:200])
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [pa.array(v, type=f.type)
                   for v, f in zip((feats, errs), res_schema)],
                names=keep + res_schema.names)

    return src.mapInArrow(run, out_schema)


# ---------------------------------------------------------------------------
# video frame sampling

FRAME_SCHEMA_FIELDS = [
    StructField("frame_idx", IntegerType()),
    StructField("frame", BinaryType()),
]


def sample_frames(
    df: DataFrame,
    every_n: int = 2,
    payload_col: str = "payload",
    passthrough: tuple = ("media_id",),
) -> DataFrame:
    """Explode videos into every-Nth-frame rows (frame 0 always kept).
    One ``mapInArrow`` stage that *changes cardinality* — the table-
    generating UDF shape; each frame row's passthrough values are one
    ``take`` of the batch's columns, by the index of its video row."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    keep = [c for c in passthrough if c in df.columns]
    src = df.select(*keep, F.col(payload_col).alias("__payload__"))
    out_schema = StructType([df.schema[c] for c in keep] + FRAME_SCHEMA_FIELDS)
    res_schema = to_arrow_schema(StructType(FRAME_SCHEMA_FIELDS))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idx, fidx, fbytes = [], [], []
            for i, payload in enumerate(batch.column("__payload__").to_pylist()):
                # a blob truncated inside the 12-byte header would crash
                # struct.unpack and fail the task — skip it like any
                # other non-video payload (poison blobs must not fail a
                # 100 TB job)
                if payload is None or len(payload) < 12 \
                        or payload[:8] != VID_MAGIC:
                    continue
                n_frames, frame_len = struct.unpack("<HH", payload[8:12])
                base = 12
                # never trust the self-declared frame count: a truncated
                # blob would otherwise fabricate thousands of empty
                # frame rows with no error signal
                if frame_len > 0:
                    n_frames = min(n_frames, (len(payload) - base) // frame_len)
                else:
                    n_frames = 0
                for j in range(0, n_frames, every_n):
                    idx.append(i)
                    fidx.append(j)
                    fbytes.append(payload[base + j * frame_len: base + (j + 1) * frame_len])
            take = pa.array(idx, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(take) for c in keep]
                + [pa.array(v, type=f.type)
                   for v, f in zip((fidx, fbytes), res_schema)],
                names=keep + res_schema.names)

    return src.mapInArrow(run, out_schema)
