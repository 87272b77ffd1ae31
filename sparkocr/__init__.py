"""sparkocr — a PySpark-native two-stage (detect→recognize) main-content
extraction engine for multi-turn conversation transcripts.

Brand-new Spark-first design whose per-turn operator semantics mirror what
ramudaderuta/rust-paddle-ocr computes (see SURVEY.md): detection finds
content regions by text/link density on a character grid, recognition
decodes each region through a CTC-style threshold cascade. All per-turn
compute runs inside vectorized Arrow UDFs and ``mapInArrow`` stages;
everything relational stays in Catalyst-optimized DataFrame ops.

Public surface map (reference analog in parens):

- single-turn core:   :func:`extract_turn` (process_ocr), Det/Rec-level
  :func:`find_text_boxes` / :func:`predict_str`
- Spark engine:       :class:`sparkocr.engine.SparkOcrEngine` — the
  OcrRequest verbs as DataFrame functions; per-row stage dispatch in
  :func:`sparkocr.fastbatch.extract_batch`
- layout parser:      :mod:`sparkocr.layout` (embedded documents)
- scale machinery:    :mod:`sparkocr.checkpoint` (resume),
  :mod:`sparkocr.streaming`, :mod:`sparkocr.sources`
- training-data ops:  :mod:`sparkocr.analysis` (dedup family, sequence
  packing, corpus mixing, decontamination), :mod:`sparkocr.ann`
  (similarity, semantic cluster dedup), :mod:`sparkocr.corpus` (the
  composed end-to-end corpus build), :mod:`sparkocr.lm` (perplexity
  scoring, DSIR resampling, BPE train/encode),
  :mod:`sparkocr.relational` (as-of / interval joins),
  :mod:`sparkocr.multimodal`
- C-ABI analog:       :mod:`sparkocr.handles` (engine handle registry,
  capi.rs parity: create/destroy/cleanup + RocrStatus codes)
"""

from .config import DEFAULT_CONFIG, FLAGSHIP_CONFIG, EngineConfig
from .detect import Box, TurnGrid, crop_box, find_text_boxes, merge_overlapping_boxes
from .keys import load_keys_bytes, load_keys_file
from .pipeline import Block, TurnResult, extract_turn, extract_turn_auto
from .recognize import (
    canonicalize,
    classify_block,
    predict_char_score,
    predict_str,
    predict_with_confidence,
)

__version__ = "0.1.0"

__all__ = [
    "DEFAULT_CONFIG",
    "FLAGSHIP_CONFIG",
    "EngineConfig",
    "Box",
    "TurnGrid",
    "crop_box",
    "find_text_boxes",
    "merge_overlapping_boxes",
    "load_keys_bytes",
    "load_keys_file",
    "Block",
    "TurnResult",
    "extract_turn",
    "extract_turn_auto",
    "canonicalize",
    "classify_block",
    "predict_char_score",
    "predict_str",
    "predict_with_confidence",
    "__version__",
]
