"""P1 — the fused per-turn pipeline: detect → crop → recognize → assemble.

Analog of ``OcrEngine::process_ocr`` (engine.rs:413-437): stage-1 boxes in
discovery order, then per-box recognition in that same order (the ordering
invariant), assembled into a blocks array plus a joined ``full_text``
(text-mode sink analog, main.rs:199-208).

Error semantics deviate deliberately: the reference aborts a whole image
on the first region error; at 10^12-turn scale a poison turn must not kill
a task, so errors are captured per-turn into an error struct (codes from
the reference's OcrError taxonomy, error.rs:8-69).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .config import DEFAULT_CONFIG, EngineConfig
from .detect import TurnGrid, crop_box, find_text_boxes
from .recognize import classify_block, recognize_crop


@dataclass(frozen=True)
class Block:
    pos: int
    text: str
    confidence: float
    block_type: str
    left: int
    top: int
    width: int
    height: int
    start: int  # char offset span into the original turn text, half-open
    end: int


@dataclass(frozen=True)
class TurnResult:
    blocks: list[Block] = field(default_factory=list)
    full_text: str = ""
    error_code: str | None = None
    error_msg: str | None = None


# OcrError taxonomy mapping (error.rs:8-69, 12 variants). Only the two
# below can occur per-row here; the rest dissolve into Spark's own
# failure domains and are listed for parity:
#   Io/Image          → source read failures = task retry (scheduler)
#   Mnn/Shape/Resize  → model-runtime errors; our deterministic "model"
#                       cannot fail these ways (no tensor runtime)
#   Output/Json       → sink-side; Spark writers raise at the action
#   Engine/Thread     → worker lifecycle = executor loss + task retry
#   Arg               → config validation at engine construction
ERR_INPUT = "InputError"          # null/absent text (error.rs: InputError)
ERR_INFERENCE = "InferenceError"  # any per-turn processing exception


def extract_turn_auto(
    text: str | None,
    role: str | None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> TurnResult:
    """Route one turn by payload kind: tool-role turns carrying a
    multi-page document payload (form-feed page separators — the
    pdftotext convention) go through the layout-region parser, with
    headers/footers/page numbers stripped and body/table regions decoded
    through the same recognize stage; everything else takes the standard
    detect→recognize path. Geometry for document blocks is
    page-granular: top = page_no·LINE_HEIGHT, span = global offsets."""
    if text is None:
        return TurnResult(error_code=ERR_INPUT, error_msg="null text")
    if role != "tool" or "\f" not in text:
        return extract_turn(text, config)
    from .config import LINE_HEIGHT
    from .layout import parse_document

    try:
        blocks: list[Block] = []
        for r in parse_document(text, config):
            if r.region_type not in ("body", "table"):
                continue
            decoded, conf, _ = recognize_crop(r.text, config)
            blocks.append(
                Block(
                    pos=len(blocks),
                    text=decoded,
                    confidence=conf,
                    block_type=r.region_type,
                    left=0,
                    top=r.page * LINE_HEIGHT,
                    width=r.end - r.start,
                    height=LINE_HEIGHT,
                    start=r.start,
                    end=r.end,
                )
            )
        return TurnResult(blocks=blocks,
                          full_text="\n".join(b.text for b in blocks))
    except Exception as e:  # pragma: no cover - defensive at scale
        return TurnResult(error_code=ERR_INFERENCE, error_msg=str(e)[:500])


def extract_turn(text: str | None, config: EngineConfig = DEFAULT_CONFIG) -> TurnResult:
    """Extract all content blocks from one turn's text."""
    if text is None:
        return TurnResult(error_code=ERR_INPUT, error_msg="null text")
    try:
        grid = TurnGrid(text)
        boxes = find_text_boxes(grid, config)
        blocks: list[Block] = []
        for pos, box in enumerate(boxes):
            crop, start, end = crop_box(grid, box)
            decoded, conf, canon = recognize_crop(crop, config)
            blocks.append(
                Block(
                    pos=pos,
                    text=decoded,
                    confidence=conf,
                    block_type=classify_block(canon),
                    left=box.left,
                    top=box.top,
                    width=box.width,
                    height=box.height,
                    start=start,
                    end=end,
                )
            )
        full_text = "\n".join(b.text for b in blocks)
        return TurnResult(blocks=blocks, full_text=full_text)
    except Exception as e:  # pragma: no cover - defensive at scale
        return TurnResult(error_code=ERR_INFERENCE, error_msg=str(e)[:500])
