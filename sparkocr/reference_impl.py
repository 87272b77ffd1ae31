"""The single-node oracle extractor (SURVEY.md §7 step 1).

Pure Python + numpy, no Spark. This module DEFINES correctness: the Spark
engine (sparkocr.engine) must reproduce its per-turn output byte-for-byte
under window-ranked (conv_id, turn_idx) ordering. Golden fixtures under
tests/fixtures/ are generated by this implementation once and committed
(the analog of /root/reference/res/{1..4}_ocr_result.png).
"""

from __future__ import annotations

from .config import DEFAULT_CONFIG, EngineConfig
from .pipeline import extract_turn


def extract_turns(
    turns: list[tuple[str, int, str]],
    config: EngineConfig = DEFAULT_CONFIG,
) -> list[dict]:
    """Oracle over a list of (conv_id, turn_idx, text) turns. Output rows
    are sorted by (conv_id, turn_idx) — the stable ordering the north rule
    demands — regardless of input order."""
    rows = []
    for conv_id, turn_idx, text in sorted(turns, key=lambda t: (t[0], t[1])):
        r = extract_turn(text, config)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "n_blocks": len(r.blocks),
                "blocks": [b.__dict__ | {} for b in r.blocks],
                "full_text": r.full_text,
                "error_code": r.error_code,
            }
        )
    return rows
