"""Layout-region parsing for embedded documents (north-rule addition).

The reference has no PDF path — image OCR *is* its document parser; the
analog here is a page/region parser for document payloads embedded in
tool-role turns (a tool that fetched a PDF/report dumps its text form
into the transcript). The north rule requires "PDF/layout-region parsing
for embedded documents" — real PDF byte decoding needs libs absent from
this container, so the **payload format is the extracted text form**:
pages separated by form-feed (``\\f``, the convention used by pdftotext
and friends), lines within pages. Everything downstream of that framing
— page splitting, region detection, region classification, offset
bookkeeping, the Spark plumbing — is real and tested.

Per page, region detection reuses the stage-1 detector (the same
text/link-density boxes as turns — one detect implementation, two
callers, exactly like det.rs serving both the CLI and the engine), then
regions are classified by layout heuristics:

- ``header`` / ``footer``: a page's first/last detected block whose text
  repeats on most pages (≥ half, min 2) — running heads;
- ``page_number``: a block that is just a (possibly decorated) integer;
- ``table``: delimiter-dense block (pipe/tab columns);
- ``body``: everything else.

Spans are **global character offsets into the original payload** (page
starts accumulate page lengths + 1 for each separator), so callers can
slice the raw payload without re-parsing — the same half-open-offset
contract as extraction spans.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .config import DEFAULT_CONFIG, EngineConfig
from .detect import TurnGrid, crop_box, find_text_boxes_batch

PAGE_SEP = "\f"

_PAGE_NUMBER_RE = re.compile(r"^\W{0,4}\d{1,5}\W{0,4}$")


@dataclass(frozen=True)
class Region:
    page: int
    pos: int           # region rank within the page, detection order
    region_type: str   # header | footer | page_number | table | body
    text: str
    start: int         # global half-open char span into the payload
    end: int


def _is_tableish(text: str) -> bool:
    lines = [l for l in text.split("\n") if l.strip()]
    if not lines:
        return False
    delim = sum(1 for l in lines if l.count("|") >= 2 or l.count("\t") >= 2)
    return delim * 2 >= len(lines)


def parse_document(text: str | None,
                   config: EngineConfig = DEFAULT_CONFIG) -> list[Region]:
    """Parse one embedded-document payload into classified layout
    regions. Deterministic, pure; thin wrapper over the batched
    implementation so there is exactly ONE parser."""
    return parse_documents_batch([text], config)[0]


def parse_documents_batch(
    texts, config: EngineConfig = DEFAULT_CONFIG
) -> list[list[Region]]:
    """``parse_document`` over many payloads: ALL pages of ALL documents
    are the rows of ONE batch grid (one character stream, its masks and
    line table built once), detected by ``detect.find_text_boxes_batch``
    in one vectorized pass and cropped by ``crop_box`` from the same
    stream (the head/foot counters and classification are per-doc
    logic). The single-payload ``parse_document`` delegates here, so
    the existing golden/oracle suites pin this implementation
    directly."""
    pages_per_doc: list[list[str] | None] = []
    all_pages: list[str] = []
    for text in texts:
        if not text:
            pages_per_doc.append(None)
            continue
        pages = text.split(PAGE_SEP)
        pages_per_doc.append(pages)
        all_pages.extend(pages)
    grid = TurnGrid(all_pages)
    boxes_all = find_text_boxes_batch(grid, config)
    out: list[list[Region]] = []
    row0 = 0
    for pages in pages_per_doc:
        if pages is None:
            out.append([])
            continue
        out.append(_classify_document(pages, grid, row0,
                                      boxes_all[row0:row0 + len(pages)]))
        row0 += len(pages)
    return out


def _classify_document(pages, grid, row0, page_boxes) -> list[Region]:
    """Passes 1-3 of the document parser for one payload, given each
    page's already-detected boxes; page ``k`` is row ``row0 + k`` of the
    batch grid (classification itself is config-independent — the
    config acts only through detection)."""
    # pass 1: crop regions per page (global offsets via page_base).
    # Page-number lines are shorter than the detector's MIN_BOX_SIZE
    # noise filter (det.rs:37 semantics — a bare "3" is noise to the
    # density detector), so the trailing raw line of each page is checked
    # for the page-number shape separately and appended as its own region.
    per_page: list[list[tuple[str, int, int]]] = []
    page_numbers: list[tuple[int, str, int, int] | None] = []
    page_base = 0
    for page_no, page_text in enumerate(pages):
        rows = []
        for b in page_boxes[page_no]:
            crop, start, end = crop_box(grid, b, row0 + page_no)
            rows.append((crop, page_base + start, page_base + end))
        pn = None
        tail = page_text.rstrip("\n")
        last_nl = tail.rfind("\n")
        last_line = tail[last_nl + 1:]
        if _PAGE_NUMBER_RE.match(last_line.strip()):
            s = page_base + last_nl + 1
            pn = (page_no, last_line, s, s + len(last_line))
        page_numbers.append(pn)
        per_page.append(rows)
        page_base += len(page_text) + 1  # +1 for the \f separator

    # pass 2: running-head detection — first/last block text repeated on
    # at least half the pages (and ≥2 of them)
    firsts = Counter(p[0][0].strip() for p in per_page if p)
    lasts = Counter(p[-1][0].strip() for p in per_page if p)
    n_pages = max(len(pages), 1)
    repeat_min = max(2, (n_pages + 1) // 2)
    head_texts = {t for t, c in firsts.items() if c >= repeat_min}
    foot_texts = {t for t, c in lasts.items() if c >= repeat_min}

    out: list[Region] = []
    for page_no, rows in enumerate(per_page):
        pos = 0
        for pos, (crop, start, end) in enumerate(rows):
            stripped = crop.strip()
            if _PAGE_NUMBER_RE.match(stripped):
                rtype = "page_number"
            elif pos == 0 and stripped in head_texts:
                rtype = "header"
            elif pos == len(rows) - 1 and stripped in foot_texts:
                rtype = "footer"
            elif _is_tableish(crop):
                rtype = "table"
            else:
                rtype = "body"
            out.append(Region(page_no, pos, rtype, crop, start, end))
        pn = page_numbers[page_no]
        if pn is not None:
            _, line, s, e = pn
            # skip when the detector already surfaced this line as a
            # region (wide decorated page numbers like "--- 42 ---" pass
            # the min-width filter and are classified above) — emitting
            # the tail check too would duplicate the region
            covered = any(rs < e and s < re_ for _, rs, re_ in rows)
            if not covered:
                out.append(Region(page_no, (pos + 1) if rows else 0,
                                  "page_number", line, s, e))
    return out


REGION_STRUCT = StructType(
    [
        StructField("page", IntegerType()),
        StructField("pos", IntegerType()),
        StructField("region_type", StringType()),
        StructField("text", StringType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
    ]
)

PARSE_RESULT_FIELDS = [
    StructField("n_pages", IntegerType()),
    StructField("n_regions", IntegerType()),
    StructField("regions", ArrayType(REGION_STRUCT)),
    StructField("body_text", StringType()),
]


def parse_layout(
    df: DataFrame,
    text_col: str = "text",
    passthrough: tuple = ("conv_id", "turn_idx", "role"),
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Vectorized layout parse over a DataFrame of document payloads:
    one narrow ``mapInArrow`` stage (no shuffle, and the passthrough
    columns go back untouched, like ``SparkOcrEngine.extract``). Adds
    per-row page/region counts, the classified region array, and
    ``body_text`` — body+table regions joined in reading order
    (headers/footers/page numbers stripped, the document-level
    boilerplate removal)."""
    keep = [c for c in passthrough if c in df.columns]
    src = df.select(*keep, F.col(text_col).alias("__text__"))
    out_schema = StructType([df.schema[c] for c in keep] + PARSE_RESULT_FIELDS)
    res_schema = to_arrow_schema(StructType(PARSE_RESULT_FIELDS))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = batch.column("__text__").to_pylist()
            # every page of every payload in the Arrow batch shares one
            # vectorized detection pass
            all_regions = parse_documents_batch(texts, config)
            res = [
                [len(t.split(PAGE_SEP)) if t else 0 for t in texts],
                [len(regions) for regions in all_regions],
                [[r.__dict__ for r in regions] for regions in all_regions],
                ["\n".join(r.text for r in regions
                           if r.region_type in ("body", "table"))
                 for regions in all_regions],
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [pa.array(v, type=f.type) for v, f in zip(res, res_schema)],
                names=keep + res_schema.names)

    return src.mapInArrow(run, out_schema)


def assemble_documents(
    df: DataFrame,
    group_col: str = "doc_id",
    text_col: str = "text",
    pages_per_doc: int = 3,
) -> DataFrame:
    """Deterministically assemble multi-page pseudo-documents from a text
    table: every ``pages_per_doc`` consecutive rows (by ``group_col``)
    become one payload joined with the page separator. Used by tests and
    the driver queries to manufacture document payloads from testdata
    without external inputs. Order inside each payload is pinned by
    array_sort over (key, text) structs — collect_list alone is
    shuffle-order-dependent."""
    # floor division, not float-divide-then-cast: casting truncates
    # toward zero for negative ids and loses precision above 2^53
    grp = F.floor(F.col(group_col) / pages_per_doc).cast("long").alias("pdoc_id")
    return (
        df.select(grp, F.col(group_col).alias("k"), F.col(text_col).alias("t"))
        .groupBy("pdoc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "t"))),
                    lambda x: x["t"],
                ),
                PAGE_SEP,
            ).alias("payload"),
            F.count("*").cast("int").alias("n_pages_expected"),
        )
    )
