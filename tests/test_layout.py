"""Layout-region parsing: page split, region classification, global
offsets, and the Spark plumbing."""

from __future__ import annotations

from sparkocr.layout import (
    PAGE_SEP,
    assemble_documents,
    parse_document,
    parse_layout,
)

PAGE1 = "ACME Quarterly Report\n\nRevenue grew fifteen percent across all regions this quarter.\n\ncol_a | col_b | col_c\n12 | 34 | 56\n78 | 90 | 11\n\n1"
PAGE2 = "ACME Quarterly Report\n\nOperating expenses held steady while margins improved again.\n\n2"
PAGE3 = "ACME Quarterly Report\n\nOutlook remains positive for the coming fiscal year overall.\n\n3"
DOC = PAGE_SEP.join([PAGE1, PAGE2, PAGE3])


def test_parse_document_classifies_regions():
    regions = parse_document(DOC)
    by_type = {}
    for r in regions:
        by_type.setdefault(r.region_type, []).append(r)
    # running head on all 3 pages
    assert len(by_type["header"]) == 3
    assert all(r.text.strip() == "ACME Quarterly Report" for r in by_type["header"])
    # trailing bare integers are page numbers
    assert [r.text.strip() for r in by_type["page_number"]] == ["1", "2", "3"]
    # the pipe-delimited block is a table
    assert len(by_type["table"]) == 1 and "col_a" in by_type["table"][0].text
    # body prose on each page
    assert len(by_type["body"]) == 3


def test_global_offsets_slice_the_payload():
    for r in parse_document(DOC):
        assert DOC[r.start:r.end].strip() == r.text.strip()
        # region must lie inside its page
        assert PAGE_SEP not in DOC[r.start:r.end]


def test_parse_document_edge_cases():
    assert parse_document(None) == []
    assert parse_document("") == []
    one = parse_document("just one short page of plain prose here")
    assert len(one) == 1 and one[0].region_type == "body"
    # single page: no repeat evidence → no header/footer classification
    assert all(r.region_type != "header" for r in one)


def test_parse_layout_spark(spark):
    df = spark.createDataFrame(
        [("c1", 0, "tool", DOC), ("c1", 1, "user", "plain turn, no pages")],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = parse_layout(df).orderBy("turn_idx").collect()
    assert out[0]["n_pages"] == 3
    assert out[0]["n_regions"] == len(parse_document(DOC))
    assert "Revenue grew" in out[0]["body_text"]
    assert "ACME Quarterly" not in out[0]["body_text"]  # header stripped
    assert "col_a" in out[0]["body_text"]               # tables kept
    assert out[1]["n_pages"] == 1
    # plan shape: single mapInArrow over the scan, no shuffle
    plan = parse_layout(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_parse_batch_equals_one_at_a_time():
    """Batch invariance of the layout parser: parsing N payloads through
    one shared detection pass must equal parsing each alone — pins the
    ``slices`` index bookkeeping in ``parse_documents_batch`` (grids of
    all docs' pages are concatenated; a slip would hand one document
    another's boxes) with None/empty payloads interleaved.

    Sustained sweep (2026-08-20, round-4 final HEAD): the same
    differential extended to 5,000 randomized payloads including a
    hostile tail (bare \\f runs, markup-heavy pages, 3k-char lines,
    200-line pages, decorated page numbers) — 0 divergences."""
    import random

    from sparkocr.layout import parse_documents_batch

    rng = random.Random(42)
    words = ("revenue margin outlook fiscal steady quarter region "
             "growth report total").split()

    def page(with_head, pno):
        lines = []
        if with_head:
            lines.append("ACME Quarterly Report")
        lines.append("")
        lines.append(" ".join(rng.choice(words)
                              for _ in range(rng.randint(6, 14))) + ".")
        if rng.random() < 0.3:
            lines += ["a | b | c", "1 | 2 | 3"]
        lines += ["", str(pno)]
        return "\n".join(lines)

    payloads = []
    for _ in range(40):
        roll = rng.random()
        if roll < 0.1:
            payloads.append(None)
        elif roll < 0.2:
            payloads.append("")
        else:
            with_head = rng.random() < 0.7
            payloads.append(PAGE_SEP.join(
                page(with_head, p + 1)
                for p in range(rng.randint(1, 4))))

    batched = parse_documents_batch(payloads)
    single = [parse_documents_batch([t])[0] for t in payloads]
    assert batched == single


def test_assemble_documents_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"page text {i}") for i in range(9)], "doc_id long, text string"
    )
    rows = {r["pdoc_id"]: r for r in assemble_documents(docs).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["payload"] == PAGE_SEP.join(["page text 0", "page text 1", "page text 2"])
    assert rows[1]["n_pages_expected"] == 3


def test_assemble_documents_negative_ids_floor(spark):
    """The grouping is FLOOR division (−1..−3 → group −1), not a
    truncate-toward-zero cast (which would lump −2..2 together) — the
    exact hazard the implementation comment calls out."""
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(-3, 3)], "doc_id long, text string"
    )
    rows = {r["pdoc_id"]: r for r in assemble_documents(docs).collect()}
    assert set(rows) == {-1, 0}
    assert rows[-1]["payload"] == PAGE_SEP.join(["t-3", "t-2", "t-1"])
    assert rows[0]["payload"] == PAGE_SEP.join(["t0", "t1", "t2"])
