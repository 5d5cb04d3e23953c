"""PDF/layout parse (north-rule clause): fake-container round-trip,
malformed tolerance, and the two-column reading-order heuristic."""

from __future__ import annotations

from hocr_de_noising_spark.operators.pdf_layout import (
    blocks_reading_order,
    encode_fake_pdf,
    parse_pdf_layout,
)


def _two_col_doc():
    # page 0: two columns — left col (x~100) rows A1,A2; right col
    # (x~700) rows B1,B2, interleaved by y so naive y-sort fails
    page0 = [
        ((80, 100, 480, 140), "A1"),
        ((620, 110, 1080, 150), "B1"),
        ((80, 300, 480, 340), "A2"),
        ((620, 320, 1080, 360), "B2"),
    ]
    page1 = [((80, 50, 1080, 90), "C1")]
    return encode_fake_pdf("d1", [page0, page1])


def test_pdf_roundtrip_and_malformed(spark):
    rows = [
        ("d1", _two_col_doc()),
        ("bad", b"NOTAPDF at all"),
        ("null", None),
        ("trunc", _two_col_doc()[:9]),
    ]
    df = spark.createDataFrame(rows, "doc_ref string, content binary")
    out = parse_pdf_layout(df).collect()
    ok = [r for r in out if r.parse_ok]
    bad = {r.doc_ref for r in out if not r.parse_ok}
    assert {r.text for r in ok} == {"A1", "A2", "B1", "B2", "C1"}
    assert all(r.doc_ref == "d1" for r in ok)
    # every corrupt doc is countable as exactly one parse_ok=false row
    assert bad == {"bad", "null", "trunc"}
    assert len(out) == 5 + 3


def test_pdf_reading_order_two_columns(spark):
    df = spark.createDataFrame(
        [("d1", _two_col_doc())], "doc_ref string, content binary"
    )
    ordered = (
        blocks_reading_order(parse_pdf_layout(df))
        .orderBy("read_order")
        .select("text")
        .collect()
    )
    # column-aware: left column fully before right column, then page 1
    assert [r.text for r in ordered] == ["A1", "A2", "B1", "B2", "C1"]
