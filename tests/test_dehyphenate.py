"""X11 dehyphenation: hyphen-broken words merge across spans; chains
stay non-overlapping; media spans untouched."""

from __future__ import annotations

from hocr_de_noising_spark.operators.dehyphenate import dehyphenate
from hocr_de_noising_spark.sources.catalog import DOCS_DDL


def _payload(token, i):
    return f"{token};bbox 10 10 20 20;x_wconf 90;line {i};col 0"


def _doc(doc_id, tokens_and_kinds):
    spans = []
    for i, (tok, kind) in enumerate(tokens_and_kinds):
        if kind == "text":
            spans.append(("text", _payload(tok, i), None, i))
        else:
            spans.append((kind, None, f"media://{doc_id}/{i}", i))
    return (doc_id, spans)


def _tokens(row):
    return [
        s.text.split(";")[0] if s.kind == "text" else f"<{s.kind}>" for s in row.spans
    ]


def test_simple_merge(spark):
    df = spark.createDataFrame(
        [_doc("d1", [("crea-", "text"), ("ture", "text"), ("next", "text")])], DOCS_DDL
    )
    out = {r.doc_id: r for r in dehyphenate(df).collect()}
    assert _tokens(out["d1"]) == ["creature", "next"]
    assert [s.offset for s in out["d1"].spans] == [0, 1]


def test_early_modern_double_hyphen(spark):
    df = spark.createDataFrame(
        [_doc("d1", [("loue⸗", "text"), ("ly", "text")])], DOCS_DDL
    )
    out = dehyphenate(df).collect()[0]
    assert _tokens(out) == ["louely"]


def test_chain_is_pairwise_non_overlapping(spark):
    df = spark.createDataFrame(
        [_doc("d1", [("a-", "text"), ("b-", "text"), ("c", "text")])], DOCS_DDL
    )
    out = dehyphenate(df).collect()[0]
    # a- cannot merge into hyphen-ending b-; b- merges c
    assert _tokens(out) == ["a-", "bc"]


def test_media_between_spans_blocks_merge(spark):
    df = spark.createDataFrame(
        [_doc("d1", [("crea-", "text"), ("img", "image"), ("ture", "text")])], DOCS_DDL
    )
    out = dehyphenate(df).collect()[0]
    assert _tokens(out) == ["crea-", "<image>", "ture"]


def test_trailing_hyphen_at_doc_end_kept(spark):
    df = spark.createDataFrame([_doc("d1", [("crea-", "text")])], DOCS_DDL)
    out = dehyphenate(df).collect()[0]
    assert _tokens(out) == ["crea-"]


def test_merged_span_keeps_first_metadata(spark):
    df = spark.createDataFrame(
        [_doc("d1", [("crea-", "text"), ("ture", "text")])], DOCS_DDL
    )
    out = dehyphenate(df).collect()[0]
    assert out.spans[0].text == "creature;bbox 10 10 20 20;x_wconf 90;line 0;col 0"
