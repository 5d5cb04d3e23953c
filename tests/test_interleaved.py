"""Interleaved media-caption pairing + multimodal gate: handcrafted
edge-case docs in the north-rule shape, the real span fixture, and the
plan shape (one bounded-frame window exchange, zero Python)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.interleaved import (
    CAPTION_K,
    CAPTION_WINDOW,
    caption_pairs,
    media_text_stats,
)
from hocr_de_noising_spark.sources.catalog import DOCS_STRUCT


def _t(text, off):
    return ("text", text, None, off)


def _m(ref, off, kind="image"):
    return (kind, None, ref, off)


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        # media mid-doc: caption = 3 following text spans
        ("mid", [_t("a", 0), _m("m1", 1), _t("b", 2), _t("c", 3),
                 _t("d", 4), _t("e", 5)]),
        # media at doc START: no preceding text at all
        ("head", [_m("m2", 0), _t("x", 1), _t("y", 2)]),
        # media at doc END: 'before' fallback
        ("tail", [_t("p", 0), _t("q", 1), _t("r", 2), _t("s", 3),
                  _m("m3", 4)]),
        # consecutive media: both skip each other (kind!='text'),
        # second one reaches past the first for its 'after' caption
        ("twin", [_t("u", 0), _m("m4", 1), _m("m5", 2), _t("v", 3),
                  _t("w", 4)]),
        # media-only doc: caption_src = 'none', caption = ''
        ("lone", [_m("m6", 0, "figure")]),
        # media whose only text is OUTSIDE the +/-CAPTION_WINDOW
        ("far", [_t("far0", 0)]
                + [_m(f"pad{i}", i) for i in range(1, CAPTION_WINDOW + 2)]
                + [_m("m7", CAPTION_WINDOW + 2)]),
    ]
    return spark.createDataFrame(rows, DOCS_STRUCT)


def test_caption_edges(spark, edge_docs):
    out = {
        r["media_ref"]: r
        for r in caption_pairs(edge_docs).collect()
    }
    assert out["m1"]["caption"] == "b c d"
    assert out["m1"]["caption_src"] == "after"
    assert out["m2"]["caption"] == "x y"
    assert out["m2"]["caption_src"] == "after"
    assert out["m3"]["caption"] == "q r s"  # LAST 3 before, in order
    assert out["m3"]["caption_src"] == "before"
    assert out["m4"]["caption"] == "v w"
    assert out["m5"]["caption"] == "v w"
    assert out["m6"]["caption"] == ""
    assert out["m6"]["caption_src"] == "none"
    # m7 is CAPTION_WINDOW+2 spans after the only text span -> unreachable
    assert out["m7"]["caption_src"] == "none"
    # the pad media before m7 that CAN see far0 backwards do caption
    assert out["pad1"]["caption"] == "far0"
    assert out["pad1"]["caption_src"] == "before"
    # m1..m7 plus the CAPTION_WINDOW+1 pad media in doc 'far'
    assert len(out) == CAPTION_WINDOW + 8


def test_caption_k_bound(spark):
    # more than CAPTION_K text spans available -> exactly K stitched
    doc = [("k", [_m("mk", 0)] + [_t(f"t{i}", i + 1) for i in range(9)])]
    df = spark.createDataFrame(doc, DOCS_STRUCT)
    row = caption_pairs(df).collect()[0]
    assert row["caption"] == " ".join(f"t{i}" for i in range(CAPTION_K))


def test_media_text_stats_gate(spark, edge_docs):
    out = {r["doc_id"]: r for r in media_text_stats(edge_docs).collect()}
    assert out["mid"]["n_text"] == 5 and out["mid"]["n_media"] == 1
    assert out["mid"]["n_chars"] == 5
    assert out["lone"]["n_text"] == 0 and out["lone"]["n_chars"] == 0
    assert not out["lone"]["multimodal_keep"]
    # gate boundary: mid has 5 text / 1 media < 8 -> dropped
    assert not out["mid"]["multimodal_keep"]
    keep = [
        ("ok", [_t(f"w{i}", i) for i in range(8)] + [_m("mm", 99)]),
    ]
    row = media_text_stats(
        spark.createDataFrame(keep, DOCS_STRUCT)
    ).collect()[0]
    assert row["multimodal_keep"]


def test_media_text_stats_covers_empty_spans_doc(spark):
    df = spark.createDataFrame([("empty", [])], DOCS_STRUCT)
    row = media_text_stats(df).collect()[0]
    assert (row["n_text"], row["n_media"], row["n_chars"]) == (0, 0, 0)
    assert not row["multimodal_keep"]


def test_caption_pairs_on_fixture_corpus(spark, unit_dir):
    """Real span fixture (image/figure kinds planted by the generator):
    every media span is paired, src is one of after/before/none, and
    after-captions equal the doc's own following text spans."""
    docs = spark.read.parquet(f"{unit_dir}/docs.parquet")
    n_media = docs.select(
        F.explode("spans").alias("s")
    ).filter(F.col("s.media_ref").isNotNull()).count()
    pairs = caption_pairs(docs)
    rows = pairs.collect()
    assert len(rows) == n_media > 0
    assert {r["caption_src"] for r in rows} <= {"after", "before", "none"}
    # spot-verify one 'after' pair against a driver-side reconstruction
    sample = next(r for r in rows if r["caption_src"] == "after")
    doc = docs.filter(F.col("doc_id") == sample["doc_id"]).collect()[0]
    spans = sorted(doc["spans"], key=lambda s: s["offset"])
    idx = next(
        i for i, s in enumerate(spans)
        if s["media_ref"] == sample["media_ref"]
    )
    texts = [
        s["text"]
        for s in spans[idx + 1 : idx + 1 + CAPTION_WINDOW]
        if s["kind"] == "text"
    ][:CAPTION_K]
    assert sample["caption"] == " ".join(texts)


def test_captions_compose_on_cleaned_output(spark, unit_dir, tmp_path):
    """Denoise -> caption mining on the job's cleaned output: noise
    spans must not leak into captions, so the gate must be
    at-most-as-permissive on cleaned spans as on raw."""
    from hocr_de_noising_spark.checkpoint import run_denoise_job
    from hocr_de_noising_spark.params import Params

    docs = spark.read.parquet(f"{unit_dir}/docs.parquet")
    lex = spark.read.parquet(f"{unit_dir}/lexicon.parquet")
    out = str(tmp_path / "out")
    run_denoise_job(
        spark, docs, lex, out, str(tmp_path / "m"),
        params=Params(n_buckets=8), run_id="cap", n_groups=2,
    )
    cleaned = spark.read.parquet(out).drop("bucket")
    caps = caption_pairs(cleaned)
    n_media_raw = docs.select(F.explode("spans").alias("s")).filter(
        F.col("s.media_ref").isNotNull()
    ).count()
    # every media span survives denoising and gets a caption row
    assert caps.count() == n_media_raw > 0
    raw_keep = media_text_stats(docs).filter("multimodal_keep").count()
    assert media_text_stats(cleaned).filter("multimodal_keep").count() <= raw_keep
    assert caps.columns == [
        "doc_id", "media_ref", "media_offset", "kind",
        "caption", "caption_src",
    ]


def test_caption_plan_single_window_exchange_no_python(spark, sf001_dir):
    from hocr_de_noising_spark.queries import QUERIES

    df = QUERIES["media_caption_pair"]["fn"](spark, sf001_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # union of two explode branches -> one hash exchange for the window
    assert p.count("hashpartitioning(doc_id") <= 2
    assert "Window" in p


def test_stats_plan_partial_agg(spark, sf001_dir):
    from hocr_de_noising_spark.queries import QUERIES

    df = QUERIES["media_text_ratio"]["fn"](spark, sf001_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    # two-phase hash aggregate: map-side partial before the exchange
    assert "partial_sum" in p.lower() or "HashAggregate" in p
    assert p.count("Exchange") <= 2
    assert "Python" not in p
