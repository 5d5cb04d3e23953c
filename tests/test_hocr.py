"""X1 full-path hOCR tokenization vs constructive expected records, and
the raw-hOCR → spans → de-noise integration."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from hocr_de_noising_spark.fixtures.hocr import gen_hocr_corpus
from hocr_de_noising_spark.operators.hocr import (
    hocr_words_to_spans,
    parse_doc,
    parse_hocr,
)
from hocr_de_noising_spark.operators.pipeline import denoise_exploded


def test_parse_matches_expected_records(spark):
    pages, expected = gen_hocr_corpus(30)
    df = spark.createDataFrame(pages, "doc_id string, hocr string")
    got = parse_hocr(df).toPandas()
    # malformed pages may recover partial words (tolerance, tested
    # separately); compare well-formed pages only
    got = got[~got["doc_id"].str.startswith("hbad")]
    exp = pd.DataFrame(expected)
    assert len(got) == len(exp)
    key = ["doc_id", "order"]
    got = got.sort_values(key, ignore_index=True)
    exp = exp.sort_values(key, ignore_index=True)[got.columns]
    for c in ("token", "x0", "y0", "x1", "y1", "wconf", "carea_id", "line_id", "word_id"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    assert (got["x_size"] == 42.0).all()
    assert (got["baseline_a"] == 0.005).all()


def test_malformed_pages_parse_tolerantly():
    pages, _ = gen_hocr_corpus(30)
    bad = [p for p in pages if p[0].startswith("hbad")]
    assert len(bad) == 3
    for doc_id, hocr in bad:
        words = parse_doc(doc_id, hocr)  # must not raise
        assert isinstance(words, list)
    # the unclosed-span page still recovers its one word
    assert parse_doc("x", bad[0][1])[0]["token"] == "oops"
    # broken bbox title yields no word, empty page yields no words
    assert parse_doc("x", bad[1][1]) == []
    assert parse_doc("x", bad[2][1]) == []


def test_hocr_to_spans_feeds_pipeline(spark, unit_dir):
    import os

    pages, expected = gen_hocr_corpus(10)
    df = spark.createDataFrame(pages, "doc_id string, hocr string")
    words = parse_hocr(df)
    spans = hocr_words_to_spans(words)
    # docs with >=1 recovered word (incl. the tolerant hbad0000 page)
    n_docs_with_words = words.select("doc_id").distinct().count()
    assert n_docs_with_words == len({e["doc_id"] for e in expected}) + 1
    assert spans.count() == n_docs_with_words
    # offsets inside each doc are the document order
    flat = spans.select("doc_id", F.posexplode("spans").alias("pos", "s"))
    bad = flat.filter(F.col("pos") != F.col("s.offset"))
    assert bad.count() == 0

    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    out = denoise_exploded(spans, lexicon)
    assert out.count() == n_docs_with_words
    # cleaned docs only contain parseable payloads (all spans text kind)
    kinds = out.select(F.explode("spans").alias("s")).select("s.kind").distinct().collect()
    assert {r.kind for r in kinds} <= {"text"}
