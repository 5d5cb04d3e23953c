"""Skew handling (SURVEY.md §5.4): pathological 100k-span docs among
normal docs — the production fused path digests them in-line, completes,
and the output is still golden-exact.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.operators.pipeline import denoise_fused
from hocr_de_noising_spark.params import Params


@pytest.fixture(scope="module")
def corr(spark, correctness_dir):
    docs = spark.read.parquet(os.path.join(correctness_dir, "docs.parquet"))
    golden = spark.read.parquet(os.path.join(correctness_dir, "golden.parquet"))
    lexicon = spark.read.parquet(os.path.join(correctness_dir, "lexicon.parquet"))
    return docs, golden, lexicon


def test_corpus_has_skew_plants(corr):
    docs, _, _ = corr
    big = docs.filter(F.size("spans") >= 100_000)
    assert big.count() == 3


def test_fused_is_golden_exact_under_skew(spark, corr):
    """The one production path, fused (Arrow batches in a Python
    worker), takes giants and normal docs alike — golden-equal overall."""
    docs, golden, lexicon = corr
    p = Params()
    tokens = [r.token for r in lexicon.select("token").collect()]
    assert docs.filter(F.size("spans") > p.max_spans_per_doc).count() == 3

    t0 = time.time()
    out = denoise_fused(docs, tokens, p)
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    n_bad = j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count()
    elapsed = time.time() - t0
    assert n_bad == 0
    # generous completion bound: skew must not stall the job
    assert elapsed < 600, f"skewed corpus took {elapsed:.0f}s"


def test_planted_hot_shingle_decon_and_boilerplate(spark, tmp_path):
    """End-to-end on the real text path: a corpus where 2,000 docs
    share one boilerplate 5-gram (df 40x DECON_DF_CAP). decon must
    drop it from consideration (no eval doc flagged solely for the hot
    shingle); quality_boilerplate must count it as shared for every
    doc (its complement form never groups the hot posting list)."""
    from hocr_de_noising_spark.queries import QUERIES

    n = 2_000
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "concat('u', id, 'a u', id, 'b u', id,"
        " 'c alpha beta gamma delta epsilon') AS text",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sfdir = str(tmp_path)
    bp = QUERIES["quality_boilerplate"]["fn"](spark, sfdir).collect()
    assert len(bp) == n
    for r in bp:
        # 4 distinct 5-gram shingles per doc; only the all-common
        # 'alpha beta gamma delta epsilon' one is shared
        assert r.n_shingles == 4 and r.n_shared == 1
    dec = QUERIES["decontaminate_overlap"]["fn"](spark, sfdir)
    # the ONLY cross-doc shingle is hot (df=2000 > cap) -> no overlap
    # survives the cap, so the report is empty
    assert dec.count() == 0
