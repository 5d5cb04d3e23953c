"""Golden end-to-end span-sequence equality (SURVEY.md §5.1).

Both pipeline variants must reproduce the constructive golden outputs
exactly under (kind, text, media_ref, order) per document — and must
produce identical results at different parallelism / shuffle settings
(determinism-under-parallelism is load-bearing for the scaling claim).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hocr_de_noising_spark.operators.pipeline import denoise_exploded, denoise_fused
from hocr_de_noising_spark.params import Params


def _load(spark, d):
    docs = spark.read.parquet(os.path.join(d, "docs.parquet"))
    golden = spark.read.parquet(os.path.join(d, "golden.parquet"))
    lexicon = spark.read.parquet(os.path.join(d, "lexicon.parquet"))
    return docs, golden, lexicon


def assert_docs_equal(out_df, golden_df):
    j = out_df.alias("o").join(golden_df.alias("g"), "doc_id", "full_outer")
    bad = j.filter(
        ~F.col("o.spans").eqNullSafe(F.col("g.spans"))
    )
    rows = bad.limit(3).collect()
    assert not rows, f"span mismatch in {bad.count()} docs; first: {rows[:1]}"


def test_exploded_matches_golden_unit(spark, unit_dir):
    docs, golden, lexicon = _load(spark, unit_dir)
    out = denoise_exploded(docs, lexicon)
    assert_docs_equal(out, golden)


def test_fused_matches_golden_unit(spark, unit_dir):
    docs, golden, lexicon = _load(spark, unit_dir)
    tokens = [r.token for r in lexicon.select("token").collect()]
    out = denoise_fused(docs, tokens)
    assert_docs_equal(out, golden)


def test_exploded_flat_except_both_ways(spark, unit_dir):
    """exceptAll in both directions on the exploded form (U2)."""
    docs, _, lexicon = _load(spark, unit_dir)
    flat_golden = spark.read.parquet(os.path.join(unit_dir, "golden_flat.parquet"))
    out = denoise_exploded(docs, lexicon)
    flat_out = out.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    fg = flat_golden.select("doc_id", "pos", "kind", "text", "media_ref")
    assert flat_out.exceptAll(fg).count() == 0
    assert fg.exceptAll(flat_out).count() == 0


def test_determinism_across_shuffle_settings(spark, unit_dir):
    """Same output under different shuffle.partitions and repartitioning."""
    docs, golden, lexicon = _load(spark, unit_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        out = denoise_exploded(docs.repartition(7), lexicon)
        assert_docs_equal(out, golden)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_rewrite_mode_keeps_lowconf_dictionary_words(spark, unit_dir):
    """mode='rewrite': spans failing ONLY the confidence rule survive
    with the normalized token substituted."""
    docs, golden, lexicon = _load(spark, unit_dir)
    p = Params(mode="rewrite")
    out = denoise_exploded(docs, lexicon, params=p)
    n_drop = golden.select(F.sum(F.size("spans"))).collect()[0][0]
    n_rewrite = out.select(F.sum(F.size("spans"))).collect()[0][0]
    assert n_rewrite >= n_drop
    # fused agrees with exploded in rewrite mode too
    tokens = [r.token for r in lexicon.select("token").collect()]
    fused = denoise_fused(docs, tokens, params=p)
    assert_docs_equal(out, fused)
