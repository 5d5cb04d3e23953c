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


def _partition_sizes(df, n_parts, key):
    """Row counts per hash partition — the distribution a
    (key)-partitioned shuffle consumer (WindowExec / final agg task)
    would see."""
    return (
        df.repartition(n_parts, key)
        .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
        .collect()
    )


def test_planted_hot_shingle_no_skew(spark):
    """VERDICT r6 item 2: one boilerplate shingle with df = 10^5 (1000x
    over JACCARD_DF_CAP) must not pin a single task. The r6 form
    computed df with count() OVER (PARTITION BY shingle): WindowExec
    materializes the hot shingle's 10^5 rows in ONE task BEFORE the
    cap filter can drop them. The r7 form removes hot shingles with a
    combiner-friendly groupBy count + broadcast anti-join, so every
    (shingle)-partitioned consumer downstream sees only bounded
    groups: max partition <= 4x median (BASELINE.md skew bound)."""
    import statistics

    from hocr_de_noising_spark.queries.trainprep import (
        JACCARD_DF_CAP,
        capped_from_hashed,
    )

    n_hot = 100_000
    # one hot shingle (id 0) shared by 10^5 docs + one unique shingle
    # per doc — the Zipfian head + tail in miniature
    sh = spark.range(n_hot).selectExpr(
        "id AS doc_id", "CAST(0 AS BIGINT) AS shingle"
    ).unionAll(
        spark.range(n_hot).selectExpr("id AS doc_id", "id + 10 AS shingle")
    )
    out = capped_from_hashed(sh)
    # correctness: the hot shingle vanished, every unique one survived
    assert out.filter("shingle = 0").count() == 0
    assert out.count() == n_hot
    # skew: the post-cap (shingle)-hash distribution is balanced — this
    # is exactly what the downstream groupBy/window tasks receive
    sizes = _partition_sizes(out, 32, "shingle")
    med = statistics.median(sizes)
    assert max(sizes) <= 4 * med, f"max={max(sizes)} median={med}"
    # the r6 window form, for contrast, would put all 10^5 hot rows in
    # one partition: the pre-cap distribution is provably skewed
    pre = _partition_sizes(sh, 32, "shingle")
    assert max(pre) > 4 * statistics.median(pre)


def test_planted_hot_shingle_decon_and_boilerplate(spark, tmp_path):
    """End-to-end on the real text path: a corpus where 2,000 docs
    share one boilerplate 5-gram (df 40x JACCARD_DF_CAP). decon must
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
