"""Cross-variant differential testing: exploded (Catalyst) vs fused
(``mapInArrow``) on corpora generated with seeds the goldens never
used — any divergence between the two independent implementations is a
bug even where no golden exists."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon
from hocr_de_noising_spark.fixtures.spans import gen_doc
from hocr_de_noising_spark.operators.pipeline import denoise_exploded, denoise_fused
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.sources.catalog import DOCS_STRUCT

LEX = gen_lexicon(800, seed=101)
LEX_TOKENS = [t for t, _ in LEX]


def _corpus(seed, n=120, shuffle_p=0.6, noise_p=0.4):
    """Harsher settings than the goldens: more shuffling, more noise."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        spans, _ = gen_doc(
            f"f{seed}_{i:04d}",
            int(rng.integers(1, 200)),
            rng,
            LEX_TOKENS,
            noise_p=noise_p,
            shuffle_p=shuffle_p,
        )
        rows.append((f"f{seed}_{i:04d}", [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
        ]))
    return rows


@pytest.mark.parametrize("seed", [7, 77])
@pytest.mark.parametrize("mode", ["drop", "rewrite"])
def test_variants_agree_on_fresh_seeds(spark, seed, mode):
    docs = spark.createDataFrame(_corpus(seed), DOCS_STRUCT)
    lexicon = spark.createDataFrame(LEX, "token string, freq int")
    p = Params(mode=mode)
    a = denoise_exploded(docs, lexicon, params=p)
    b = denoise_fused(docs, LEX_TOKENS, params=p)
    j = a.alias("a").join(b.alias("b"), "doc_id", "full_outer")
    bad = j.filter(~F.col("a.spans").eqNullSafe(F.col("b.spans")))
    rows = bad.limit(1).collect()
    assert not rows, f"variant divergence: {rows[0]}"
