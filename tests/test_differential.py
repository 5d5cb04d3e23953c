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

DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
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
    docs = spark.createDataFrame(_corpus(seed), DDL)
    lexicon = spark.createDataFrame(LEX, "token string, freq int")
    p = Params(mode=mode)
    a = denoise_exploded(docs, lexicon, params=p)
    b = denoise_fused(docs, LEX_TOKENS, params=p)
    j = a.alias("a").join(b.alias("b"), "doc_id", "full_outer")
    bad = j.filter(~F.col("a.spans").eqNullSafe(F.col("b.spans")))
    rows = bad.limit(1).collect()
    assert not rows, f"variant divergence: {rows[0]}"


def test_media_near_random_corpora_match_duckdb(spark, tmp_path):
    """Randomized differential (seeded): dedup_media_near must match
    DuckDB bit-for-bit on corpora with random lengths, repeated
    prefixes (forcing near pairs), and random word soup — breadth
    beyond the fixed adversarial strings."""
    import random

    import duckdb

    from hocr_de_noising_spark.queries import QUERIES

    rng = random.Random(99)
    words = ["the", "keeper", "evening", "tide", "letters", "embers",
             "green", "seven", "weaver", "x"]
    rows = []
    doc_id = 0
    for _ in range(150):
        n = rng.randint(1, 120)
        text = " ".join(rng.choice(words) for _ in range(n))
        rows.append((doc_id, text)); doc_id += 1
        if rng.random() < 0.25:  # near variant: shared long prefix
            tail = " ".join(rng.choice(words) for _ in range(rng.randint(0, 10)))
            rows.append((doc_id, (text + " " + tail).strip())); doc_id += 1
    sdir = tmp_path / "rand"
    sdir.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "rnd", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sdir / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sdir}/documents.parquet/*.parquet'"
    )
    got = sorted(
        tuple(r)
        for r in QUERIES["dedup_media_near"]["fn"](spark, str(sdir)).collect()
    )
    want = sorted(
        tuple(r) for r in con.execute(QUERIES["dedup_media_near"]["sql"]).fetchall()
    )
    assert got == want
    assert len(got) > 0  # prefix plants must actually produce pairs
