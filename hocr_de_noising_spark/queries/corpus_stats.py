"""Corpus vocabulary head — the one corpus-statistics key left.

- ``vocab_topk``: top-k tokens by document frequency (the
  tokenizer-training / stopword-derivation feeder).

Scale design (100 TB): the token counts are a two-level HASH
AGGREGATE with map-side partials, and the k-cut is a TakeOrdered, so no
window or global sort ever partitions by a potentially-hot token.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.util import load, register

VOCAB_K = 50


_VOCAB_SQL = f"""
SELECT tok,
       count(*) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL)
GROUP BY tok
ORDER BY df DESC, tf DESC, tok
LIMIT {VOCAB_K}
"""


@register("vocab_topk", _VOCAB_SQL)
def vocab_topk(spark, sf):
    """Corpus vocabulary head: top-{K} tokens by document frequency
    (ties: total frequency, then token). Two-level hash aggregate with
    map-side partials; the k-cut is a TakeOrdered, never a global
    sort."""
    toks = (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("df").desc(), F.col("tf").desc(), "tok")
        .limit(VOCAB_K)
    )
