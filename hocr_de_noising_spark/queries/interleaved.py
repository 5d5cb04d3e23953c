"""Interleaved text+media span operators — the north-rule's input model
(`BASELINE.json` input_hint: docs of (doc_id, spans array<struct<kind,
text,media_ref,offset>>)) exercised as first-class curation surfaces:

- :func:`caption_pairs` — media-caption pairing: for every media span,
  the nearest surrounding text (the OBELICS / MMC4 interleaved-corpus
  construction step [Laurençon et al. arXiv:2306.16527; Zhu et al.
  arXiv:2304.06939 — public papers]: image-text pairs mined from
  interleaved documents by local adjacency). The caption is the first
  K text spans after the media span within a bounded window, falling
  back to the last K before it — both pure window frames.
- :func:`media_text_stats` — per-document media-density statistics and
  the multimodal keep-gate (docs kept only with enough text per media
  item, the OBELICS-style document filter).

Scale design (100 TB):
- ONE shuffle total: the window partitions by doc_id and every frame
  is ROWS-bounded (±CAPTION_WINDOW spans), so state per row is O(K)
  and per-task memory is bounded by the largest single document —
  there is no unbounded-frame skew. The per-doc stats aggregate gets
  map-side partials.
- zero Python: explode + collect_list frames + slice/array_join are
  all JVM expressions inside whole-stage codegen.
- the media predicate and caption columns are computed in the same
  projection as the window — no second pass over the corpus.

The registry keys synthesize a deterministic interleaved corpus from
the documents table IDENTICALLY in Spark and DuckDB (tokens become
text spans at even offsets; every 5th token position also emits a
media span at the following odd offset), so the oracle checks the
pairing/gate logic, not the builder. The library entry points take
the real north-rule doc shape (spans array<struct>).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hocr_de_noising_spark.queries.util import load, register

CAPTION_WINDOW = 6  # how many spans around the media span to inspect
CAPTION_K = 3  # max text spans stitched into the caption
MM_TEXT_PER_MEDIA = 8  # keep-gate: >= this many text spans per media


# ------------------------------------------------------------- library --


def _caption_core(flat: DataFrame) -> DataFrame:
    """Caption pairing over a flat span frame (doc_id, kind, text,
    media_ref, offset). Text is taken ONLY from kind='text' spans (a
    media span's own text/alt field never captions a neighbour).
    Returns one row per media span (media_ref IS NOT NULL)."""
    w = Window.partitionBy("doc_id").orderBy("offset")
    cap_src = F.when(F.col("kind") == "text", F.col("text"))
    after = F.collect_list(cap_src).over(
        w.rowsBetween(1, CAPTION_WINDOW)
    )
    before = F.collect_list(cap_src).over(
        w.rowsBetween(-CAPTION_WINDOW, -1)
    )
    stats = flat.select(
        "doc_id",
        "kind",
        "media_ref",
        "offset",
        after.alias("la"),
        before.alias("lb"),
    ).filter(F.col("media_ref").isNotNull())
    ca = F.array_join(F.slice("la", 1, CAPTION_K), " ")
    cb = F.array_join(
        F.expr(
            f"slice(lb, greatest(size(lb) - {CAPTION_K - 1}, 1), "
            f"{CAPTION_K})"
        ),
        " ",
    )
    return stats.select(
        "doc_id",
        "media_ref",
        F.col("offset").alias("media_offset"),
        "kind",
        F.when(ca != "", ca).otherwise(cb).alias("caption"),
        F.when(ca != "", F.lit("after"))
        .when(cb != "", F.lit("before"))
        .otherwise(F.lit("none"))
        .alias("caption_src"),
    )


def caption_pairs(docs: DataFrame) -> DataFrame:
    """Media-caption pairs from north-rule-shaped documents (doc_id,
    spans array<struct<kind,text,media_ref,offset>>): one row per media
    span with its nearest-text caption and which side it came from."""
    flat = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
    return _caption_core(flat)


def media_text_stats(docs: DataFrame) -> DataFrame:
    """Per-document interleave statistics + the multimodal keep-gate:
    (n_text, n_media, n_chars, multimodal_keep). Keep requires at
    least one media span and >= MM_TEXT_PER_MEDIA text spans per media
    span (the OBELICS-style document-level filter). explode_outer so a
    doc with an EMPTY spans array still gets a (0, 0, 0, false) row —
    stats must cover every input document."""
    flat = docs.select(
        "doc_id", F.explode_outer("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref")
    return _stats_core(flat)


def _stats_core(flat: DataFrame) -> DataFrame:
    agg = flat.groupBy("doc_id").agg(
        # count(when(...)) not sum(cast): never NULL, even for a doc
        # whose exploded rows are all-null (empty spans array)
        F.count(F.when(F.col("kind") == "text", 1)).alias("n_text"),
        F.count(F.when(F.col("media_ref").isNotNull(), 1)).alias(
            "n_media"
        ),
        F.coalesce(
            F.sum(
                F.when(F.col("kind") == "text", F.length("text"))
            ),
            F.lit(0),
        ).alias("n_chars"),
    )
    return agg.select(
        "doc_id",
        "n_text",
        "n_media",
        "n_chars",
        (
            (F.col("n_media") > 0)
            & (F.col("n_text") >= MM_TEXT_PER_MEDIA * F.col("n_media"))
        ).alias("multimodal_keep"),
    )


# -------------------------------------------------- synthetic corpus --

# Deterministic interleaved spans from the documents table, identical
# in both engines: token p becomes a text span at offset 2p; positions
# with p % 5 == 2 ALSO emit a media span at offset 2p+1 (image when
# p % 10 == 2, else figure) with media_ref 'm-<doc_id>-<p>'. Media can
# land at the document tail (no following text — exercises the
# 'before' fallback) and documents shorter than 3 tokens exercise the
# short-caption edge.


def _spark_flat_spans(spark, sf) -> DataFrame:
    t = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    tok = t.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
    )
    text_spans = tok.select(
        "doc_id",
        F.lit("text").alias("kind"),
        F.col("tok").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        (F.col("p") * 2).cast("int").alias("offset"),
    )
    media_spans = tok.filter(F.col("p") % 5 == 2).select(
        "doc_id",
        F.when(F.col("p") % 10 == 2, F.lit("image"))
        .otherwise(F.lit("figure"))
        .alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat_ws("-", F.lit("m"), "doc_id", "p").alias("media_ref"),
        (F.col("p") * 2 + 1).cast("int").alias("offset"),
    )
    return text_spans.unionAll(media_spans)


_DUCK_SPANS = """
tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         unnest(range(len(string_split(text, ' ')))) AS p
  FROM documents WHERE text IS NOT NULL
), spans AS (
  SELECT doc_id, 'text' AS kind, tok AS text,
         CAST(NULL AS VARCHAR) AS media_ref,
         CAST(2 * p AS INTEGER) AS off
  FROM tok
  UNION ALL
  SELECT doc_id,
         CASE WHEN p % 10 = 2 THEN 'image' ELSE 'figure' END,
         CAST(NULL AS VARCHAR),
         'm-' || doc_id || '-' || p,
         CAST(2 * p + 1 AS INTEGER)
  FROM tok WHERE p % 5 = 2
)
"""

_DUCK_CAPTION = f"""
WITH {_DUCK_SPANS}, win AS (
  SELECT doc_id, kind, media_ref, off,
    list_filter(coalesce(list(text) OVER (
        PARTITION BY doc_id ORDER BY off
        ROWS BETWEEN 1 FOLLOWING AND {CAPTION_WINDOW} FOLLOWING), []),
      x -> x IS NOT NULL) AS la,
    list_filter(coalesce(list(text) OVER (
        PARTITION BY doc_id ORDER BY off
        ROWS BETWEEN {CAPTION_WINDOW} PRECEDING AND 1 PRECEDING), []),
      x -> x IS NOT NULL) AS lb
  FROM spans
), caps AS (
  SELECT doc_id, media_ref, off, kind,
    coalesce(array_to_string(
      list_slice(la, 1, {CAPTION_K}), ' '), '') AS ca,
    coalesce(array_to_string(
      list_slice(lb, greatest(len(lb) - {CAPTION_K - 1}, 1), len(lb)),
      ' '), '') AS cb
  FROM win WHERE media_ref IS NOT NULL
)
SELECT doc_id, media_ref, off AS media_offset, kind,
  CASE WHEN ca != '' THEN ca ELSE cb END AS caption,
  CASE WHEN ca != '' THEN 'after'
       WHEN cb != '' THEN 'before'
       ELSE 'none' END AS caption_src
FROM caps
"""


@register("media_caption_pair", _DUCK_CAPTION)
def media_caption_pair(spark, sf):
    """Media-caption pairing over the synthetic interleaved corpus:
    each media span picks up the first 3 text spans after it (within a
    6-span window), falling back to the last 3 before it — checked
    span-for-span against the DuckDB window oracle, including tail
    media with no following text."""
    return _caption_core(_spark_flat_spans(spark, sf))


_DUCK_STATS = f"""
WITH {_DUCK_SPANS}
SELECT doc_id,
  CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_text,
  CAST(sum(CASE WHEN media_ref IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_media,
  CAST(coalesce(sum(CASE WHEN kind = 'text' THEN len(text) END), 0)
    AS BIGINT) AS n_chars,
  (sum(CASE WHEN media_ref IS NOT NULL THEN 1 ELSE 0 END) > 0 AND
   sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) >=
     {MM_TEXT_PER_MEDIA} *
     sum(CASE WHEN media_ref IS NOT NULL THEN 1 ELSE 0 END))
    AS multimodal_keep
FROM spans GROUP BY doc_id
"""


@register("media_text_ratio", _DUCK_STATS)
def media_text_ratio(spark, sf):
    """Per-document media-density stats + multimodal keep-gate over
    the synthetic interleaved corpus (one hash aggregate with map-side
    partials; integer/boolean output so the hash is rounding-proof)."""
    return _stats_core(_spark_flat_spans(spark, sf))
