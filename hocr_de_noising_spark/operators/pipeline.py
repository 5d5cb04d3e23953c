"""The flagship de-noising pipeline — two implementations, one semantic.

``denoise_exploded`` (SURVEY.md §4.3 variant b): fully declarative
Catalyst plan — posexplode → parse (regexp, codegen) → broadcast
lexicon join + iterator pandas UDF for the edit-distance tail
(map-side) → ONE per-doc shuffle feeding a single (doc_id, pos) sort
shared by the page-stats window and the media-anchor running count
(r8: two window sorts collapsed into one via an ordered unbounded
frame) → flag columns → groupBy reassembly with reading order and
anchoring computed in-array (assemble.reassemble_ordered). Exactly
ONE wide shuffle and ONE sort end-to-end; everything else is
map-side. No job runs it: it is the independent Catalyst cross-check
of the fused path.

``denoise_fused`` (variant a, the one production path): a single
``mapInArrow`` pass running the vectorized batch rule
(rules_vec.denoise_arrow_batch) — zero shuffles, zero per-span Python
objects at the boundary (spans are read flat off the Arrow list
buffers; r8). It replaces ``spans`` and carries every other input
column through unchanged, so the batch job carries its ``bucket`` and
input span count past the kernel. Batch size bounded via
spark.sql.execution.arrow.maxRecordsPerBatch / maxBytesPerBatch so one
giant document cannot blow a batch.

Both must produce byte-identical output and are cross-checked against
the constructive goldens (tests/test_golden.py) and against each other
on fresh seeds (tests/test_differential.py).
"""

from __future__ import annotations

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hocr_de_noising_spark.operators.assemble import (
    reassemble_ordered,
    with_survival,
)
from hocr_de_noising_spark.operators.features import (
    with_doc_stats,
    with_geom_flags,
    with_noise_decision,
    with_text_flags,
)
from hocr_de_noising_spark.operators.lexicon import with_dictionary_check
from hocr_de_noising_spark.operators.parse import with_parsed_fields
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.pyworker import lazy_zip_invalidation, lexicon


def denoise_exploded(
    docs: DataFrame,
    lexicon_df: DataFrame,
    params: Params | None = None,
) -> DataFrame:
    """Declarative Catalyst variant; see module docstring."""
    p = params or Params()
    ex = docs.select(
        "doc_id", F.posexplode_outer("spans").alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
    ex = with_parsed_fields(ex)
    # dictionary check and all non-geometry flags BEFORE the stats
    # window: the broadcast join, the Arrow-batched fuzzy UDF and the
    # string-heavy flag expressions are map-side, so (a) the per-doc
    # hash partitioning introduced next is the plan's only wide
    # exchange (ArrowEvalPython does not propagate partitioning), and
    # (b) token/norm_token/wconf are pruned before the shuffle —
    # only the payload, geometry ints and boolean flags cross the wire
    ex = with_dictionary_check(ex, lexicon_df)
    ex = with_text_flags(ex, params=p)
    ex = ex.select(
        "doc_id", "pos", "kind", "text", "media_ref", "parse_ok",
        "x0", "y0", "x1", "y1", "line_i", "col_i",
        "f_wconf", "f_nonalpha", "f_repeat", "f_toolong", "f_dict_miss",
        "rewrite_text",
    )
    ex = with_doc_stats(ex, params=p)
    ex = with_geom_flags(ex, params=p)
    ex = with_noise_decision(ex, params=p)
    ex = with_survival(ex, params=p)
    # ordering + reassembly fused into one aggregation (r8): the two
    # per-doc ordering windows (two WindowExec sorts over every span
    # row) collapse into in-array sorts/scans inside the collect —
    # see assemble.reassemble_ordered
    return reassemble_ordered(ex)


def denoise_fused(
    docs: DataFrame,
    lexicon_tokens: "list[str] | Broadcast",
    params: Params | None = None,
) -> DataFrame:
    """Single-pass form of the frozen rule: one ``mapInArrow`` stage
    running the Arrow/numpy batch engine (rules_vec.denoise_arrow_batch
    — one RE2 extract, code-point string flags and one groupby-quantile
    per Arrow batch). Its oracle is rules_np, compared directly in
    tests/test_vectorized.py.

    It acts like ``withColumn("spans", ...)``: ``spans`` is replaced,
    every other column passes through unchanged, and the output schema
    is ``docs.schema``. Spark cannot see which columns an opaque map
    touches, so every column of ``docs`` is shipped through Python:
    callers project what they want carried before calling.

    ``lexicon_tokens`` may be a plain list (broadcast here, once per
    plan) or a pre-made ``sparkContext.broadcast`` shared across calls —
    either way tasks deserialize the token list from the broadcast
    store once per executor instead of once per task closure
    (VERDICT r2 item 7).
    """
    p = params or Params()
    bc = (
        lexicon_tokens
        if isinstance(lexicon_tokens, Broadcast)
        else docs.sparkSession.sparkContext.broadcast(list(lexicon_tokens or []))
    )

    # Arrow-native boundary (r8, guide §4.2): spans are read flat off
    # the list array's offset/value buffers and the output list array is
    # rebuilt from flat survivor columns — no per-span Python dicts in
    # either direction (a mapInPandas form built ~n_spans dicts on
    # ingest AND emit per batch, the dominant Python cost at 200k docs).
    def run_arrow(batches):
        lazy_zip_invalidation()
        from hocr_de_noising_spark.rules_vec import denoise_arrow_batch

        lex = lexicon(bc.value)
        for rb in batches:
            yield denoise_arrow_batch(rb, p, lex)

    return docs.mapInArrow(run_arrow, schema=docs.schema)
