"""The flagship de-noising pipeline — three variants, one semantic.

``denoise_exploded`` (SURVEY.md §4.3 variant b): fully declarative
Catalyst plan — posexplode → parse (regexp, codegen) → broadcast
lexicon join + iterator pandas UDF for the edit-distance tail
(map-side) → ONE per-doc shuffle feeding a single (doc_id, pos) sort
shared by the page-stats window and the media-anchor running count
(r8: two window sorts collapsed into one via an ordered unbounded
frame) → flag columns → groupBy reassembly with reading order and
anchoring computed in-array (assemble.reassemble_ordered). Exactly
ONE wide shuffle and ONE sort end-to-end; everything else is
map-side.

``denoise_fused`` (variant a): a single ``mapInArrow`` pass running
the vectorized batch rule (rules_vec.denoise_arrow_batch) — zero
shuffles, zero per-span Python objects at the boundary (spans are
read flat off the Arrow list buffers; r8). Batch size bounded via
spark.sql.execution.arrow.maxRecordsPerBatch / maxBytesPerBatch so
one giant document cannot blow a batch.

``denoise_hybrid`` (production default): fused for normal docs, with
pathological giants routed to the exploded JVM path (skew defusal).

All variants must produce byte-identical output and are cross-checked
against the constructive goldens (tests/test_golden.py) and against
each other on fresh seeds (tests/test_differential.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
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
from hocr_de_noising_spark.rules_np import Lexicon, denoise_doc

OUT_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


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
    ex = with_dictionary_check(ex, lexicon_df, params=p)
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


def denoise_hybrid(
    docs: DataFrame,
    lexicon_df: DataFrame,
    lexicon_tokens: list[str],
    params: Params | None = None,
) -> DataFrame:
    """Skew-routing variant (J5 + §7.3 item 2): normal docs take the
    Arrow/pandas fused path (scales linearly — Python workers are
    embarrassingly parallel); pathological giants (> max_spans_per_doc)
    take the JVM exploded path, where a 100k-span doc is milliseconds of
    window work instead of seconds of single-worker Python — removing
    the serial tail that otherwise caps scaling efficiency."""
    p = params or Params()
    # coalesce: F.size(NULL) is NULL, which passes NEITHER filter — a
    # null-spans doc must take the fused path (emitting spans=[]) to
    # keep the byte-identical cross-variant contract.
    n_spans = F.coalesce(F.size("spans"), F.lit(0))
    small = docs.filter(n_spans <= p.max_spans_per_doc)
    big = docs.filter(n_spans > p.max_spans_per_doc)
    return denoise_fused(small, lexicon_tokens, p).unionByName(
        denoise_exploded(big, lexicon_df, p)
    )


def denoise_fused(
    docs: DataFrame,
    lexicon_tokens: "list[str] | Broadcast",
    params: Params | None = None,
    vectorized: bool = True,
) -> DataFrame:
    """Single-pass variant of the frozen rule, one Python map stage.

    ``vectorized=True`` (default) is a ``mapInArrow`` stage running the
    Arrow/numpy batch engine (rules_vec.denoise_arrow_batch — one RE2
    extract, code-point string flags and one groupby-quantile per Arrow
    batch); ``vectorized=False`` is a ``mapInPandas`` stage running the
    doc-at-a-time reference implementation (rules_np). Identical
    semantics, property-tested.

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

    if vectorized:
        # Arrow-native boundary (r8, guide §4.2): spans are read flat
        # off the list array's offset/value buffers and the output list
        # array is rebuilt from flat survivor columns — no per-span
        # Python dicts in either direction (the mapInPandas form built
        # ~n_spans dicts on ingest AND emit per batch, the dominant
        # Python cost at 200k docs). Explicit select: Spark cannot see
        # which columns an opaque map touches, so project before it.
        def run_arrow(batches):
            from hocr_de_noising_spark.rules_vec import denoise_arrow_batch

            lex = Lexicon(bc.value) if p.use_dictionary else None
            for rb in batches:
                yield denoise_arrow_batch(rb, p, lex)

        return docs.select("doc_id", "spans").mapInArrow(
            run_arrow, schema=OUT_SCHEMA
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = Lexicon(bc.value) if p.use_dictionary else None
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            spans_lists = [
                list(s) if s is not None else [] for s in pdf["spans"]
            ]
            out_spans = [denoise_doc(s, p, lex) for s in spans_lists]
            yield pd.DataFrame({"doc_id": ids, "spans": out_spans})

    return docs.mapInPandas(run, schema=OUT_SCHEMA)
