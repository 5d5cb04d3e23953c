"""X9 + X10 — reading-order reconstruction, media anchoring, reassembly.

All window functions share the doc_id hash partitioning introduced by
the stats window (operators/features.py), so none of them adds a
shuffle — only per-partition sorts. The final groupBy(doc_id) likewise
reuses the partitioning.

Ordering semantics (must mirror rules_np.denoise_doc exactly):

- surviving text spans rank by (col, line, x0, y0, input_pos) — the
  reading order (columns left→right, lines top→bottom, words
  left→right, input position as the final total-order tiebreak);
- each media span anchors to the nearest PRECEDING surviving text span
  in input (array) order and is emitted immediately after it (media
  sharing an anchor keep input order); media before any surviving text
  go first;
- offsets renumber contiguously from 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hocr_de_noising_spark.params import Params

_BIG = 2_147_483_647  # null-ordering sentinel for media rows


def with_survival(df: DataFrame, params: Params | None = None) -> DataFrame:
    """Decide keep/drop/rewrite per span (X10 mode flag)."""
    p = params or Params()
    is_text = F.col("kind") == "text"
    if p.mode == "rewrite":
        # rewrite_text (features.with_text_flags) is non-null only when
        # the map-side conditions held (wconf-only garbage flags +
        # dictionary hit); the geometry flags complete the rule here
        rewritten = (
            F.col("rewrite_text").isNotNull()
            & ~F.col("f_geom")
            & ~F.col("f_margin")
        )
    else:
        rewritten = F.lit(False)
    df = df.withColumn("rewritten", F.coalesce(rewritten, F.lit(False)))
    drop = is_text & F.col("is_noise") & ~F.col("rewritten")
    df = df.withColumn(
        "survives", F.col("kind").isNotNull() & ~F.coalesce(drop, F.lit(False))
    )
    emitted = F.when(F.col("rewritten"), F.col("rewrite_text")).otherwise(F.col("text"))
    return df.withColumn("emitted_text", F.when(is_text, emitted))


def reassemble_ordered(df: DataFrame) -> DataFrame:
    """Reading-order rank, media anchor and reassembly in ONE
    aggregation, with the reading-order sort computed INSIDE the
    collected array (r8).

    The earlier window form paid two full per-partition WindowExec
    sorts over every exploded span row — the 6-key reading-order sort
    and the input-order sort for media anchoring — before the
    reassembly groupBy. Here only ONE cheap window survives (a running count of
    surviving text spans in input order, ``acnt``: for any span, the
    1-based input-order index of the nearest preceding-or-self
    surviving text span), and everything else happens per document on
    the collected survivors:

    - reading order: array_sort by (text-first, col, line, x0, y0,
      pos) — surviving text sorts first, so a text element's 1-based
      reading rank is simply its array index + 1 (exactly the window
      form's conditional running count);
    - media anchoring: the ``acnt``-th text span in input order IS the
      last text span at-or-before this span, so its reading rank is an
      O(1) ``element_at`` into the input-order (pos, rank) text table
      (exactly the window form's last(..., ignorenulls) over pos);
      acnt = 0 -> no preceding text -> sentinel -1, as before;
    - final emission order: array_sort by (anchor, text-before-media,
      pos) + indexed transform, as before.

    Only rows with ``survives`` enter the collect_list (non-survivors
    influenced neither the rank count nor the anchor scan), ties are
    impossible past the unique ``pos`` field in every sort key, and
    nullable payload fields sit after ``pos`` so struct comparison
    never reaches a NULL. All per-doc steps are O(n log n) — no
    accumulator-array growth, safe for pathological giant documents.
    Output byte-identical to the window form (goldens + cross-variant
    differential tests)."""
    is_surv_text = (F.col("kind") == "text") & F.col("survives")
    w_pos = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = df.withColumn(
        "acnt", F.sum(F.when(is_surv_text, 1).otherwise(0)).over(w_pos)
    )
    keyed = F.when(
        F.col("survives"),
        F.struct(
            F.when(F.col("kind") == "text", 0).otherwise(1).alias("sk"),
            F.coalesce(F.col("col_i"), F.lit(_BIG)).alias("ci"),
            F.coalesce(F.col("line_i"), F.lit(_BIG)).alias("li"),
            F.coalesce(F.col("x0"), F.lit(_BIG)).alias("x0"),
            F.coalesce(F.col("y0"), F.lit(_BIG)).alias("y0"),
            F.col("pos").alias("pos"),
            F.col("acnt").cast("int").alias("acnt"),
            F.col("kind").alias("kind"),
            F.col("emitted_text").alias("text"),
            F.col("media_ref").alias("media_ref"),
        ),
    )
    rd = df.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(keyed)).alias("rd")
    )
    # input-order text table (pos, reading rank), let-bound so it is
    # built once per doc rather than once per span (util.let_sql rule)
    tarr = (
        "array_sort(filter(transform(rd, (e, i) -> "
        "struct(e.pos AS pos, CAST(i + 1 AS int) AS rank, e.sk AS sk)), "
        "x -> x.sk = 0))"
    )
    spans = (
        "element_at(transform(array(" + tarr + "), ta -> "
        "transform(array_sort(transform(rd, e -> struct("
        "if(e.acnt = 0, -1, element_at(ta, e.acnt).rank) AS k1, "
        "e.sk AS k2, e.pos AS pos, e.kind AS kind, e.text AS text, "
        "e.media_ref AS media_ref))), "
        "(x, i) -> struct(x.kind AS kind, x.text AS text, "
        "x.media_ref AS media_ref, CAST(i AS int) AS offset))), 1)"
    )
    return rd.select("doc_id", F.expr(spans).alias("spans"))
