"""X2–X5, X8 — geometry / margin / confidence / garbage-string flags.

Pure Column expressions + one per-document window (the page-adaptive
statistics). All of it runs in whole-stage codegen; the only shuffle is
the hash partitioning by doc_id that the window introduces — every
later per-doc window and the final reassembly groupBy reuse that same
partitioning (SURVEY.md §4.3: one planned shuffle).

Page statistics are computed over ALL parseable text spans of the doc,
including noisy ones (page-adaptive rule, as published in the eMOP
de-noising algorithm [AAAI15]); ``percentile`` is Spark's exact linear
interpolation, bit-identical to numpy's 'linear' method used by the
golden generator (verified in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hocr_de_noising_spark.params import Params


def with_doc_stats(df: DataFrame, params: Params | None = None) -> DataFrame:
    """Per-document robust page statistics (X2/X3) via a single window.

    The window carries an ORDER BY pos with an unbounded frame (r8):
    the aggregate values are identical to the order-less form (the
    frame spans the whole partition), but the required child ordering
    becomes (doc_id, pos) — exactly what the downstream media-anchor
    running count (assemble.reassemble_ordered) needs, so Catalyst
    plans ONE sort feeding both WindowExecs instead of sorting the
    full exploded span stream twice."""
    p = params or Params()
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    lo, hi = p.envelope_lo_pct, p.envelope_hi_pct
    df = df.withColumn("h", (F.col("y1") - F.col("y0")).cast("double"))
    df = df.withColumn("w_px", (F.col("x1") - F.col("x0")).cast("double"))

    def pct(col: str, q: float):
        if p.approx_stats:
            # scale mode: sketch-based percentile — no per-doc sort,
            # partial-aggregable. Not golden-exact (returns an actual
            # element instead of interpolating); see Params.approx_stats.
            return F.expr(
                f"approx_percentile(CASE WHEN parse_ok THEN {col} END,"
                f" {q!r}, {p.approx_stats_accuracy})"
            ).over(w).cast("double")
        return F.expr(f"percentile(CASE WHEN parse_ok THEN {col} END, {q!r})").over(w)

    # single select → all five aggregates land in ONE WindowExec (one
    # pass per doc partition); stacked withColumns would interleave
    # Projects and defeat window collapsing
    return df.select(
        "*",
        pct("h", 0.5).alias("med_h"),
        pct("x0", lo).alias("p_lo_x0"),
        pct("x1", hi).alias("p_hi_x1"),
        pct("y0", lo).alias("p_lo_y0"),
        pct("y1", hi).alias("p_hi_y1"),
    )


def with_text_flags(df: DataFrame, params: Params | None = None) -> DataFrame:
    """X4/X5 — confidence + garbage-string flags. These need no page
    statistics, so they run MAP-SIDE before the per-doc shuffle; the
    token/wconf columns can then be pruned from the exchange."""
    p = params or Params()
    token = F.col("token")

    n_letters = F.length(F.regexp_replace(token, r"[^\p{L}]", ""))
    nonalpha_ratio = F.when(
        F.length(token) == 0, F.lit(1.0)
    ).otherwise(F.lit(1.0) - n_letters.cast("double") / F.length(token))

    flags = {
        "f_wconf": F.col("wconf") < p.tau_wconf,
        "f_nonalpha": nonalpha_ratio > p.max_nonalpha_ratio,
        "f_repeat": token.rlike(r"(.)\1{%d,}" % (p.repeat_run_len - 1)),
        "f_toolong": F.length(token) > p.max_token_len,
    }
    for name, expr in flags.items():
        df = df.withColumn(name, F.col("parse_ok") & F.coalesce(expr, F.lit(False)))

    # rewrite candidate precomputed map-side so norm_token need not
    # cross the shuffle (null unless the span could be rewritten)
    if p.mode == "rewrite":
        candidate = F.when(
            F.col("parse_ok")
            & F.col("f_wconf")
            & ~(F.col("f_nonalpha") | F.col("f_repeat") | F.col("f_toolong"))
            & F.col("f_dict_hit"),
            F.concat(F.col("norm_token"), F.expr("substr(text, instr(text, ';'))")),
        )
    else:
        candidate = F.lit(None).cast("string")
    return df.withColumn("rewrite_text", candidate)


def with_geom_flags(df: DataFrame, params: Params | None = None) -> DataFrame:
    """X2/X3 — geometry + margin flags against the page statistics."""
    p = params or Params()
    tol = float(p.envelope_tol_px)
    flags = {
        "f_geom": (
            (F.col("h") < p.speck_h_frac * F.col("med_h"))
            | (F.col("h") > p.blob_h_frac * F.col("med_h"))
            | ((F.col("h") > 0) & (F.col("w_px") / F.col("h") > p.max_aspect))
        ),
        "f_margin": (
            (F.col("x0") < F.col("p_lo_x0") - tol)
            | (F.col("x1") > F.col("p_hi_x1") + tol)
            | (F.col("y0") < F.col("p_lo_y0") - tol)
            | (F.col("y1") > F.col("p_hi_y1") + tol)
        ),
    }
    for name, expr in flags.items():
        df = df.withColumn(name, F.col("parse_ok") & F.coalesce(expr, F.lit(False)))
    return df


def with_noise_decision(df: DataFrame, params: Params | None = None) -> DataFrame:
    """X8 — frozen rule cascade: any evidence → noise (text spans only)."""
    is_text = F.col("kind") == "text"
    evidence = (
        ~F.col("parse_ok")
        | F.col("f_wconf")
        | F.col("f_nonalpha")
        | F.col("f_repeat")
        | F.col("f_toolong")
        | F.col("f_geom")
        | F.col("f_margin")
        | F.col("f_dict_miss")
    )
    return df.withColumn("is_noise", F.coalesce(is_text & evidence, F.lit(False)))
