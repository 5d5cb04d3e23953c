"""Generic relational operator surface: scans, aggregations and top-k
over the driver's ``lineitem`` and ``documents`` tables (SURVEY.md
§2.1–§2.2, §2.5, §2.7).

Each query exercises one operator family; all but the two sketch-based
keys have an exact DuckDB oracle. Spark impls are fully declarative
(Catalyst-optimizable: pushdown, pruning, partial aggregation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.util import load, register


# --- S3/P1/P2: scans, projection, predicate pushdown, explode ------------

@register(
    "scan_lineitem",
    """SELECT l_orderkey, l_partkey, l_linenumber, round(l_quantity, 4) AS qty
       FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'""",
)
def scan_lineitem(spark, sf):
    """S3+P1: parquet scan with filter+projection pushed to the reader."""
    return (
        load(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select(
            "l_orderkey", "l_partkey", "l_linenumber", F.round("l_quantity", 4).alias("qty")
        )
    )


@register(
    "explode_spans",
    """SELECT doc_id, unnest(string_split(text, ' ')) AS token
       FROM documents WHERE text IS NOT NULL""",
)
def explode_spans(spark, sf):
    """P2: element-level explode (posexplode pattern on the spans model)."""
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )


# --- §2.5 aggregations ---------------------------------------------------

@register(
    "tpch_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_discount), 4) AS avg_disc,
              count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def tpch_q1(spark, sf):
    """A1 flagship: hash aggregate with map-side partial aggregation."""
    return (
        load(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_percentile",
    """SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
              round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
              round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_percentile(spark, sf):
    """A2: exact percentiles (linear interpolation, same as the page-
    adaptive robust statistics in the de-noise pipeline X2/X3).

    ONE percentile aggregate with an array of percentages (r8): three
    separate percentile() calls each buffer and sort the full value
    list per group — 3x the aggregation-buffer memory and 3x the
    per-group sort. The array form buffers once and interpolates all
    three cut points from the same sorted counts (identical values;
    2.31->1.28 s at sf0.1)."""
    li = load(spark, sf, "lineitem")
    pcts = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.50D, 0.95D))"
        ).alias("ps")
    )
    return pcts.select(
        "l_returnflag",
        F.round(F.element_at("ps", 1), 4).alias("p25"),
        F.round(F.element_at("ps", 2), 4).alias("p50"),
        F.round(F.element_at("ps", 3), 4).alias("p95"),
    )


@register(
    "agg_distinct",
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
              count(DISTINCT l_suppkey) AS n_supps
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_distinct(spark, sf):
    """A3: exact distinct aggregation (expand-based in Spark)."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@register("agg_approx_distinct", None)  # approximate → rows-only check
def agg_approx_distinct(spark, sf):
    """A3: HyperLogLog++ approx distinct — sketch-based, scale path."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))
    )


@register(
    "agg_rollup",
    """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
              count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY ROLLUP (lang, source)""",
)
def agg_rollup(spark, sf):
    """A4: rollup for hierarchical metric reports (lang, source)."""
    return (
        load(spark, sf, "documents")
        .rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


@register(
    "agg_grouping_sets",
    """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
              count(*) AS n_docs
       FROM documents GROUP BY GROUPING SETS ((lang), (source))""",
)
def agg_grouping_sets(spark, sf):
    """A4: arbitrary (non-hierarchical) grouping sets — ((lang),
    (source)) is expressible by neither rollup nor cube alone. Spark
    4.1 has no DataFrame-side grouping_sets, so this key goes through
    SQL (SURVEY §2.5)."""
    load(spark, sf, "documents").createOrReplaceTempView("documents_gsets")
    return spark.sql(
        """SELECT coalesce(lang, 'ALL') AS lang,
                  coalesce(source, 'ALL') AS source,
                  count(*) AS n_docs
           FROM documents_gsets GROUP BY GROUPING SETS ((lang), (source))"""
    )


# --- §2.7 sorts / limits -------------------------------------------------

@register(
    "topk_noisy",
    """SELECT doc_id, n_chars FROM documents
       ORDER BY n_chars DESC, doc_id LIMIT 10""",
)
def topk_noisy(spark, sf):
    """O2: top-k (largest documents — 'noisiest docs' pattern)."""
    return (
        load(spark, sf, "documents")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(10)
        .select("doc_id", "n_chars")
    )


@register(
    "agg_cube",
    """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
              count(*) AS n_docs
       FROM documents GROUP BY CUBE (lang, source)""",
)
def agg_cube(spark, sf):
    """A4: cube — all grouping-set combinations of (lang, source)."""
    return (
        load(spark, sf, "documents")
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
        )
    )


@register("agg_approx_percentile", None)  # sketch-based → rows-only by design
def agg_approx_percentile(spark, sf):
    """A2 scale variant: approx_percentile (quantile sketch — no
    per-group sort, map-side combinable). The exact `agg_percentile`
    key is the oracle-checked twin; this is the 100 TB default the
    pipeline's Params.approx_stats switches to."""
    sk = (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            # ONE sketch serving both cut points (r8) — two separate
            # percentile_approx calls build and merge two identical
            # QuantileSummaries per group
            F.percentile_approx(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10_000)
            ).alias("ps"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return sk.select(
        "l_returnflag",
        F.element_at("ps", 1).alias("p50_price"),
        F.element_at("ps", 2).alias("p95_price"),
        "n",
    )
