"""Generic relational operator surface (SURVEY.md §2.1–§2.7).

Each query exercises one operator family on the driver's testdata and
has an exact DuckDB oracle. Spark impls are fully declarative
(Catalyst-optimizable: pushdown, pruning, broadcast where marked).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.util import load, register


# --- S3/P1/P3: scans, projection, predicate pushdown ---------------------

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
    "project_filter",
    """SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
       FROM customer WHERE c_acctbal > 1000 AND c_mktsegment = 'BUILDING'""",
)
def project_filter(spark, sf):
    """P1/P3: column pruning + conjunctive row predicate."""
    return (
        load(spark, sf, "customer")
        .filter((F.col("c_acctbal") > 1000) & (F.col("c_mktsegment") == "BUILDING"))
        .select("c_custkey", "c_name", F.round("c_acctbal", 4).alias("acctbal"))
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


# --- §2.4 joins ----------------------------------------------------------

@register(
    "join_broadcast",
    """SELECT c.c_custkey, n.n_name, r.r_name
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey""",
)
def join_broadcast(spark, sf):
    """J1: small dims broadcast — no shuffle of the fact side."""
    c = load(spark, sf, "customer")
    n = F.broadcast(load(spark, sf, "nation"))
    r = F.broadcast(load(spark, sf, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


@register(
    "join_inner",
    """SELECT o.o_orderkey, c.c_name, round(o.o_totalprice, 4) AS totalprice
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE o.o_orderstatus = 'F'""",
)
def join_inner(spark, sf):
    """J2: shuffle equi-join (SMJ/shuffled-hash per Catalyst/AQE)."""
    o = load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", F.round("o_totalprice", 4).alias("totalprice")
    )


@register(
    "join_left",
    """SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
       FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c.c_custkey""",
)
def join_left(spark, sf):
    """J3: left outer join preserving match-less customers."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi",
    """SELECT c_custkey FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 100000)""",
)
def join_semi(spark, sf):
    """J4: left semi join (dictionary-hit pattern)."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@register(
    "join_anti",
    """SELECT c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_anti(spark, sf):
    """J4: left anti join (OOV-miss / resume skip-list pattern S7)."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "join_range",
    """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
       FROM part a JOIN part b
         ON a.p_size = b.p_size
        AND a.p_partkey < b.p_partkey
        AND b.p_retailprice BETWEEN a.p_retailprice - 1 AND a.p_retailprice + 1""",
)
def join_range(spark, sf):
    """J6: equi prefix (p_size) + range predicate — never a cross join."""
    a = load(spark, sf, "part").alias("a")
    b = load(spark, sf, "part").alias("b")
    cond = (
        (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & (F.col("b.p_retailprice") >= F.col("a.p_retailprice") - 1)
        & (F.col("b.p_retailprice") <= F.col("a.p_retailprice") + 1)
    )
    return a.join(b, cond).select(
        F.col("a.p_partkey").alias("part_a"), F.col("b.p_partkey").alias("part_b")
    )


@register(
    "join_asof",
    """SELECT p.event_id, max(v.ts) AS last_view_ts
       FROM events p JOIN events v
         ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
       WHERE p.event_type = 'purchase'
       GROUP BY p.event_id""",
)
def join_asof(spark, sf):
    """J7: as-of join — latest 'view' at-or-before each 'purchase'.

    Implemented with the union+window trick (single shuffle by user_id,
    no range join): tag both streams, sort by (ts, tag), carry the last
    view ts forward with last(ignorenulls).
    """
    ev = load(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts"), F.lit(0).alias("tag"), F.lit(None).cast("long").alias("event_id")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.lit(1).alias("tag"), F.col("event_id")
    )
    u = views.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lastv = F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True).over(w)
    return (
        u.withColumn("last_view_ts", lastv)
        .filter((F.col("tag") == 1) & F.col("last_view_ts").isNotNull())
        .select("event_id", "last_view_ts")
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


@register(
    "agg_dedup_first",
    """SELECT user_id, event_id AS first_event
       FROM (SELECT user_id, event_id,
                    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             FROM events) WHERE rn = 1""",
)
def agg_dedup_first(spark, sf):
    """A7: ordered keep-first dedup within group."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event"))
    )


# --- §2.6 windows --------------------------------------------------------

@register(
    "window_rank",
    """SELECT o_orderkey, o_orderpriority, rnk FROM (
         SELECT o_orderkey, o_orderpriority,
                rank() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         FROM orders) WHERE rnk <= 5""",
)
def window_rank(spark, sf):
    """W2: top-N per group via rank with a total-order tiebreak."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf, "orders")
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 5)
        .select("o_orderkey", "o_orderpriority", "rnk")
    )


@register(
    "lag_lead",
    """SELECT event_id, user_id,
              round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value,
              round(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS next_value
       FROM events""",
)
def lag_lead(spark, sf):
    """W3: lag/lead (dehyphenation X11 neighbor-access pattern)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
    )


@register(
    "window_running_sum",
    """SELECT event_id, user_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
       FROM events""",
)
def window_running_sum(spark, sf):
    """W4: running aggregate frame (cumulative denoise-rate pattern)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


# --- §2.7 sorts / limits / set ops ---------------------------------------

@register(
    "sort_multikey",
    """SELECT o_orderkey, o_orderdate FROM orders
       ORDER BY o_orderdate, o_orderkey LIMIT 100""",
)
def sort_multikey(spark, sf):
    """O1: deterministic multi-key total sort + limit (TakeOrdered)."""
    return (
        load(spark, sf, "orders")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate")
    )


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
    "set_union",
    """SELECT c_custkey FROM customer WHERE c_acctbal < 0
       UNION ALL
       SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
)
def set_union(spark, sf):
    """U1: unionByName (incremental corpus-append pattern)."""
    c = load(spark, sf, "customer")
    a = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.unionByName(b)


@register(
    "set_except",
    """SELECT c_custkey FROM customer
       EXCEPT SELECT o_custkey AS c_custkey FROM orders""",
)
def set_except(spark, sf):
    """U2: EXCEPT (golden-diff pattern: emitted minus expected)."""
    c = load(spark, sf, "customer").select("c_custkey")
    o = load(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)


@register(
    "set_intersect",
    """SELECT l_partkey AS p_partkey FROM lineitem
       INTERSECT SELECT p_partkey FROM part WHERE p_size > 25""",
)
def set_intersect(spark, sf):
    """U3: INTERSECT (vocab-overlap pattern)."""
    li = load(spark, sf, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    p = load(spark, sf, "part").filter(F.col("p_size") > 25).select("p_partkey")
    return li.intersect(p)


@register(
    "dict_join",
    """SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
              levenshtein(a.p_brand, b.p_brand) AS dist
       FROM (SELECT DISTINCT p_brand FROM part) a
       JOIN (SELECT DISTINCT p_brand FROM part) b
         ON a.p_brand < b.p_brand AND levenshtein(a.p_brand, b.p_brand) <= 2""",
)
def dict_join(spark, sf):
    """X7/J1 relational form: broadcast fuzzy join by edit distance."""
    a = load(spark, sf, "part").select("p_brand").distinct().alias("a")
    b = load(spark, sf, "part").select("p_brand").distinct().alias("b")
    cond = (F.col("a.p_brand") < F.col("b.p_brand")) & (
        F.levenshtein(F.col("a.p_brand"), F.col("b.p_brand")) <= 2
    )
    return a.join(F.broadcast(b), cond).select(
        F.col("a.p_brand").alias("brand_a"),
        F.col("b.p_brand").alias("brand_b"),
        F.levenshtein(F.col("a.p_brand"), F.col("b.p_brand")).alias("dist"),
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


@register(
    "window_ntile",
    """SELECT o_orderkey,
              ntile(4) OVER w AS quartile,
              dense_rank() OVER w AS drnk,
              round(percent_rank() OVER w, 6) AS prnk
       FROM orders
       WINDOW w AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey)""",
)
def window_ntile(spark, sf):
    """W2: ntile / dense_rank / percent_rank (threshold calibration
    quantiles over per-group orderings)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return load(spark, sf, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
    )


@register(
    "tpch_q3",
    """SELECT o.o_orderkey,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
              o.o_orderdate
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1995-03-15'
         AND l.l_shipdate > TIMESTAMP '1995-03-15'
       GROUP BY o.o_orderkey, o.o_orderdate
       ORDER BY revenue DESC, o_orderkey LIMIT 20""",
)
def tpch_q3(spark, sf):
    """Multi-join + aggregate + top-k (Catalyst join ordering, partial
    aggregation, TakeOrdered) — the TPC-H Q3 shape."""
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "join_full",
    """SELECT coalesce(c.c_custkey, -1) AS cust, coalesce(o.o_orderkey, -1) AS ord
       FROM (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0) c
       FULL JOIN (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 11 = 0) o
         ON o.o_custkey = c.c_custkey""",
)
def join_full(spark, sf):
    """J3: full outer join preserving both unmatched sides."""
    c = load(spark, sf, "customer").filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    o = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", "o_custkey")
    )
    return c.join(o, o.o_custkey == c.c_custkey, "full_outer").select(
        F.coalesce("c_custkey", F.lit(-1)).alias("cust"),
        F.coalesce("o_orderkey", F.lit(-1)).alias("ord"),
    )


@register(
    "window_range_frame",
    """SELECT event_id, user_id,
              CAST(count(*) OVER (PARTITION BY user_id
                    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_last_10min
       FROM events""",
)
def window_range_frame(spark, sf):
    """W4: RANGE frame over event time (events in the trailing 10 min)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-600, 0)
    )
    return load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_10min"),
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
