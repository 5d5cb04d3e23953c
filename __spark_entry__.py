"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship aggregation at sf0.001; ``queries`` /
``oracle_sql`` expose the operator registry (SURVEY.md §2 keys,
implemented in hocr_de_noising_spark/queries/*). Keys without oracle
SQL are intentionally rows-only (approximate or non-SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hocr_de_noising_spark.queries import QUERIES  # noqa: E402

_TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["tpch_q1"]["fn"](spark, os.path.join(_TESTDATA, "sf0.001"))


# CORRECTNESS-window rotation (VERDICT r2 item 2). The registry exceeds
# the driver's 50-row cap, so ordering decides which keys get a fresh
# hard-signal row each round. Policy: (1) keys whose implementation
# changed since their last green driver row go FIRST, (2) then keys by
# ascending last-green round (never-verified keys count as round 0),
# (3) keys green in the immediately previous round fill the tail and
# absorb the cutoff — they are also re-verified locally every run by
# tests/test_ops.py against the same DuckDB comparison.

# Keys rewritten/touched after the round whose CORRECTNESS file last
# recorded them green (update each round). r8 is the optimization
# round: every key whose physical plan is restructured goes here so the
# driver re-verifies it first.
_CHANGED_SINCE_GREEN: list[str] = [
    # r8 let_sql rewrite: split/char-array bound once per row instead
    # of once per array element inside HOF lambdas (values unchanged,
    # verified vs DuckDB by scripts/preflight_oracle.py this round)
    "doc_fingerprint",
    "decontaminate_overlap",
    "quality_repetition",
    "url_host_filter",
    # r8 single-buffer percentile aggregates (array of percentages)
    "agg_percentile",
    "agg_approx_percentile",
    "margin_envelope",
    # r8 collision-proof staging names in extract_main_content
    "html_main_content",
    "html_main_content_dom",
]

# last round with a green driver row per key (from CORRECTNESS_r{N}.json).
# The 37 keys displaced by the r7 window (last green r6) lead round 8;
# never-verified keys (e.g. new this round) sort before them at 0.
_LAST_GREEN = dict.fromkeys(
    [
        "agg_approx_distinct", "agg_cube", "agg_dedup_first",
        "agg_distinct", "agg_grouping_sets", "agg_percentile",
        "agg_rollup",
        "dedup_exact",
        "dict_join", "doc_fingerprint", "join_anti", "join_asof",
        "join_range", "lag_lead", "lang_id", "quality_repetition",
        "quality_score", "sample_split", "scalar_math",
        "set_except", "set_union", "sort_multikey",
        "text_scrub", "token_count", "topk_noisy", "tpch_q1", "window_ntile",
        "window_rank", "window_running_sum",
    ],
    6,
) | dict.fromkeys(
    [
        "agg_approx_percentile", "agg_denoise_rate",
        "decontaminate_overlap", "explode_spans",
        "garbage_ratio", "geom_outliers", "html_links",
        "html_main_content", "html_main_content_dom",
        "join_broadcast", "join_full", "join_inner", "join_left",
        "join_semi", "link_domains_topk",
        "longs_normalize", "margin_envelope", "media_caption_pair",
        "media_text_ratio", "pii_scrub",
        "pii_scrub_strict", "project_filter", "quality_boilerplate",
        "reading_order",
        "scalar_array", "scalar_date", "scalar_json",
        "scalar_string", "scalar_xml", "scan_lineitem",
        "set_intersect", "tpch_q3",
        "udaf_mad", "url_canonicalize", "url_host_filter",
        "wconf_filter", "window_range_frame",
    ],
    7,
)


def _ordered() -> list[str]:
    names = list(QUERIES)
    return sorted(
        names,
        key=lambda n: (
            0 if n in _CHANGED_SINCE_GREEN else 1,
            _LAST_GREEN.get(n, 0),  # never-verified keys right after changed
            names.index(n),
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: QUERIES[name]["fn"] for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query key."""
    return {
        name: QUERIES[name]["sql"]
        for name in _ordered()
        if QUERIES[name]["sql"] is not None
    }
