"""Planted-behavior tests for the web-extraction helpers (URL
canonicalizer, host blocklist) — the library surfaces, beyond the
registry keys' DuckDB hash checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.web_extract import canonicalize_url


def _canon(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], ["url"])
    return df.select(canonicalize_url(F.col("url")).alias("c")).first()["c"]


def test_canonicalize_url_variants(spark):
    # case + default port + tracking params + fragment + trailing slash
    assert (
        _canon(spark, "HTTPS://WWW.Example.COM:443/Path/9/?utm_source=f&id=3#top")
        == "https://example.com/Path/9?id=3"
    )
    # http default port, utm anywhere in the query, params sorted
    assert (
        _canon(spark, "http://example.com:80/p?z=1&utm_campaign=x&a=2")
        == "http://example.com/p?a=2&z=1"
    )
    # NON-default port must be kept; www stripped only as a prefix
    assert (
        _canon(spark, "https://sub.Example.com:8443/path/2/")
        == "https://sub.example.com:8443/path/2"
    )
    # bare host, no path/query
    assert _canon(spark, "https://Example.com/") == "https://example.com"
    # query-only utm params -> no '?' at all
    assert (
        _canon(spark, "https://a.com/x?utm_medium=em") == "https://a.com/x"
    )


def test_host_blocklist_suffix_semantics(spark):
    from hocr_de_noising_spark.queries.web_extract import (
        filter_blocked_hosts,
    )

    hosts = [
        ("ads.example.com", True, "example.com"),   # subdomain blocked
        ("example.com", True, "example.com"),       # exact host blocked
        ("notexample.com", False, None),            # NO dot boundary
        ("example.com.evil.org", False, None),      # suffix only, not infix
        ("deep.a.b.example.com", True, "example.com"),
        ("exact.only.net", True, "exact.only.net"), # full-host entry
        ("sub.exact.only.net", True, "exact.only.net"),
        ("com", False, None),
        # two entries match one host: the longer (more specific) wins
        ("img.cdn.example.com", True, "cdn.example.com"),
    ]
    df = spark.createDataFrame(
        [(h,) for h, _, _ in hosts], "host string"
    )
    out = {
        r["host"]: r
        for r in filter_blocked_hosts(
            df, "host", blocklist=("example.com", "cdn.example.com", "exact.only.net")
        ).collect()
    }
    for h, blocked, rule in hosts:
        assert out[h]["blocked"] == blocked, h
        assert out[h]["block_rule"] == rule, h


def test_host_blocklist_plan_map_side_only(spark, sf001_dir):
    from hocr_de_noising_spark.queries import QUERIES

    df = QUERIES["url_host_filter"]["fn"](spark, sf001_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p  # literal-blocklist path: zero shuffle
    assert "Python" not in p
