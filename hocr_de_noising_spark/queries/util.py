"""Query-registry plumbing shared by all operator query modules."""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = ("lineitem", "documents")

# name -> {"fn": callable(spark, sf_dir) -> DataFrame, "sql": str}
QUERIES: dict[str, dict] = {}


def register(name: str, sql: str):
    """Decorator: register a query with its DuckDB oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = {"fn": fn, "sql": sql}
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def let_sql(value_sql: str, var: str, body_sql: str) -> str:
    """SQL let-binding: evaluate ``value_sql`` ONCE per row and reference
    it as ``var`` inside ``body_sql``.

    Catalyst's CollapseProject re-inlines single-use Project aliases
    into downstream HOF lambda bodies, where they are re-evaluated PER
    ARRAY ELEMENT — e.g. ``web_extract.host_suffixes`` names the
    host's label array three times inside its per-suffix lambda, so an
    inlined ``split(host)`` would run three times per suffix. Binding
    the value as a 1-element array's lambda variable introduces a
    NamedLambdaVariable the optimizer cannot inline through, so the
    value is computed exactly once per row."""
    return f"element_at(transform(array({value_sql}), {var} -> {body_sql}), 1)"
