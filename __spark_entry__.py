"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship aggregation (the per-language noise rate)
at sf0.001; ``queries`` / ``oracle_sql`` expose the operator registry
(SURVEY.md §2 keys, implemented in hocr_de_noising_spark/queries/*).
Every key has DuckDB oracle SQL.
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
    return QUERIES["agg_denoise_rate"]["fn"](spark, os.path.join(_TESTDATA, "sf0.001"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q["fn"] for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every query key."""
    return {name: q["sql"] for name, q in QUERIES.items()}
