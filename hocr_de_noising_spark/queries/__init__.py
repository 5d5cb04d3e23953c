"""Operator-level query registry (SURVEY.md §2 "key" column).

Every implemented operator registers a (PySpark callable, DuckDB oracle
SQL) pair here; ``__spark_entry__.py`` exposes them to the driver.
Callables take (spark, sf_dir) and return a DataFrame; oracle SQL runs
on DuckDB views named after the testdata tables. Column names/aliases
match exactly on both sides; doubles are rounded identically on both
sides so order-insensitive value hashes agree.
"""

from hocr_de_noising_spark.queries.util import QUERIES, register  # noqa: F401

# import order defines registry population
from hocr_de_noising_spark.queries import denoise_patterns  # noqa: F401,E402
from hocr_de_noising_spark.queries import web_extract  # noqa: F401,E402
from hocr_de_noising_spark.queries import interleaved  # noqa: F401,E402

__all__ = ["QUERIES", "register"]
