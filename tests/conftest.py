"""Shared pytest fixtures: local Spark session + cached fixture corpora."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hocr_de_noising_spark.fixtures.spans import write_corpus  # noqa: E402
from hocr_de_noising_spark.session import get_spark  # noqa: E402

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "cache")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def pytest_configure(config):
    # a pandas/pyarrow deprecation changes what a comparison sees in a
    # later release; fail on it now instead of adding a summary line
    config.addinivalue_line("filterwarnings", "error::FutureWarning")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hocr-denoise-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def unit_dir() -> str:
    return write_corpus(CACHE_DIR, "unit")


@pytest.fixture(scope="session")
def correctness_dir() -> str:
    return write_corpus(CACHE_DIR, "correctness")


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return os.path.join(TESTDATA, "sf0.01")
