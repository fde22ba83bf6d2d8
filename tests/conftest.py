from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from parquet_exporter_spark.session import get_spark  # noqa: E402

# The test session's driver heap. The engine's 16g default lets the
# suite's JVM grow until a 16 GB machine runs out of memory; the default
# run passes in 2g and fails in 1g. An explicit SPARK_GRAFT_DRIVER_MEM
# still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

# Small scale for unit tests; correctness vs oracle runs at sf0.01 via
# SPARK_GRAFT_TEST_SF_DIR (tests default to sf0.001 for speed).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="parquet_exporter_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
