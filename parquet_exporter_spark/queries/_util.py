"""Shared helpers for oracle-parity queries.

Float aggregates are rounded on both the Spark and DuckDB sides: the two
engines sum partitions in different orders, so raw double aggregates differ
in the last bits and would break the driver's value-hash compare
(SURVEY.md section 5 trap list). ROUND_MONEY for large magnitudes (sums of
prices), ROUND_RATIO for small ones (averaged discounts, correlations).
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

ROUND_MONEY = 2
ROUND_RATIO = 6


def rmoney(c: Column) -> Column:
    return F.round(c, ROUND_MONEY)


def rratio(c: Column) -> Column:
    return F.round(c, ROUND_RATIO)


def source_version(files: list[str]) -> str:
    """The freshness key of a scratch store built from ``files``: each
    file's path, sub-second mtime and size. Data regenerated within the
    same second as the previous generation still gets a new key."""
    return "|".join(
        f"{p}:{os.path.getmtime(p):.6f}:{os.path.getsize(p)}" for p in files
    )
