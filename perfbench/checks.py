"""Result checks, run outside the timed region.

Results are compared the way the engine's oracle harness compares them
(``tests/harness.py``): row count, column names, then an
order-insensitive canonical form of every value (floats at 12
significant digits, timestamps at microseconds, arrays element-wise, NaN
as NULL). ``value_hash`` digests that canonical form,
so two results agree exactly when their hashes do.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime

import duckdb
import numpy as np


def _canon(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "<null>" if math.isnan(f) else f"{f:.12g}"
    if isinstance(v, (np.integer, int)) and not isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, datetime):
        try:
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        except ValueError:  # pandas NaT
            return "<null>"
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    try:
        if v != v:  # pandas NA / NaT
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def value_hash(pdf) -> str:
    cols, rows = canonical_rows(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(engine_pdf, oracle_pdf) -> str | None:
    """None when the two results match, else a one-line reason."""
    ec, er = canonical_rows(engine_pdf)
    oc, orows = canonical_rows(oracle_pdf)
    if ec != oc:
        return f"columns differ: engine={ec} oracle={oc}"
    if len(er) != len(orows):
        return f"row count differs: engine={len(er)} oracle={len(orows)}"
    if er != orows:
        only = sorted(set(er) - set(orows))[:2]
        return f"values differ; engine-only rows (first 2): {only}"
    return None


def oracle_frame(sql: str, views: dict[str, str]):
    """Run ``sql`` on DuckDB with each name in ``views`` bound to a
    parquet file."""
    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return con.sql(sql).df()
    finally:
        con.close()
