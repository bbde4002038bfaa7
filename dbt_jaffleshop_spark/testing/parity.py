"""Oracle-parity comparison mirroring the driver's correctness gate.

The driver compares a Spark DataFrame against a DuckDB result by row count,
schema, and an order-insensitive value hash with columns sorted by name.
This module reproduces that check locally so every queries() entry is
validated in pytest before the driver ever sees it.

Canonicalization: cells become strings — floats via ``repr`` (shortest
round-trip, bit-exact discrimination), Decimals normalized, timestamps/dates
ISO — then rows are sorted. Exact equality is the bar: the engine's
arithmetic policy (integer cents, shared fp expression shapes) is designed
so no tolerance is needed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from typing import Any

import pandas as pd


def _canon_cell(v: Any) -> str:
    # NaT first: NaTType subclasses datetime, so the datetime branch below
    # would render it as the string 'NaT' instead of null
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(v)
    if isinstance(v, (bool,)):
        return "T" if v else "F"
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "∅"
        # DuckDB's pandas export renders DATE as midnight datetime64 while
        # Spark yields datetime.date — canonicalize midnight to the date.
        return v.date().isoformat() if v == v.normalize() else v.isoformat()
    if isinstance(v, dt.datetime):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Columns sorted by name, every cell canonicalized, rows sorted."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(v) for v in row))
    out.sort()
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of human-readable mismatches (empty == parity)."""
    problems: list[str] = []
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"column mismatch: spark={sc} oracle={oc}")
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    a, b = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    if a != b:
        diff_a = [r for r in a if r not in set(b)][:5]
        diff_b = [r for r in b if r not in set(a)][:5]
        problems.append(
            f"value mismatch ({len(diff_a)}+ rows differ)\n"
            f"  spark-only sample: {diff_a}\n  oracle-only sample: {diff_b}\n"
            f"  columns: {sc}"
        )
    return problems
