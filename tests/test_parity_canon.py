"""Canonical cell rendering used by the oracle-parity gate."""

import pandas as pd

from dbt_jaffleshop_spark.testing.parity import canonical_rows


def test_nat_canonicalizes_like_none():
    """DuckDB's pandas export renders a NULL timestamp as ``pd.NaT``
    while Spark's yields ``None``: both must canonicalize to null.
    ``NaTType`` subclasses ``datetime``, so a datetime branch checked
    first would render it as the string 'NaT'."""
    duck = pd.DataFrame({"k": [1, 2], "ts": pd.to_datetime([None, "2024-01-02"])})
    spark = pd.DataFrame(
        {"k": [1, 2], "ts": [None, pd.Timestamp("2024-01-02")]}, dtype=object
    )
    assert duck["ts"].iloc[0] is pd.NaT
    assert canonical_rows(duck) == canonical_rows(spark)
    assert canonical_rows(duck)[0] == ("1", "∅")
