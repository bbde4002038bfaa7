from __future__ import annotations

import glob
import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# The session's default 48g driver heap lets the one JVM that serves the
# whole suite grow past a 16 GB host's memory before it collects (measured
# peak RSS 14.8 GB), where the kernel kills it and every later test fails.
# A bounded heap makes it collect instead; the suite's sf0.001 data needs
# far less.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dbt_jaffleshop_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the same parquet tables registered as views —
    mirrors the driver's oracle environment."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(path).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_parity(spark_df, oracle_con, sql: str):
    from dbt_jaffleshop_spark.testing.parity import compare_frames

    spark_pdf = spark_df.toPandas()
    oracle_pdf = oracle_con.sql(sql).df()
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, "\n".join(problems)
