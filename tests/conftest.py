"""Shared test fixtures: one SparkSession per test run, plus a DuckDB-oracle
comparison helper.

Modules that read the driver-generated fixtures set a module-level
``REQUIRES_TESTDATA = True``; those tests auto-skip where /root/testdata is
absent (e.g. plain CI runners) so the pure-unit suite still runs."""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import SparkSession

from checkatron_spark.session import CACHED_PLAN_CONF

TESTDATA_DIR = "/root/testdata"


def pytest_runtest_setup(item):
    if getattr(item.module, "REQUIRES_TESTDATA", False) and not os.path.isdir(
        TESTDATA_DIR
    ):
        pytest.skip("driver parquet fixtures not available on this machine")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.appName("checkatron-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config(*CACHED_PLAN_CONF)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def duck():
    con = duckdb.connect(":memory:")
    yield con
    con.close()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def assert_same_rows(spark_df, duck_rows, duck_cols=None):
    """Order-insensitive row-set comparison between a Spark DataFrame and
    DuckDB fetchall() output (mirrors the driver's order-insensitive hash)."""
    from collections import Counter

    s_cols = spark_df.columns
    s_rows = Counter(tuple(_canon(v) for v in r) for r in spark_df.collect())
    d_rows = Counter(tuple(_canon(v) for v in r) for r in duck_rows)
    if duck_cols is not None:
        assert [c for c in s_cols] == list(duck_cols), (
            f"column mismatch: spark={s_cols} duck={list(duck_cols)}"
        )
    assert s_rows == d_rows, (
        f"row mismatch:\n spark-only={list((s_rows - d_rows).items())[:10]}\n"
        f" duck-only={list((d_rows - s_rows).items())[:10]}"
    )


def run_oracle(con, sql: str):
    """Run oracle SQL in DuckDB, return (rows, column_names)."""
    cur = con.execute(sql)
    return cur.fetchall(), [d[0] for d in cur.description]
