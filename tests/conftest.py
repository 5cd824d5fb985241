"""Shared fixtures: one SparkSession per test run, DuckDB oracle connection
per scale factor."""

from __future__ import annotations

import contextlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_experiment_otp_spark.session import get_spark  # noqa: E402
from data_ingestion_experiment_otp_spark.sources.catalog import TABLES  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def spark_path():
    """`with spark_path():` runs a block with every persisted-index read
    (streaming/serving.py) on its Spark plan, whatever its slice size."""
    from data_ingestion_experiment_otp_spark.streaming import serving

    @contextlib.contextmanager
    def forced():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(serving, "DRIVER_MAX_BYTES", -1)
            yield

    return forced
