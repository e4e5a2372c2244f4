from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_cloud_batch_processing_spark.session import get_spark
from etl_cloud_batch_processing_spark.sources.readers import FIXTURE_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("engine-tests", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4",
                                  "spark.ui.enabled": "false"})
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's oracle views pre-registered."""
    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def total_jobs(spark):
    """The session's job counter (``DAGScheduler.numTotalJobs``): call
    it before and after a step and take the difference."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
