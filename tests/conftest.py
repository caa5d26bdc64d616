from __future__ import annotations

import os

import pytest

from delta_lake_stock_pipeline_spark.session import get_spark

# Default sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF_DIR to run
# the same assertions at the driver's correctness scale (sf0.01) or above.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    from delta_lake_stock_pipeline_spark.artifacts import clear_all

    clear_all()
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
