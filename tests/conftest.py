from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webscrap_datapipeline_spark.session import get_spark  # noqa: E402

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

SF_SMALL = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_MEDIUM = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="wsdp-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
