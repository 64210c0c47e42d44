from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_occupancy_detection_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    sess = get_session(
        app_name="bdo-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield sess
    sess.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def no_exchange_reuse(spark):
    """Run with ``spark.sql.exchange.reuse=false``: exact results must not
    depend on Spark deduplicating identical exchanges or broadcasts."""
    spark.conf.set("spark.sql.exchange.reuse", "false")
    yield spark
    spark.conf.unset("spark.sql.exchange.reuse")
