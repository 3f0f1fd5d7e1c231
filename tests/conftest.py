from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crane_spark import get_spark  # noqa: E402
from crane_spark.testing import duck_connection  # noqa: E402

SF_DIR = os.environ.get("CRANE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        "crane_spark_tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "8",
            "spark.default.parallelism": "8",
            "spark.sql.warehouse.dir": "/tmp/crane_spark_test_warehouse",
            # the status REST API is the metrics source for the
            # shuffle-byte guards (tests/test_shuffle_bytes.py)
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()
