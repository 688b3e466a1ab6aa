from __future__ import annotations

import os
import sys

import pytest

# this checkout's package, whichever directory the suite runs from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from fluvio_duck_spark.session import get_spark

    spark = get_spark("fluvio-duck-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
