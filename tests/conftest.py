from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sensor_time_series_pyspark_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SHUFFLE_PARTITIONS = 8


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=SHUFFLE_PARTITIONS)
    yield s


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(request):
    """Tests that run an example's main() call get_spark() again, and its
    getOrCreate resets the shared session's shuffle partition count to the
    host's CPU count. Put the session's count back after every test that
    used the session, so no test depends on which tests ran before it."""
    yield
    if "spark" in request.fixturenames:
        request.getfixturevalue("spark").conf.set(
            "spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS)
        )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
