from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # tiny fixture data: minimize per-job overhead (threads, shuffle
    # partitions). Production sessions use the defaults in
    # geo_db_spark.session.
    from geo_db_spark.session import smoke_session

    s = smoke_session("geo_db_spark_tests")
    yield s
    s.stop()
