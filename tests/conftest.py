from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_sf_crime_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s
    s.stop()
