from __future__ import annotations

import os
import sys

import pytest

# the repo root, so the suite imports this checkout's geoharvest_spark,
# jobs and __spark_entry__ however pytest is launched
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geoharvest_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("geoharvest-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_small(spark):
    from geoharvest_spark.synth import web_pages_df

    return web_pages_df(spark, 300).cache()


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
