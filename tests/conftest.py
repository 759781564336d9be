import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osm2garmin_spark.session import get_spark

    # bounded driver heap: under get_spark's 48g default the JVM heap
    # grew past the RAM of a 16 GB host (RSS ~15 GB, OOM-killed mid-suite);
    # with 6g the whole suite peaks at ~4.3 GB RSS
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
