import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Cap the test session's driver heap. A large heap lets G1 grow it with
# garbage well past the live set (under 2 GB at sf0.001): with a 24g heap the
# full suite's driver JVM reached 14-15 GB resident and was killed by the
# kernel's OOM killer on a 16 GB host, failing every later test with
# "Connection refused". get_spark's default is now half of physical memory;
# 6g keeps the suite's heap below that. Set here so subprocess sessions
# inherit it too.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from geomesa_sql_spark import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
