import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miletos_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Heap of the test session's JVM (and of the sessions the tests start in
# subprocesses, which run next to it). get_spark's default of 48g is more
# than a 16 GB host has: G1 then grows the heap instead of collecting
# until the kernel kills a JVM mid-suite, and every later test fails with
# ConnectionRefusedError. Two 6g JVMs fit in 16 GB.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="miletos_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
