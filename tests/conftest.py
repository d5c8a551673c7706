import os
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miletos_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Heap of the test session's JVM (and of the sessions the tests start in
# subprocesses, which run next to it). A heap larger than the host lets
# G1 grow instead of collect until the kernel kills a JVM mid-suite, and
# every later test fails with ConnectionRefusedError. Two 6g JVMs fit in
# 16 GB; pinned so the suite runs the same way on every host.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")

# One line per test ("nodeid outcome seconds"), on disk as soon as the
# test ends: a run killed mid-suite leaves a tail whose last line is the
# test before the one it died in. Kept outside the repo, under
# SPARK_LOCAL_DIRS when that is set.
PROGRESS_LOG = os.path.join(
    (os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()).split(",")[0],
    "miletos_tests_progress.log",
)


def pytest_sessionstart(session):
    os.makedirs(os.path.dirname(PROGRESS_LOG), exist_ok=True)
    with open(PROGRESS_LOG, "a") as f:
        f.write(f"# session start {time.strftime('%Y-%m-%dT%H:%M:%S')} "
                f"pid {os.getpid()}\n")


def pytest_runtest_logreport(report):
    if report.when != "call" and report.outcome == "passed":
        return  # setup/teardown lines only when they fail or skip
    with open(PROGRESS_LOG, "a") as f:
        tag = "" if report.when == "call" else f" ({report.when})"
        f.write(f"{report.nodeid} {report.outcome}{tag} "
                f"{report.duration:.2f}\n")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="miletos_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
