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



class Crash(Exception):
    """The failure `crash_sweep` injects at one crash point."""


def _crash_points():
    """(owner, attribute, index of the path argument) of every call that
    can leave landed or streamed state half-committed: the marker
    write, the renames that publish a marker or a directory, the
    deletes, and Spark's parquet writes."""
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from miletos_spark.pipeline import commit

    return (
        (commit, "write_marker", 0),
        (os, "replace", 0),
        (os, "rename", 0),
        (shutil, "rmtree", 0),
        (DataFrameWriter, "parquet", 1),
    )


@pytest.fixture
def crash_sweep(tmp_path):
    """The crash-point harness: `crash_sweep(run, state)`.

    `run(work)` writes all of its state under the directory `work`, and
    `state(work)` reads it back; an uninterrupted run gives the wanted
    state. Then, for k = 1, 2, ..., a run in a fresh dir has the k-th
    crash-point call on a path under that dir raise `Crash`, and the
    resumed run (same dir, nothing patched) must give the wanted state.
    The sweep ends at the first k that a run does not reach, and
    returns the number of crash points swept."""

    def sweep(run, state):
        ref = str(tmp_path / "ref")
        run(ref)
        want = state(ref)
        k = 0
        while True:
            k += 1
            work = str(tmp_path / f"crash{k}")
            calls = []

            def arm(real, at):
                def crashing(*args, **kwargs):
                    path = str(args[at]) if len(args) > at else ""
                    if path == work or path.startswith(work + os.sep):
                        calls.append(path)
                        if len(calls) == k:
                            raise Crash(f"crash point {k} at {path}")
                    return real(*args, **kwargs)

                return crashing

            with pytest.MonkeyPatch.context() as mp:
                for owner, name, at in _crash_points():
                    mp.setattr(owner, name, arm(getattr(owner, name), at))
                try:
                    run(work)
                except Exception as exc:
                    if f"crash point {k} at" not in str(exc):
                        raise
            if len(calls) < k:
                assert state(work) == want
                return k - 1
            run(work)
            assert state(work) == want, f"resumed after {calls[-1]}"

    return sweep
