"""The commit seam (pipeline/commit.py): the atomic marker, the
build-once `land_once` publish, and the versioned partition fold — the
two commit shapes of incremental state. `test_crash_sweep_resumes_
exactly_once` crashes each writer built on them at every commit point
(the drains' sweep is in test_stream_commit.py)."""

from __future__ import annotations

import os

import pytest

from miletos_spark.pipeline import commit
from miletos_spark.pipeline.commit import read_marker, write_marker


def test_marker_roundtrip_and_atomicity(tmp_path):
    p = str(tmp_path / "commits" / "7")
    assert read_marker(p) is None
    write_marker(p, ["a.parquet", "b.parquet"])
    assert read_marker(p) == ["a.parquet", "b.parquet"]
    # no tmp residue; re-publish replaces atomically
    write_marker(p, ["c.parquet"])
    assert read_marker(p) == ["c.parquet"]
    assert os.listdir(tmp_path / "commits") == ["7"]


def test_marker_concurrent_writers_never_share_a_tmp(tmp_path):
    """Two writers of one marker path: with a shared `<path>.tmp` one
    writer's `os.replace` moved the other's tmp away (FileNotFoundError)
    or published a file both were writing into. Each write now has its
    own tmp, so every call succeeds and the marker is always one
    complete payload."""
    import threading

    p = str(tmp_path / "commits" / "0")
    payloads = [{"files": [f"{w}-{i}" for i in range(2000)]} for w in "ab"]
    barrier = threading.Barrier(2)
    errors = []

    def writer(payload):
        barrier.wait(timeout=60)
        try:
            for _ in range(200):
                write_marker(p, payload)
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(x,)) for x in payloads]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert read_marker(p) in payloads
    assert os.listdir(tmp_path / "commits") == ["0"]


def test_fold_partitions_versioned_atomic_and_replay_noop(spark, tmp_path):
    """The versioned partition fold (a) re-references untouched
    partitions, (b) survives a stale half-built target from a crashed
    attempt, (c) no-ops a replayed batch_tag, and (d) keeps counts
    equal to a rebuild through all of it."""
    from miletos_spark.pipeline.commit import (
        current_fold_version,
        fold_partitions_versioned,
    )

    store = str(tmp_path / "counts")
    base = spark.createDataFrame(
        [(k, 10 + k, k % 4) for k in range(8)], "k long, c long, _bg int"
    )
    d0, applied = fold_partitions_versioned(
        base, store, "_bg", range(4), "__init__"
    )
    assert applied and os.path.basename(d0) == "v0"

    # crashed attempt left a half-built v1: the fold must clear it
    os.makedirs(os.path.join(store, "v1", "_bg=9"))
    with open(os.path.join(store, "v1", "_bg=9", "junk"), "w") as f:
        f.write("partial")

    # fold batch b1: +5 on keys 0..3 (groups 0..3 touched via k%4 ...
    # keys 0..3 live in groups 0..3) — here only groups {0, 1} touched
    merged = spark.createDataFrame(
        [(0, 115, 0), (1, 116, 1)], "k long, c long, _bg int"
    )
    d1, applied = fold_partitions_versioned(merged, store, "_bg", [0, 1], "b1")
    assert applied and os.path.basename(d1) == "v1"
    assert current_fold_version(store) == d1
    assert not os.path.exists(os.path.join(store, "v1", "_bg=9"))

    got = {
        (r["k"], r["c"]) for r in spark.read.parquet(d1).collect()
    }
    want = {(0, 115), (1, 116)} | {
        (k, 10 + k) for k in range(8) if k % 4 not in (0, 1)
    }
    assert got == want

    # replayed batch: verified no-op — no new version, counts unchanged
    d2, applied = fold_partitions_versioned(merged, store, "_bg", [0, 1], "b1")
    assert not applied and d2 == d1
    assert {
        (r["k"], r["c"]) for r in spark.read.parquet(current_fold_version(store)).collect()
    } == want


def test_fold_partitions_versioned_rejects_escaped_values(spark, tmp_path):
    """Untouched-partition matching compares raw dir names,
    so a partition value Spark would URL-escape (space, '%', ':') must
    be rejected up front — it would otherwise be BOTH hardlinked from
    the previous version and rewritten fresh, duplicating rows."""
    import pytest as _pytest

    from miletos_spark.pipeline.commit import fold_partitions_versioned

    rows = spark.createDataFrame([("a b", 1)], "_bg string, v int")
    with _pytest.raises(ValueError, match="path escaping"):
        fold_partitions_versioned(
            rows, str(tmp_path / "store"), "_bg", ["a b"], "b0"
        )
    # plain ints and path-safe strings still fold
    ok = spark.createDataFrame([(3, 1)], "_bg int, v int")
    d, applied = fold_partitions_versioned(
        ok, str(tmp_path / "store2"), "_bg", [3], "b0"
    )
    assert applied and spark.read.parquet(d).count() == 1
    # a trailing newline passes a $-anchored regex (Python's $ matches
    # before '\n'), yet Spark escapes '\n' in partition dirs
    nl = spark.createDataFrame([("a\n", 1)], "_bg string, v int")
    with _pytest.raises(ValueError, match="path escaping"):
        fold_partitions_versioned(
            nl, str(tmp_path / "store3"), "_bg", ["a\n"], "b0"
        )


def test_land_once_concurrent_builders_publish_one_complete_dir(
    tmp_path, monkeypatch
):
    """Two builders of the same key racing past the existence check:
    each builds its own tmp sibling, the first rename publishes, the
    loser discards its copy and returns the winner's directory."""
    import tempfile
    import threading
    import time

    from miletos_spark.pipeline.commit import land_once

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    builds = []
    lock = threading.Lock()
    barrier = threading.Barrier(2)

    def build(d):
        with lock:
            builds.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "a"), "w") as f:
            f.write("a")
        time.sleep(0.2)  # both builders are mid-build together
        with open(os.path.join(d, "b"), "w") as f:
            f.write("b")

    got = [None, None]

    def call(i):
        barrier.wait(timeout=60)
        got[i] = land_once("race", build)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert 1 <= len(builds) <= 2
    assert got[0] == got[1] and got[0] is not None
    assert sorted(os.listdir(got[0])) == ["a", "b"]
    assert [n for n in os.listdir(tmp_path) if n.endswith(".tmp")] == []
    assert land_once("race", build) == got[0] and len(builds) <= 2


def test_land_once_failed_build_publishes_nothing_and_overwrite_swaps(
    tmp_path, monkeypatch
):
    """A build that raises leaves neither the root nor its tmp sibling,
    so the next call rebuilds; `overwrite` replaces a published root
    whole and leaves no sibling behind."""
    import tempfile

    from miletos_spark.pipeline.commit import land_once

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = tmp_path / "src.txt"
    src.write_text("v1")

    def failing(d):
        os.makedirs(os.path.join(d, "_temporary", "0"))
        raise RuntimeError("killed mid-write")

    def writer(text):
        def build(d):
            os.makedirs(d)
            with open(os.path.join(d, "out"), "w") as f:
                f.write(text)
        return build

    with pytest.raises(RuntimeError):
        land_once("t", failing, str(src))
    assert os.listdir(tmp_path) == ["src.txt"]
    root = land_once("t", writer("first"), str(src))
    assert land_once("t", failing, str(src)) == root  # memo hit
    assert land_once("t", writer("second"), str(src), overwrite=True) == root
    with open(os.path.join(root, "out")) as f:
        assert f.read() == "second"
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["src.txt", os.path.basename(root)]
    )
    # a different tag or a changed source is a different landing
    assert land_once("u", writer("x"), str(src)) != root
    src.write_text("v2, longer")
    assert land_once("t", writer("third"), str(src)) != root


def test_land_once_sweeps_the_tmp_of_a_killed_builder(tmp_path, monkeypatch):
    """A builder SIGKILLed mid-build never reaches its cleanup, so its
    `<root>.<pid>.<uuid4>.tmp` stays behind. The next build removes the
    tmp of every builder whose pid is dead, then publishes the root."""
    import signal
    import subprocess
    import sys
    import tempfile
    import time

    from miletos_spark.pipeline.commit import land_once

    ready = tmp_path / "ready"
    child = subprocess.Popen(
        [sys.executable, "-c", (
            "import os, time\n"
            "from miletos_spark.pipeline.commit import land_once\n"
            "def build(d):\n"
            "    os.makedirs(d)\n"
            f"    open({str(ready)!r}, 'w').close()\n"
            "    time.sleep(600)\n"
            "land_once('killed', build)\n"
        )],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        deadline = time.monotonic() + 120
        while not ready.exists():
            assert child.poll() is None, "builder exited before building"
            assert time.monotonic() < deadline, "builder never started"
            time.sleep(0.05)
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait(timeout=60)
    orphans = [n for n in os.listdir(tmp_path) if n.endswith(".tmp")]
    assert len(orphans) == 1 and f".{child.pid}." in orphans[0]

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = land_once("killed", os.makedirs)
    assert os.path.isdir(root)
    assert [n for n in os.listdir(tmp_path) if n.endswith(".tmp")] == []


def _land_once_writer(spark):
    """`land_once` itself: a build of two parquet writes and a marker."""
    import tempfile

    def run(work):
        def build(d):
            spark.range(5).write.parquet(os.path.join(d, "a"))
            spark.range(5, 9).write.parquet(os.path.join(d, "b"))
            commit.write_marker(os.path.join(d, "_STATS.json"), {"rows": 9})

        os.makedirs(work, exist_ok=True)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(tempfile, "tempdir", work)
            commit.land_once("sweep", build)

    def state(work):
        [name] = os.listdir(work)  # the root, and no tmp sibling
        root = os.path.join(work, name)
        return (
            name,
            [sorted(r.id for r in spark.read.parquet(os.path.join(root, p))
                    .collect()) for p in "ab"],
            read_marker(os.path.join(root, "_STATS.json")),
        )

    return run, state


def _cluster_fold_writer(spark):
    """The cluster store: land v0, fold a batch that drains a bucket,
    then a batch that prunes the oldest version."""
    from miletos_spark.pipeline.landing import (
        land_cluster_index,
        update_cluster_index,
    )

    def edges(pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    def run(work):
        store = os.path.join(work, "clusters")
        land_cluster_index(spark, edges([(1, 2), (7, 8)]), store, n_buckets=4)
        update_cluster_index(spark, store, edges([(2, 8)]), "b1", n_buckets=4)
        update_cluster_index(
            spark, store, edges([(20, 21), (8, 20)]), "b2", n_buckets=4
        )

    def state(work):
        store = os.path.join(work, "clusters")
        rows = spark.read.parquet(commit.current_fold_version(store))
        return (
            sorted((r.node, r.component) for r in rows.collect()),
            read_marker(os.path.join(store, commit.POINTER_NAME))["batches"],
        )

    return run, state


def _dsir_build_writer(spark, sf_dir):
    """The DSIR model's `land_once` build: land v0, fold the increment."""
    import tempfile

    from miletos_spark.plans.driver_queries import _land_dsir_incremental

    def run(work):
        os.makedirs(work, exist_ok=True)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(tempfile, "tempdir", work)
            _land_dsir_incremental(spark, sf_dir)

    def state(work):
        [name] = os.listdir(work)
        model = os.path.join(work, name, "model")
        return name, sorted(tuple(r) for r in spark.read.parquet(model).collect())

    return run, state


@pytest.mark.parametrize("writer", ["land_once", "cluster_fold", "dsir_build"])
def test_crash_sweep_resumes_exactly_once(spark, sf_dir, crash_sweep, writer):
    """For every k, the writer's k-th commit point (a parquet write, a
    marker write, a rename or a delete) fails; resuming on the same
    state gives exactly the state of an uninterrupted run — no build,
    fold or row applied twice, none lost."""
    run, state = {
        "land_once": lambda: _land_once_writer(spark),
        "cluster_fold": lambda: _cluster_fold_writer(spark),
        "dsir_build": lambda: _dsir_build_writer(spark, sf_dir),
    }[writer]()
    assert crash_sweep(run, state) >= 4
