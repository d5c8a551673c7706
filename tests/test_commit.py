"""The shared manifest-commit seam (pipeline/commit.py, VERDICT r10
Missing #4): one tested code path for the atomic marker, the versioned
publish with pointer flip, and the pruned dynamic-partition overwrite.
The crash-replay assertions live HERE — the three landing seams
(pack-shards markers, cluster-index bucket rewrite, DSIR model fold)
inherit them by construction."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from miletos_spark.pipeline.commit import (
    current_version,
    overwrite_partitions,
    publish_version,
    read_marker,
    write_marker,
)


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


def test_publish_version_flip_and_noop(tmp_path):
    ptr = str(tmp_path / "CURRENT")
    calls = []

    def build(d):
        calls.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "data"), "w") as f:
            f.write("v0")

    target, wrote = publish_version(ptr, "v0", build)
    assert wrote and current_version(ptr) == target
    # committed version: verified no-op, build not re-run
    _, wrote2 = publish_version(ptr, "v0", build)
    assert not wrote2 and len(calls) == 1


def test_publish_version_crash_before_flip_replays_clean(tmp_path):
    """The ADVICE r10 crash window: die after the build commits but
    before the pointer flips → the pointer still names the OLD
    version, and the replay rebuilds the new one from unchanged
    inputs — the increment is applied exactly once."""
    ptr = str(tmp_path / "CURRENT")

    def write_counts(d, value):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "counts"), "w") as f:
            f.write(str(value))

    publish_version(ptr, "v0", lambda d: write_counts(d, 10))

    def fold(d):
        with open(os.path.join(current_version(ptr), "counts")) as f:
            base = int(f.read())
        write_counts(d, base + 5)  # derived from COMMITTED version only

    class Boom(RuntimeError):
        pass

    def fold_then_crash(d):
        fold(d)
        raise Boom()  # dies after the data is on disk, before the flip

    with pytest.raises(Boom):
        publish_version(ptr, "v1", fold_then_crash)
    # pointer untouched; the half-published dir is invisible
    assert os.path.basename(current_version(ptr)) == "v0"
    # replay: same fold, lands exactly once
    publish_version(ptr, "v1", fold)
    with open(os.path.join(current_version(ptr), "counts")) as f:
        assert int(f.read()) == 15


def test_overwrite_partitions_prunes_and_drains(spark, tmp_path):
    path = str(tmp_path / "part")
    base = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "v long, _pb int"
    )
    base.write.partitionBy("_pb").parquet(path)
    # rewrite partitions 1 and 2: 1 gets new content, 2 drains to zero
    rows = spark.createDataFrame([(100, 1), (101, 1)], "v long, _pb int")
    overwrite_partitions(spark, rows, path, "_pb", [1, 2])
    got = {
        (r["v"], r["_pb"])
        for r in spark.read.parquet(path).collect()
    }
    want = {(i, i % 4) for i in range(40) if i % 4 in (0, 3)} | {
        (100, 1),
        (101, 1),
    }
    assert got == want
    assert not os.path.exists(os.path.join(path, "_pb=2"))
    # untouched partition dirs survive byte-for-byte (never rewritten)
    assert os.path.isdir(os.path.join(path, "_pb=0"))
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        != "dynamic"
    )


def test_dsir_versioned_fold_is_crash_idempotent(spark, tmp_path):
    """End-to-end replay of the seam that motivated the module: the
    DSIR count fold through publish_version applies a batch exactly
    once even when the first attempt dies between the parquet write
    and the pointer flip (the double-fold bug the old
    overwrite-then-marker ordering had)."""
    from miletos_spark.pipeline.landing import (
        dsir_bucket_counts,
        update_dsir_model,
    )

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 2 == 0 else "fr", f"alpha beta gamma doc {i}")
            for i in range(30)
        ],
        "doc_id long, lang string, text string",
    )
    init = docs.filter(F.col("doc_id") < 20)
    batch = docs.filter(F.col("doc_id") >= 20)

    root = str(tmp_path / "dsir")
    os.makedirs(root)
    ptr = os.path.join(root, "MODEL_CURRENT")
    publish_version(
        ptr,
        "model_v0",
        lambda d: dsir_bucket_counts(init, 16)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(d),
    )
    v0 = current_version(ptr)

    class Boom(RuntimeError):
        pass

    def fold_crash(d):
        update_dsir_model(spark, v0, batch, m_buckets=16, out_path=d)
        raise Boom()

    with pytest.raises(Boom):
        publish_version(ptr, "model_v1", fold_crash)
    assert os.path.basename(current_version(ptr)) == "model_v0"
    publish_version(
        ptr,
        "model_v1",
        lambda d: update_dsir_model(
            spark, v0, batch, m_buckets=16, out_path=d
        ),
    )
    got = {
        (r["bucket"], r["ct"], r["cr"])
        for r in spark.read.parquet(current_version(ptr)).collect()
    }
    want = {
        (r["bucket"], r["ct"], r["cr"])
        for r in dsir_bucket_counts(docs, 16).collect()
    }
    assert got == want  # folded exactly once == full rebuild
    shutil.rmtree(root, ignore_errors=True)

def test_fold_partitions_versioned_atomic_and_replay_noop(spark, tmp_path):
    """ADVICE r11 (update_bucket_counts crash safety), at the seam:
    the versioned partition fold (a) re-references untouched
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


def test_update_bucket_counts_replayed_batch_is_noop(spark, tmp_path):
    """The landing-level contract over the seam: a replayed
    update_bucket_counts batch_tag leaves counts and max_bucket stats
    exactly as the first application did."""
    from miletos_spark.pipeline.commit import fold_partitions_versioned
    from miletos_spark.pipeline.landing import (
        BAND_GROUPS,
        bucket_counts_dir,
        read_index_stats,
        update_bucket_counts,
        write_index_stats,
    )

    root = str(tmp_path / "idx")
    paths = {"counts": os.path.join(root, "bucket_counts")}
    init = spark.createDataFrame(
        [(b, f"h{b}", 1) for b in range(8)], "band int, bhash string, c long"
    ).withColumn("_bg", F.pmod(F.xxhash64("band", "bhash"), F.lit(BAND_GROUPS)))
    fold_partitions_versioned(
        init, paths["counts"], "_bg", range(BAND_GROUPS), "__init__"
    )
    write_index_stats(root, {"max_bucket": 1})

    batch = spark.createDataFrame(
        [(0, "h0"), (0, "h0"), (1, "hx")], "band int, bhash string"
    )
    update_bucket_counts(spark, paths, batch, ["band", "bhash"], batch_tag="b7")
    snap = sorted(
        (r["band"], r["bhash"], r["c"])
        for r in spark.read.parquet(bucket_counts_dir(paths)).collect()
    )
    stats = read_index_stats(root)
    assert stats["max_bucket"] == 3  # h0: 1 + 2

    update_bucket_counts(spark, paths, batch, ["band", "bhash"], batch_tag="b7")
    assert sorted(
        (r["band"], r["bhash"], r["c"])
        for r in spark.read.parquet(bucket_counts_dir(paths)).collect()
    ) == snap
    assert read_index_stats(root)["max_bucket"] == 3


def test_fold_partitions_versioned_rejects_escaped_values(spark, tmp_path):
    """ADVICE r12: untouched-partition matching compares raw dir names,
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
    # ADVICE r13: a TRAILING NEWLINE slipped past the old $-anchored
    # regex (Python's $ matches before '\n') yet Spark escapes '\n' in
    # partition dirs — fullmatch closes it
    nl = spark.createDataFrame([("a\n", 1)], "_bg string, v int")
    with _pytest.raises(ValueError, match="path escaping"):
        fold_partitions_versioned(
            nl, str(tmp_path / "store3"), "_bg", ["a\n"], "b0"
        )


def test_overwrite_partitions_rejects_escaped_values(spark, tmp_path):
    """ADVICE r13: `overwrite_partitions` builds raw f'{part_col}={p}'
    paths for drained-partition deletion — a value Spark escapes
    produces a non-matching path whose rmtree(ignore_errors=True)
    silently leaves the stale partition's rows live. Same guard as
    `fold_partitions_versioned` (shared `_check_part_safe` helper)."""
    import pytest as _pytest

    path = str(tmp_path / "part")
    base = spark.createDataFrame([(1, "a b"), (2, "ok")], "v int, _pb string")
    base.write.partitionBy("_pb").parquet(path)
    rows = spark.createDataFrame([(9, "ok")], "v int, _pb string")
    with _pytest.raises(ValueError, match="path escaping"):
        overwrite_partitions(spark, rows, path, "_pb", ["a b", "ok"])
    with _pytest.raises(ValueError, match="path escaping"):
        overwrite_partitions(spark, rows, path, "_pb", ["ok\n"])
    # the guard did not disturb the landed data, and safe values work
    assert spark.read.parquet(path).count() == 2
    overwrite_partitions(spark, rows, path, "_pb", ["ok"])
    got = {
        (r["v"], r["_pb"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a b"), (9, "ok")}


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
