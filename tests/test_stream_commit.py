"""Exactly-once output of the three `foreachBatch` writers
(`stream_pack_shards`, `stream_pack_bins`, `stream_media_decisions`),
which all commit through `pipeline.commit.drain_committed` and read
back through `pipeline.commit.read_committed`: a restart that renumbers
batches must refuse rather than double-count, an uncommitted batch dir
must be invisible, and a crash at any commit point must resume to the
uninterrupted output."""

from __future__ import annotations

import os
import shutil

import pytest

from miletos_spark.pipeline import commit
from miletos_spark.plans.driver_queries import (
    CURATION_STREAM_SCHEMA,
    _land_docs_pack_feed,
    _land_docs_tokens_parity_feed,
    _land_media_arrivals,
    _land_media_phash_index,
)
from miletos_spark.streaming import ingest


def _dirs(work):
    return os.path.join(work, "out"), os.path.join(work, "state")


def _shards(spark, sf_dir, work, mft=1):
    ingest.stream_pack_shards(
        spark, _land_docs_pack_feed(spark, sf_dir), CURATION_STREAM_SCHEMA,
        *_dirs(work), capacity=512, max_files_per_trigger=mft,
    )


def _bins(spark, sf_dir, work, mft=1):
    ingest.stream_pack_bins(
        spark, _land_docs_tokens_parity_feed(spark, sf_dir),
        "lang string, doc_id long, n_tokens long", *_dirs(work),
        capacity=512, block_width=256, max_files_per_trigger=mft,
    )


def _media(spark, sf_dir, work, mft=1):
    from miletos_spark.pipeline.multimodal import MEDIA_SCHEMA

    ingest.stream_media_decisions(
        spark, _land_media_arrivals(spark), MEDIA_SCHEMA,
        _land_media_phash_index(spark), *_dirs(work),
        max_files_per_trigger=mft,
    )


# drain name -> (drain into work/{out,state}, its committed reader)
DRAINS = {
    "shards": (_shards, ingest.read_committed_shards),
    "bins": (_bins, ingest.read_stream_pack_bins),
    "media": (_media, ingest.read_media_decisions),
}


def _committed(spark, name, work):
    """(sorted committed rows, marker payloads in batch order)."""
    rows = DRAINS[name][1](spark, *_dirs(work)).collect()
    commits = os.path.join(work, "state", "commits")
    ids = sorted(int(m) for m in os.listdir(commits) if m.isdigit())
    return (
        sorted(tuple(r) for r in rows),
        [commit.read_marker(os.path.join(commits, str(i))) for i in ids],
    )


def test_stream_pack_bins_fresh_checkpoint_restart_never_double_counts(
    spark, sf_dir, tmp_path
):
    """A restart with a fresh checkpoint and no trigger limit makes
    batch 0 the whole feed. Overwriting b=0 with it while b=1 keeps the
    old second file's rows double-counted every odd doc (750 rows for
    500 docs before batches were committed); the manifest check now
    refuses the renumbered batch and the reader still sees each doc
    once."""
    work = str(tmp_path)
    _bins(spark, sf_dir, work)
    n = ingest.read_stream_pack_bins(spark, *_dirs(work)).count()
    shutil.rmtree(os.path.join(work, "state", "ckpt"))
    try:
        _bins(spark, sf_dir, work, mft=None)
        err = ""
    except Exception as exc:
        err = str(exc)
    ids = [
        r["doc_id"]
        for r in ingest.read_stream_pack_bins(spark, *_dirs(work)).collect()
    ]
    assert len(ids) == len(set(ids)) == n, f"{len(ids)} rows, {n} docs"
    assert "manifest" in err


def test_fresh_checkpoint_replay_verifies_bare_list_markers(
    spark, sf_dir, tmp_path
):
    """A marker written before payloads rode the commit is the bare
    manifest list. Replaying the same batches from a fresh checkpoint
    checks each against it and skips them: no raise, and the reader
    still returns the committed rows once."""
    work = str(tmp_path)
    _bins(spark, sf_dir, work)
    want = _committed(spark, "bins", work)[0]
    commits = os.path.join(work, "state", "commits")
    for m in os.listdir(commits):
        path = os.path.join(commits, m)
        commit.write_marker(path, commit.read_marker(path)["files"])
    shutil.rmtree(os.path.join(work, "state", "ckpt"))
    _bins(spark, sf_dir, work)
    assert _committed(spark, "bins", work)[0] == want


@pytest.mark.parametrize("name", ["bins", "media"])
def test_uncommitted_batch_dir_is_invisible(spark, sf_dir, tmp_path, name):
    """A batch dir whose marker never landed (a killed write, a crash
    before the commit) is not read back."""
    work = str(tmp_path)
    drain, read = DRAINS[name]
    drain(spark, sf_dir, work)
    n = read(spark, *_dirs(work)).count()
    out = _dirs(work)[0]
    shutil.copytree(os.path.join(out, "b=0"), os.path.join(out, "b=99"))
    got = read(spark, *_dirs(work)).count()
    assert got == n, f"{got} rows through the reader, {n} committed"


@pytest.mark.parametrize("name", sorted(DRAINS))
def test_drain_crash_at_every_marker_resumes_exactly_once(
    spark, sf_dir, crash_sweep, name
):
    """For every k, the k-th crash point of the drain fails — a batch
    write, a marker write or its rename — and resuming on the same
    state must give the committed rows and marker payloads (manifests,
    and for the shards their carried offsets) of an uninterrupted
    drain."""
    drain = DRAINS[name][0]
    swept = crash_sweep(
        lambda work: drain(spark, sf_dir, work),
        lambda work: _committed(spark, name, work),
    )
    assert swept >= 4


def test_stream_registry_rows_leave_no_work_dir(spark, sf_dir):
    """A registry row that drains a stream pins its rows and removes its
    work dir: one call of each adds no `miletos_spack_*` or
    `miletos_smdec_*` entry to the temp dir, and its rows stay readable
    after the dir is gone."""
    import tempfile

    from miletos_spark.plans.driver_queries import (
        q_stream_media_decisions,
        q_stream_pack_shards_docs,
    )

    def work_dirs():
        return {
            n for n in os.listdir(tempfile.gettempdir())
            if n.startswith(("miletos_spack_", "miletos_smdec_"))
        }

    before = work_dirs()
    rows = [
        q(spark, sf_dir).count()
        for q in (q_stream_pack_shards_docs, q_stream_media_decisions)
    ]
    assert work_dirs() - before == set()
    assert min(rows) > 0
