"""Exactly-once output of the `foreachBatch` writers (`stream_pack_shards`,
`stream_pack_bins`, `stream_media_decisions` and the three near-duplicate
streams `stream_near_dup`, `stream_media_near_dup`,
`stream_semantic_dedup`), which all commit through
`pipeline.commit.drain_committed` and read back through
`pipeline.commit.read_committed`: a restart that renumbers batches must
refuse rather than double-count, an uncommitted batch dir must be
invisible, a crash at any commit point must resume to the uninterrupted
output, and an arrival fed again in a later batch must not emit its
pairs twice."""

from __future__ import annotations

import os
import shutil

import pytest

from miletos_spark.pipeline import commit
from miletos_spark.plans.driver_queries import (
    CURATION_STREAM_SCHEMA,
    EMB_DUP_THRESHOLD,
    _land_docs_neardup_feed,
    _land_docs_pack_feed,
    _land_docs_tokens_parity_feed,
    _land_emb_arrivals,
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


def _near_dup(spark, sf_dir, work, mft=2, feed=None):
    from miletos_spark.pipeline.landing import land_dedup_index

    ingest.stream_near_dup(
        spark, feed or _land_docs_neardup_feed(spark, sf_dir),
        "doc_id long, text string", land_dedup_index(spark, sf_dir)["bands"],
        *_dirs(work), max_files_per_trigger=mft,
    )


def _media_near_dup(spark, sf_dir, work, mft=1, feed=None):
    from miletos_spark.pipeline.multimodal import MEDIA_SCHEMA

    ingest.stream_media_near_dup(
        spark, feed or _land_media_arrivals(spark), MEDIA_SCHEMA,
        _land_media_phash_index(spark), *_dirs(work),
        max_files_per_trigger=mft,
    )


def _semantic(spark, sf_dir, work, mft=1, feed=None):
    from miletos_spark.pipeline.landing import land_ivf2_index_auto

    paths = land_ivf2_index_auto(spark, sf_dir, divisor=16)
    ingest.stream_semantic_dedup(
        spark, feed or _land_emb_arrivals(spark, sf_dir),
        "vec_id long, embedding array<double>",
        spark.read.parquet(paths["coarse"]), spark.read.parquet(paths["fine"]),
        paths["cells"], *_dirs(work), threshold=EMB_DUP_THRESHOLD,
        max_files_per_trigger=mft,
    )


def _reader(schema):
    return lambda spark, out_dir, state_dir: commit.read_committed(
        spark, out_dir, state_dir, schema
    )


# drain name -> (drain into work/{out,state}, its committed reader)
DRAINS = {
    "shards": (_shards, ingest.read_committed_shards),
    "bins": (_bins, _reader(ingest.PACK_BIN_SCHEMA)),
    "media": (_media, _reader(ingest.MEDIA_DECISION_SCHEMA)),
    "near_dup": (_near_dup, _reader(ingest.NEAR_DUP_PAIR_SCHEMA)),
    "media_near_dup": (_media_near_dup, _reader(ingest.MEDIA_MATCH_SCHEMA)),
    "semantic": (_semantic, _reader(ingest.SEMANTIC_MATCH_SCHEMA)),
}
# the drains whose feed can be passed in, with each one's landed feed
FEEDS = {
    "near_dup": _land_docs_neardup_feed,
    "media_near_dup": lambda spark, sf_dir: _land_media_arrivals(spark),
    "semantic": _land_emb_arrivals,
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
    n = DRAINS["bins"][1](spark, *_dirs(work)).count()
    shutil.rmtree(os.path.join(work, "state", "ckpt"))
    try:
        _bins(spark, sf_dir, work, mft=None)
        err = ""
    except Exception as exc:
        err = str(exc)
    ids = [
        r["doc_id"]
        for r in DRAINS["bins"][1](spark, *_dirs(work)).collect()
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


@pytest.mark.parametrize(
    "name", ["bins", "media", "near_dup", "media_near_dup", "semantic"]
)
def test_uncommitted_batch_dir_is_invisible(spark, sf_dir, tmp_path, name):
    """A batch dir whose marker never landed (a killed write, a crash
    before the commit) is not read back. The copied dir is a committed
    batch that holds rows, so reading it back would change the count."""
    work = str(tmp_path)
    drain, read = DRAINS[name]
    drain(spark, sf_dir, work)
    n = read(spark, *_dirs(work)).count()
    out = _dirs(work)[0]
    full = [
        b for b in sorted(os.listdir(out))
        if b.startswith("b=")
        and spark.read.parquet(os.path.join(out, b)).count() > 0
    ]
    assert full, "no committed batch holds a row"
    shutil.copytree(os.path.join(out, full[0]), os.path.join(out, "b=99"))
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
    drain, and leave no marker tmp file behind."""
    drain = DRAINS[name][0]

    def state(work):
        commits = os.path.join(work, "state", "commits")
        tmps = [m for m in os.listdir(commits) if m.endswith(".tmp")]
        return _committed(spark, name, work), tmps

    swept = crash_sweep(lambda work: drain(spark, sf_dir, work), state)
    assert swept >= 4


@pytest.mark.parametrize("name", sorted(FEEDS))
def test_refed_arrival_emits_each_pair_once(spark, sf_dir, tmp_path, name):
    """Every feed file copied under a new name arrives again in later
    batches of the same drain: the pairs it matched are already
    committed, so the drain's rows stay exactly those of the first
    pass, each pair once."""
    feed = str(tmp_path / "feed")
    shutil.copytree(FEEDS[name](spark, sf_dir), feed)
    work = str(tmp_path / "work")
    drain = DRAINS[name][0]
    drain(spark, sf_dir, work, feed=feed)
    want, first = _committed(spark, name, work)
    for f in sorted(os.listdir(feed)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(feed, f), os.path.join(feed, f"re-{f}"))
    drain(spark, sf_dir, work, feed=feed)
    got, markers = _committed(spark, name, work)
    assert len(markers) > len(first), "the copies never arrived"
    assert got == want and len(want) > 0


def test_stream_registry_rows_leave_no_work_dir(spark, sf_dir):
    """A registry row that drains a stream pins its rows and removes its
    work dir: one call of each adds no `miletos_<prefix>_*` entry to
    the temp dir, and its rows stay readable after the dir is gone."""
    import tempfile

    from miletos_spark.plans.driver_queries import (
        q_stream_media_decisions,
        q_stream_media_near_dup,
        q_stream_near_dup_docs,
        q_stream_pack_shards_docs,
        q_stream_semantic_dedup_embeddings,
    )

    prefixes = ("spack", "smdec", "sneardup", "smediand", "ssemdedup")

    def work_dirs():
        return {
            n for n in os.listdir(tempfile.gettempdir())
            if n.startswith(tuple(f"miletos_{p}_" for p in prefixes))
        }

    before = work_dirs()
    rows = [
        q(spark, sf_dir).count()
        for q in (
            q_stream_pack_shards_docs,
            q_stream_media_decisions,
            q_stream_near_dup_docs,
            q_stream_media_near_dup,
            q_stream_semantic_dedup_embeddings,
        )
    ]
    assert work_dirs() - before == set()
    assert min(rows) > 0
