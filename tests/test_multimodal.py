"""Multimodal column pipeline: schema/batch plumbing real, codec fake."""

import pytest
from pyspark.sql import functions as F

from miletos_spark.pipeline.multimodal import (
    decode_media,
    frame_sample,
    media_features,
    resize_pixels,
    synth_media,
)

PX = 8


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, n=12, frame_px=PX).cache()


def test_synth_media_payload_sizes(media):
    rows = media.select(
        "kind", F.length("payload").alias("nb"), "n_frames"
    ).collect()
    for r in rows:
        assert r["nb"] == r["n_frames"] * PX * PX


def test_decode_one_row_per_frame(media):
    dec = decode_media(media)
    n_frames = media.agg(F.sum("n_frames")).first()[0]
    assert dec.count() == n_frames
    row = dec.first()
    assert len(row["pixels"]) == PX * PX
    assert all(0.0 <= v <= 255.0 for v in row["pixels"])


def test_decode_deterministic(media):
    a = sorted(decode_media(media).collect(), key=lambda r: (r["media_id"], r["frame"]))
    b = sorted(decode_media(media).collect(), key=lambda r: (r["media_id"], r["frame"]))
    assert [r["pixels"] for r in a] == [r["pixels"] for r in b]


def test_frame_sample(media):
    dec = decode_media(media)
    kept = frame_sample(dec, every_k=2)
    vids = kept.filter(F.col("kind") == "video")
    assert vids.filter(F.col("frame") % 2 != 0).count() == 0
    assert kept.filter(F.col("kind") == "image").count() == dec.filter(
        F.col("kind") == "image"
    ).count()


def test_resize_block_mean(media):
    dec = decode_media(media)
    small = resize_pixels(dec, src_px=PX, factor=2)
    row = small.first()
    assert len(row["pixels_small"]) == (PX // 2) ** 2
    # explicit check: first output pixel = mean of the 2x2 source block
    src = decode_media(media).filter(
        (F.col("media_id") == row["media_id"]) & (F.col("frame") == row["frame"])
    ).first()["pixels"]
    expect = (src[0] + src[1] + src[PX] + src[PX + 1]) / 4.0
    assert row["pixels_small"][0] == pytest.approx(expect)


def test_media_features(media):
    feats = media_features(decode_media(media))
    row = feats.first()
    assert 0.0 <= row["brightness"] <= 255.0
    assert row["px_min"] <= row["brightness"] <= row["px_max"]
    assert row["contrast"] >= 0.0


def test_media_phash_pairs_recover_planted_reuploads(spark):
    """The banded Hamming join must find every planted re-upload
    (trimmed video at Hamming 0; first-byte-decremented image at <=3)
    and the candidate join must be an equi-join on (band, chunk)."""
    from pyspark.sql import functions as F

    from miletos_spark.plans.driver_queries import q_media_near_dup

    pairs = q_media_near_dup(spark, "unused")
    rows = pairs.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    for mid in range(64):
        assert (mid, mid + 1000) in got, f"planted copy of {mid} missed"
    # video copies are byte-equal to their source frames -> Hamming 0
    vid0 = [
        r for r in rows
        if r["id_b"] == r["id_a"] + 1000 and r["id_a"] % 3 == 0
    ]
    assert vid0 and all(r["hamming"] == 0 for r in vid0)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_stream_media_near_dup_equals_batch(spark):
    """The streaming arrival-vs-landed drain must equal the batch
    banded join reoriented (copy side as arrival) — same planted
    re-uploads, same Hamming cut, bit-equal pair set."""
    from miletos_spark.plans.driver_queries import (
        q_media_near_dup,
        q_stream_media_near_dup,
    )

    got = {
        (r["arrival_id"], r["frame_a"], r["matched_id"], r["frame_b"],
         r["hamming"])
        for r in q_stream_media_near_dup(spark, "unused").collect()
    }
    batch = {
        (r["id_b"], r["frame_b"], r["id_a"], r["frame_a"], r["hamming"])
        for r in q_media_near_dup(spark, "unused").collect()
    }
    assert got == batch and len(got) > 0


def test_media_dedup_decisions_black_frame_hub(spark):
    """The hub shape the pairs contract can't escape (VERDICT r9
    Wrong #1): many media share an identical black frame. Decisions
    must (a) never pair media on boilerplate alone, (b) still recover
    a genuine full re-upload, and (c) with max_df the black
    fingerprint is dropped from evidence entirely — the distinct-fp
    band join and the evidence joins never see the replica hub."""
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.multimodal import (
        media_dedup_decisions,
        phash_frames,
    )

    import hashlib

    def uniq_px(i: int) -> list:
        # md5-derived pseudorandom pixels: pairwise aHash distances are
        # ~32 bits apart (a brightness-shifted ramp would NOT do — the
        # hash is shift-invariant by design and ramps would genuinely
        # near-match)
        raw = b"".join(
            hashlib.md5(f"{i}|{j}".encode()).digest() for j in range(4)
        )
        return [float(b) for b in raw]

    k = 12
    rows = []
    for i in range(k):
        # frame 0: unique pseudorandom pattern; frame 1: black
        rows.append((i, "video", 0, uniq_px(i)))
        rows.append((i, "video", 1, [0.0] * 64))
    # media 100: exact re-upload of media 0 (both frames)
    rows.append((100, "video", 0, uniq_px(0)))
    rows.append((100, "video", 1, [0.0] * 64))
    decoded = spark.createDataFrame(
        rows, "media_id long, kind string, frame int, pixels array<double>"
    )

    # the black fp is one DISTINCT fingerprint regardless of replicas
    fps = phash_frames(decoded)
    n_black = (
        fps.filter(F.col("phash_hex") == "0" * 16)
        .select("phash_hex").distinct().count()
    )
    assert n_black == 1

    for mdf in (None, 3):
        got = {
            (r["media_id"], r["keep_id"])
            for r in media_dedup_decisions(
                decoded, max_hamming=3, frac_threshold=0.8, max_df=mdf
            ).collect()
        }
        # only the genuine re-upload pairs; boilerplate-only overlap
        # (1 of 2 frames) stays below the 0.8 containment cut
        assert got == {(0, 0), (100, 0)}, f"max_df={mdf}: {got}"


def test_stream_media_decisions_equals_batch_composition(spark, tmp_path):
    """stream≡batch for the media verdict tier (r11): draining the
    planted re-uploads through `stream_media_decisions` (2-file feed,
    1-file triggers) yields exactly the verdict set the batch
    `media_arrival_decisions` composition produces over all arrivals
    at once against the same landed band index."""
    import os

    from miletos_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        media_arrival_decisions,
        phash_frames,
        synth_media,
    )
    from miletos_spark.plans.driver_queries import _media_reuploads
    from miletos_spark.pipeline.commit import read_committed
    from miletos_spark.streaming.ingest import (
        MEDIA_DECISION_SCHEMA,
        stream_media_decisions,
    )

    media = synth_media(spark, n=24, frame_px=8)
    arrivals = _media_reuploads(media)

    # landed index: banded corpus fps
    banded = phash_frames(decode_media(media)).select(
        "media_id",
        "frame",
        "phash_hex",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("phash_hex", 1 + 4 * b, 4).alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("media_id", "frame", "phash_hex", "bb.band", "bb.chunk")
    bands_path = str(tmp_path / "bands")
    banded.write.partitionBy("band").parquet(bands_path)

    feed = str(tmp_path / "feed")
    arrivals.repartition(2).write.parquet(feed)
    out_dir = str(tmp_path / "out")
    stream_media_decisions(
        spark,
        feed,
        MEDIA_SCHEMA,
        bands_path,
        out_dir,
        str(tmp_path / "state"),
        max_hamming=3,
        frac_threshold=0.8,
        max_files_per_trigger=1,
    )
    got = {
        (r["arrival_id"], r["matched_id"], r["n_frames"], r["n_matched"])
        for r in read_committed(
            spark, out_dir, str(tmp_path / "state"), MEDIA_DECISION_SCHEMA
        ).collect()
    }

    arr_fps = phash_frames(decode_media(arrivals)).select(
        F.col("media_id").alias("arrival_id"),
        "frame",
        F.col("phash_hex").alias("fp"),
    )
    want = {
        (r["arrival_id"], r["matched_id"], r["n_frames"], r["n_matched"])
        for r in media_arrival_decisions(
            arr_fps, spark.read.parquet(bands_path),
            max_hamming=3, frac_threshold=0.8,
        ).collect()
    }
    assert got == want and len(got) > 0
    # every planted copy (ids +1000) decides onto its source
    assert {(a - 1000, m) for a, m, _, _ in got} == {
        (m, m) for _, m, _, _ in got
    }

def test_media_arrival_decisions_landed_fp_df_hub_pruning(spark):
    """ADVICE r11: with max_df, the hub set must be derivable from the
    LANDED (fp, df) table (no per-call groupBy over the full presence
    table), and the banded candidate table must be hub-pruned too.
    Both the landed-df path and the fallback must produce identical
    verdicts on a black-frame hub corpus, and the landed path's plan
    must not aggregate the presence table."""
    import hashlib

    from miletos_spark.pipeline.multimodal import (
        media_arrival_decisions,
        phash_frames,
    )

    def uniq_px(i: int) -> list:
        raw = b"".join(
            hashlib.md5(f"{i}|{j}".encode()).digest() for j in range(4)
        )
        return [float(b) for b in raw]

    k = 12
    rows = []
    for i in range(k):
        rows.append((i, "video", 0, uniq_px(i)))
        rows.append((i, "video", 1, [0.0] * 64))  # shared black hub frame
    corpus = spark.createDataFrame(
        rows, "media_id long, kind string, frame int, pixels array<double>"
    )
    banded = phash_frames(corpus).select(
        "media_id",
        "frame",
        "phash_hex",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("phash_hex", 1 + 4 * b, 4).alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("media_id", "frame", "phash_hex", "bb.band", "bb.chunk")
    pres = banded.filter(F.col("band") == 0).select(
        "media_id", F.col("phash_hex").alias("fp")
    ).distinct()
    landed_d = banded.select("band", "chunk", "phash_hex").distinct()
    fp_df = pres.groupBy("fp").agg(F.count("*").alias("df"))

    # arrival 100: re-upload of media 0 (unique frame + black frame)
    arr = phash_frames(
        spark.createDataFrame(
            [(100, "video", 0, uniq_px(0)), (100, "video", 1, [0.0] * 64)],
            "media_id long, kind string, frame int, pixels array<double>",
        )
    ).select(
        F.col("media_id").alias("arrival_id"),
        "frame",
        F.col("phash_hex").alias("fp"),
    )

    def run(**kw):
        return {
            (r["arrival_id"], r["matched_id"], r["n_frames"], r["n_matched"])
            for r in media_arrival_decisions(
                arr, banded, max_hamming=3, frac_threshold=0.8, **kw
            ).collect()
        }

    # discriminative semantics: the black hub frame is out of both the
    # numerator and the denominator
    want = {(100, 0, 1, 1)}
    fallback = run(max_df=3)
    landed = run(
        max_df=3,
        landed_distinct=landed_d,
        landed_presence=pres,
        landed_fp_df=fp_df,
    )
    assert fallback == landed == want

    # the landed-df plan never aggregates the presence table: with a
    # pre-collected (fp, df) table the hub set is a pure filter. The
    # fallback's presence-groupBy subtree replicates into EVERY
    # anti-join that consumes the hub set (3 of them — the logical
    # plan shares nothing), so the landed form drops well more than
    # one Aggregate; pin the strict ordering, not the exact count.
    pinned = spark.createDataFrame(fp_df.collect(), "fp string, df long")

    def n_aggs(**kw):
        dec = media_arrival_decisions(
            arr, banded, max_hamming=3, frac_threshold=0.8, max_df=3,
            landed_distinct=landed_d, landed_presence=pres, **kw,
        )
        return dec._jdf.queryExecution().optimizedPlan().toString().count(
            "Aggregate"
        )

    assert n_aggs(landed_fp_df=pinned) < n_aggs()


def test_phash_expr_spelling_bit_identical(spark, media):
    """r14 construction fix: the one-F.expr hex assembly must equal the
    old per-Column spelling BIT FOR BIT (pHashes feed oracle-checked
    banded joins; only the build path changed)."""
    from miletos_spark.pipeline.multimodal import phash_frames

    dec = decode_media(media).localCheckpoint(eager=True)

    def old_spelling(df):
        px = F.col("pixels")
        mean = F.aggregate(px, F.lit(0.0), lambda a, x: a + x) / F.size(px)
        d = df.select(
            F.col("media_id"), "kind", "frame", "pixels", mean.alias("_mean")
        )
        hex_digits = "0123456789abcdef"
        chars = []
        for n in range(16):
            nib = None
            for j in range(4):
                term = F.when(
                    F.element_at(px, 4 * n + j + 1) > F.col("_mean"),
                    F.lit(1 << j),
                ).otherwise(0)
                nib = term if nib is None else nib + term
            chars.append(F.lit(hex_digits).substr(nib + F.lit(1), F.lit(1)))
        return d.select(
            F.col("media_id"), "kind", "frame",
            F.concat(*chars).alias("phash_hex"),
        )

    key = lambda r: (r["media_id"], r["frame"])  # noqa: E731
    new = {key(r): r["phash_hex"] for r in phash_frames(dec).collect()}
    old = {key(r): r["phash_hex"] for r in old_spelling(dec).collect()}
    assert new == old
