"""Plan-regression tests: the physical shapes that make these queries
scale are asserted, not assumed — a change that adds a shuffle or drops
a broadcast fails here before it shows up in a benchmark."""

import contextlib
import io

import pytest

import __spark_entry__ as e


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    # AQE planning hides static structure; what we assert is the
    # pre-adaptive plan (AQE only improves on it at runtime)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = e.queries()
    out = {}
    for name in (
        "bls_spectrum_events",
        "lomb_scargle_events",
        "region_revenue",
        "pricing_summary",
        "matched_filter_events",
        "similarity_topk",
        "brightness_temp_events",
        "albedo_recirc_events",
        "visibility_events",
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, sf_dir).explain()
        out[name] = buf.getvalue()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return out


def _shuffles(plan):
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def test_bls_broadcasts_trials_single_shuffle(plans):
    p = plans["bls_spectrum_events"]
    # the trial grid is broadcast twice: once into the crossJoin, once
    # to rejoin (period,dcyc,off) onto the int-keyed aggregate output
    assert p.count("BroadcastExchange") == 2
    assert _shuffles(p) == 1                      # the bucket aggregation
    assert "BroadcastNestedLoopJoin" in p         # crossJoin streams


def test_lomb_scargle_broadcasts_grid(plans):
    p = plans["lomb_scargle_events"]
    assert p.count("BroadcastExchange") == 1      # the frequency grid
    assert _shuffles(p) == 1                      # the per-freq moments agg


def test_star_join_broadcasts_dimensions(plans):
    p = plans["region_revenue"]
    assert p.count("BroadcastExchange") >= 3      # region/nation/customer dims
    assert _shuffles(p) <= 2                      # fact join + final agg


def test_scan_heavy_aggregations_one_shuffle(plans):
    assert _shuffles(plans["pricing_summary"]) == 1
    # matched filter routes sessionization through the distributed
    # prefix-sum path: bucket-local window (computed on two branches),
    # tiny per-bucket summary, then the per-region lead window — every
    # full-data shuffle key includes the bucket or the region, never
    # event_type alone
    p = plans["matched_filter_events"]
    assert _shuffles(p) <= 4
    import re

    # every WINDOW over the series must involve the bucket or region
    # key — a spec mentioning event_type alone is the unbounded
    # partition this path exists to eliminate
    specs = [
        m.group(1)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p)
        if "event_type" in m.group(1)
    ]
    assert specs
    for spec in specs:
        assert ("_skt" in spec) or ("region" in spec), (
            f"unbounded window spec: {spec}"
        )
    # exchanges: the bucket window and the lead/cluster windows key on
    # (_skt | region); at most ONE exchange may key on event_type alone
    # (the per-bucket SUMMARY window, whose input is the aggregate —
    # rows scale with span/bucket_width, not samples)
    keys = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p)
    ]
    bare = [
        k for k in keys
        if "event_type" in k and "_skt" not in k and "region" not in k
    ]
    assert len(bare) <= 1, f"multiple full-data event_type-only exchanges: {bare}"
    assert any("_skt" in k for k in keys)
    assert any("region" in k for k in keys)


def test_rolling_windows_partition_on_bounded_keys(spark, sf_dir):
    """The W1/W2/W3 driver queries must never partition a window on
    event_type alone (5 values → 1/5 of all rows in one sort task at
    scale); every windowspec includes the day-chunk key."""
    import re

    qs = e.queries()
    for name in (
        "rolling_std_events",
        "rolling_median_events",
        "rolling_std_peakcut_events",
        "flare_band_events",
        "clip_detrend_events",
    ):
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\((.*?), specifiedwindowframe", plan)
        assert specs, f"{name}: no window found"
        for spec in specs:
            # inline floor(t/86400) exprs are projected to synthetic
            # _wN attributes; named ones appear as _day
            assert re.search(r"_day|_w\d+|floor", spec, re.IGNORECASE), (
                f"{name}: window partitioned without day chunk: {spec[:120]}"
            )


def test_topk_no_shuffle(plans):
    # TakeOrderedAndProject: per-partition partial top-k, no exchange
    assert _shuffles(plans["similarity_topk"]) == 0
    assert "TakeOrderedAndProject" in plans["similarity_topk"]


def test_pushdown_reaches_scan(spark, sf_dir):
    from miletos_spark.schema import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "LessThan(l_quantity,10" in plan
    assert "ReadSchema" in plan
    # column pruning: only the 2 projected columns reach the scan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity",
    }


def test_grid_fits_broadcast_the_grid(plans):
    """M10/M11 grid scans: the parameter/time grid must be the
    broadcast side of the crossJoin (never a shuffled big side), and
    the only hash exchanges are the per-group aggregate/argmax keys —
    so the scan count stays row-count-bound at any corpus size."""
    for name in (
        "brightness_temp_events",
        "albedo_recirc_events",
        "visibility_events",
    ):
        p = plans[name]
        assert "BroadcastNestedLoopJoin BuildRight, Cross" in p, name
        assert _shuffles(p) <= 2, (name, _shuffles(p))


def test_ztf_cone_bounding_box_reaches_scan(spark, tmp_path):
    """S6: the cone's bounding-box range guards must be pushed to the
    parquet scan (row-group pruning at scale); the haversine itself is
    post-scan."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from miletos_spark.sources.readers import read_ztf_cone

    d = str(tmp_path / "ztf_plan")
    spark.createDataFrame(
        [(1, 10.0, 5.0, 58000.0, 15.0, 0), (2, 11.0, 6.0, 58001.0, 15.5, 0)],
        "oid long, ra double, dec double, mjd double, mag double, catflags int",
    ).write.parquet(d)
    out = read_ztf_cone(spark, d, ra_deg=10.0, dec_deg=5.0, radius_deg=0.01)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    # both range guards on the scan (explain may elide mid-list — the
    # dec lower bound and the ra bounds' values pin all four)
    assert "dec,4.99" in plan and "ra,9.98" in plan and "ra,10.01" in plan


def test_pq_landed_probe_never_scans_vectors(spark, sf_dir):
    """The PQ probe's value proposition is scanning the m-byte CODES
    table plus the m x k codebook, never the raw vectors: its physical
    plan must not contain an embeddings.parquet scan."""
    from miletos_spark.pipeline.landing import land_pq_index
    from miletos_spark.pipeline.similarity import pq_adc_score

    paths = land_pq_index(spark, sf_dir, m=8, n_centroids=16)
    codes = spark.read.parquet(paths["codes"])
    cb = spark.read.parquet(paths["codebook"])
    out = pq_adc_score(codes, cb, [0.1] * 64, m=8, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan
    assert "codes" in plan and "codebook" in plan


def test_dsir_and_drift_broadcast_the_bucket_model(spark, sf_dir):
    """The DSIR scoring join and the drift model joins must broadcast
    their m-row tables — a shuffled join keyed on 64 buckets would be
    both slow and a skew trap at 100 TB — and neither may contain a
    cartesian product."""
    import contextlib
    import io

    import __spark_entry__ as e

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        qs = e.queries()
        for name in ("dsir_select_docs", "corpus_drift_docs"):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, sf_dir).explain()
            p = buf.getvalue()
            assert "CartesianProduct" not in p, name
            assert p.count("BroadcastExchange") >= 1, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_landed_band_stats_make_pair_construction_lazy(spark, sf_dir):
    """With the write-time band-bucket stats passed in, the pair
    functions build their plan with NO Spark job — no cutover probe,
    no eager pin: `banded_fp_pairs_distinct` / `pairs_by_key` over the
    landed media pHash index, and `lsh_pairs_from_bands` over the
    landed MinHash index. Job-group tracking catches any eager action
    fired during construction; the stat-fed result must equal the
    probed result."""
    import os

    from pyspark.sql import functions as F

    from miletos_spark.pipeline.dedup import (
        banded_fp_pairs_distinct,
        lsh_pairs_from_bands,
        pairs_by_key,
    )
    from miletos_spark.pipeline.landing import (
        land_dedup_index,
        read_index_stats,
    )
    from miletos_spark.plans.driver_queries import _land_media_phash_index

    land = _land_media_phash_index(spark)
    stats = read_index_stats(os.path.dirname(land))
    assert stats is not None and stats["max_bucket_distinct"] >= 1
    one_band = spark.read.parquet(land).filter(F.col("band") == 0)
    fps = one_band.select(F.col("phash_hex").alias("fp"))
    members = one_band.select(
        F.col("media_id").alias("_mid"),
        F.col("frame").alias("_mf"),
        F.col("phash_hex").alias("fp"),
    )
    mh_paths = land_dedup_index(spark, sf_dir, k=9, num_hashes=32, bands=8)
    mh_stats = read_index_stats(os.path.dirname(mh_paths["bands"]))
    assert mh_stats is not None and mh_stats["max_bucket"] >= 1
    mh_bands = spark.read.parquet(mh_paths["bands"])

    sc = spark.sparkContext
    group = "landed-band-stats-lazy"
    sc.setJobGroup(group, "pair construction must not run jobs")
    try:
        near = banded_fp_pairs_distinct(
            fps, "fp", 3, max_bucket=stats["max_bucket_distinct"]
        )
        # frame orders the pairs: every identical-fp class of the
        # synthetic index lies inside one video (repeated frames)
        pairs = pairs_by_key(
            members, ["fp"], ["_mf", "_mid"], max_bucket=stats["max_class"]
        )
        mh_pairs = lsh_pairs_from_bands(
            mh_bands, max_bucket=mh_stats["max_bucket"]
        )
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    probed_near = banded_fp_pairs_distinct(fps, "fp", 3)
    key_n = lambda r: (r["fp_a"], r["fp_b"], r["hamming"])  # noqa: E731
    assert sorted(map(key_n, near.collect())) == sorted(
        map(key_n, probed_near.collect())
    )
    probed_pairs = pairs_by_key(members, ["fp"], ["_mf", "_mid"])
    key_p = lambda r: (  # noqa: E731
        r["fp"], r["_mid_a"], r["_mf_a"], r["_mid_b"], r["_mf_b"]
    )
    got = sorted(map(key_p, pairs.collect()))
    assert got == sorted(map(key_p, probed_pairs.collect()))
    assert len(got) > 0
    key_m = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    got_m = sorted(map(key_m, mh_pairs.collect()))
    assert got_m == sorted(map(key_m, lsh_pairs_from_bands(mh_bands).collect()))
    assert len(got_m) > 0


def test_batch_infer_seam_stays_out_of_jvm_path(spark, sf_dir):
    """doc_embed_docs (JVM hash_embed) must NOT contain a Python
    evaluation node; doc_embed_infer_docs (the seam) must contain
    exactly the one mapInPandas stage."""
    import contextlib
    import io

    import __spark_entry__ as e

    qs = e.queries()
    for name, want_python in (
        ("doc_embed_docs", False),
        ("doc_embed_infer_docs", True),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, sf_dir).explain()
        p = buf.getvalue()
        has_python = ("MapInPandas" in p) or ("ArrowEvalPython" in p)
        assert has_python == want_python, name


def test_run_order_shuffles_flat_in_epochs(spark):
    """r13 (VERDICT r12 Missing #3): the cross-epoch run schedule ranks
    ALL E·N rows in ONE two-pass prefix sum — the shuffle count must
    not grow with E (the per-epoch spelling paid 2 shuffles/epoch), and
    the flat form must be BIT-IDENTICAL to the per-epoch epoch_order
    composition it replaced."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from miletos_spark.pipeline.packing import epoch_order, run_order

    seqs = spark.createDataFrame(
        [("en" if b % 3 else "de", b) for b in range(24)],
        "lang string, seq_bin long",
    )

    def plan_of(n_epochs):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                run_order(
                    seqs, seed=7, n_epochs=n_epochs, bucket_count=4
                ).explain()
            return buf.getvalue()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    def shuffles(p):
        return p.count("Exchange hashpartitioning") + p.count(
            "Exchange rangepartitioning"
        )

    s3, s6 = shuffles(plan_of(3)), shuffles(plan_of(6))
    assert s3 == s6, (s3, s6)

    # bit-identity vs the per-epoch form
    got = sorted(
        (r["epoch"], r["seq_bin"], r["rank"], r["global_step"])
        for r in run_order(
            seqs, seed=7, n_epochs=3, bucket_count=4
        ).collect()
    )
    n = seqs.count()
    want = []
    for ep in range(3):
        o = epoch_order(
            seqs, seed=7, epoch=ep, key_cols=("lang", "seq_bin"),
            bucket_count=4,
        )
        want += [
            (r["epoch"], r["seq_bin"], r["rank"], ep * n + r["rank"])
            for r in o.collect()
        ]
    assert got == sorted(want)


def test_annealed_run_order_shuffles_flat_in_epochs(spark):
    """The annealed schedule keeps run_order's E-constant shape: one
    (epoch, group) broadcast weights join + one two-pass prefix sum
    for all E·N serve keys — shuffle count must not grow with E."""
    import contextlib
    import io

    from miletos_spark.pipeline.packing import annealed_run_order

    seqs = spark.createDataFrame(
        [("en" if b % 3 else "de", b) for b in range(24)],
        "lang string, seq_bin long",
    )
    spec = {1: {"en": 2.0}}

    def shuffles(n_epochs):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                annealed_run_order(
                    seqs, seed=7, n_epochs=n_epochs,
                    weights_by_epoch=spec, bucket_count=4,
                ).explain()
            p = buf.getvalue()
            return p.count("Exchange hashpartitioning") + p.count(
                "Exchange rangepartitioning"
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    s3, s6 = shuffles(3), shuffles(6)
    assert s3 == s6, (s3, s6)


def test_curriculum_run_order_shuffles_flat_in_epochs(spark):
    """r14: the curriculum schedule keeps run_order's E-constant shape
    — the quantile staging computes once (epoch-independent) and all
    E·N serve keys rank in one two-pass prefix sum; shuffle count must
    not grow with E."""
    import contextlib
    import io

    from miletos_spark.pipeline.packing import curriculum_run_order

    seqs = spark.createDataFrame(
        [("en" if b % 3 else "de", b, float(b % 7)) for b in range(24)],
        "lang string, seq_bin long, sc double",
    )

    def shuffles(n_epochs):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                curriculum_run_order(
                    seqs, seed=7, n_epochs=n_epochs, score_col="sc",
                    n_stages=3, bucket_count=4,
                ).explain()
            p = buf.getvalue()
            return p.count("Exchange hashpartitioning") + p.count(
                "Exchange rangepartitioning"
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    s3, s6 = shuffles(3), shuffles(6)
    assert s3 == s6, (s3, s6)
