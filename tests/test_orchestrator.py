"""End-to-end pipeline orchestration (§3.1 lifecycle parity):
recover-what-you-injected through the FULL staged pipeline, and verify
the detection gate stays closed on pure noise."""

import pytest
from pyspark.sql import functions as F

from miletos_spark.datagen.fixtures import transit_injected
from miletos_spark.plans.orchestrator import RunConfig, run_pipeline

# inject exactly on the BLS trial grid (f = 1/8 + 16/(osam*span)): an
# off-grid period smears phase by df*span over the baseline, which is
# the physics the osam parameter controls — grid-resolution recovery is
# covered separately in test_bls_multi
SPAN, OSAM = 27.0, 4.0
P = 1.0 / (1.0 / 8.0 + 16.0 / (OSAM * SPAN))  # ≈ 3.661 d
EPOCH, DEPTH = 1.1, 0.01


@pytest.fixture(scope="module")
def cfg():
    return RunConfig(
        detrend_half_width=25, detrend_max_iter=1,
        bls_p_min=2.0, bls_p_max=8.0, bls_osam=4.0,
        bls_n_dcyc=2, bls_dcyc_min=0.02, bls_max_signals=1,
    )


def test_pipeline_detects_injected_transit(spark, cfg):
    # depth 2.5x per-point noise: survives the 3-sigma clip stage (as in
    # real data), detection comes from box accumulation (~100 in-transit
    # points -> box SNR ~ 25)
    series = transit_injected(
        spark, cadence_sec=600.0, span_days=SPAN, t0=0.0, period=P,
        epoch_offset=EPOCH, depth=DEPTH, duration_hours=2.5,
        noise=0.004, seed=3,
    )
    res = run_pipeline(spark, series, cfg)
    assert res.detected
    assert len(res.bls_detections) == 1
    got_p = res.bls_detections[0]["period"]
    assert abs(1 / got_p - 1 / P) < 2 / (OSAM * SPAN)  # grid resolution
    assert res.depth_fit is not None
    assert res.depth_fit["depth_hat"] == pytest.approx(DEPTH, rel=0.35)
    assert res.phase_bundle is not None
    assert res.phase_bundle.count() == 50
    assert res.summary["n_samples"] > 0


def test_pipeline_oracle_guards_signal_cap(monkeypatch):
    """The pipeline oracle's CTE replays exactly one BLS pass; raising
    `bls_max_signals` in `_PIPE_CFG` must fail LOUDLY at oracle build
    time rather than silently de-syncing the replay (VERDICT r4 #3)."""
    from miletos_spark.plans import driver_queries as dq

    assert dq._PIPE_CFG["bls_max_signals"] == 1
    assert dq._sql_pipeline_summary()  # builds fine at cap 1
    monkeypatch.setitem(dq._PIPE_CFG, "bls_max_signals", 2)
    with pytest.raises(AssertionError, match="bls_max_signals"):
        dq._sql_pipeline_summary()


def test_pipeline_gate_closed_on_noise(spark, cfg):
    series = (
        spark.range(2000)
        .select((F.col("id") * 0.01).alias("time"))
        .withColumn("value", F.lit(1.0) + F.randn(5) * 0.001)
        .withColumn("stdv", F.lit(0.001))
    )
    res = run_pipeline(spark, series, cfg)
    assert not res.detected
    assert res.depth_fit is None
    assert res.phase_bundle is None


POP_CFG = RunConfig(
    detrend_half_width=25, detrend_max_iter=1,
    bls_p_min=2.0, bls_p_max=8.0, bls_osam=4.0,
    bls_n_dcyc=2, bls_dcyc_min=0.02, bls_max_signals=1,
    grid_span_days=SPAN,
)


def _population(spark):
    """Three targets: tA/tB with distinct on-grid injected transits,
    tC noise only."""
    p2 = 1.0 / (1.0 / 8.0 + 8.0 / (OSAM * SPAN))  # ≈ 5.02 d, on-grid
    a = transit_injected(
        spark, cadence_sec=600.0, span_days=SPAN, t0=0.0, period=P,
        epoch_offset=EPOCH, depth=DEPTH, duration_hours=2.5,
        noise=0.004, seed=3,
    ).select(F.lit("tA").alias("target"), "time", "value")
    b = transit_injected(
        spark, cadence_sec=600.0, span_days=SPAN, t0=0.0, period=p2,
        epoch_offset=0.4, depth=0.012, duration_hours=3.0,
        noise=0.004, seed=7,
    ).select(F.lit("tB").alias("target"), "time", "value")
    c = (
        spark.range(3888)
        .select(F.lit("tC").alias("target"),
                (F.col("id") * 600.0 / 86400.0).alias("time"))
        .withColumn("value", F.lit(1.0) + F.randn(5) * 0.004)
    )
    return a.unionByName(b).unionByName(c)


def test_population_run_per_target(spark):
    """Population orchestration (§7.1.6 fan-out): K targets with
    distinct injected ephemerides through ONE analyses action, target
    as the group key of every stage — per-target recovery, the noise
    target stays below the gate, and the per-target summary agrees with
    the single-series `run_pipeline` on the same series."""
    from miletos_spark.plans.orchestrator import run_population

    pop = _population(spark)
    out = {
        r["target"]: r.asDict()
        for r in run_population(spark, pop, POP_CFG).collect()
    }
    assert out["tA"]["detected"] and out["tA"]["n_bls_signals"] == 1
    assert out["tB"]["detected"] and out["tB"]["n_bls_signals"] == 1
    assert not out["tC"]["detected"] and out["tC"]["n_bls_signals"] == 0
    # per-target summary == the single-series pipeline on that series
    solo_res = run_pipeline(
        spark, pop.filter(F.col("target") == "tA").select("time", "value"),
        POP_CFG,
    )
    # the accepted detection, value for value, equals the flat search
    # (`bls_multi_signal`, one collect per iteration) over the same
    # detrended series
    from miletos_spark.search.bls import bls_multi_signal, trial_table

    flat = bls_multi_signal(
        solo_res.detrended.select(
            "time", F.col("value_detrended").alias("value")
        ),
        trial_table(spark, 2.0, 8.0, span_days=SPAN, osam=OSAM, n_dcyc=2,
                    dcyc_min=0.02),
        max_signals=1, snr_threshold=POP_CFG.bls_snr_accept,
    )
    assert len(flat) == 1
    assert solo_res.bls_detections == [
        {"signal_idx": i, **{k: f[k] for k in
                             ("period", "dcyc", "epoch", "depth", "snr")}}
        for i, f in enumerate(flat)
    ]
    solo = solo_res.summary
    assert out["tA"]["n_samples"] == solo["n_samples"]
    assert out["tA"]["best_bls_snr"] == pytest.approx(
        solo["best_bls_snr"], rel=1e-9
    )
    assert out["tA"]["ls_power"] == pytest.approx(solo["ls_power"], rel=1e-9)
    assert out["tA"]["n_flares"] == solo["n_flares"]
    # gated per-target depth fit: detected targets recover the injected
    # depth; the undetected control has no fit row
    assert out["tA"]["depth_hat"] == pytest.approx(DEPTH, rel=0.35)
    assert out["tA"]["depth_hat"] == pytest.approx(
        solo_res.depth_fit["depth_hat"], rel=1e-9
    )
    assert out["tB"]["depth_hat"] == pytest.approx(0.012, rel=0.35)
    assert out["tC"]["depth_hat"] is None


def test_population_job_budget(spark):
    """Job budget of a warm `run_population` pass over the three-target
    population: at most 30 Spark jobs — the per-target clip (2), ONE
    analyses action that runs BLS, LS and flares together (20) and the
    gated phase-bin + depth-fit tail (8). The first pass fills the
    detrend caches, so the counted pass is the steady state. Counted
    through a job tag."""
    import uuid

    from miletos_spark.plans.orchestrator import run_population

    pop = _population(spark)
    run_population(spark, pop, POP_CFG).collect()
    sc = spark.sparkContext
    tag = "population-budget-" + uuid.uuid4().hex[:8]
    sc.addJobTag(tag)
    try:
        rows = run_population(spark, pop, POP_CFG).collect()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    jobs = len(jsc.statusTracker().getJobIdsForTag(tag))
    assert sorted(r["target"] for r in rows) == ["tA", "tB", "tC"]
    assert jobs <= 30, f"{jobs} jobs for one warm population pass"


def test_population_requires_frozen_grid(spark):
    from miletos_spark.plans.orchestrator import run_population

    df = spark.range(10).select(
        F.lit("t").alias("target"),
        (F.col("id") * 0.01).alias("time"),
        F.lit(1.0).alias("value"),
    )
    with pytest.raises(ValueError, match="grid_span_days"):
        run_population(spark, df, RunConfig(grid_span_days=None))


def test_pixels_to_planet_end_to_end(spark):
    """Capstone: S5 -> A2 -> P2 composed. Synthesize target-pixel
    frames (Gaussian PSF x injected-transit flux + flat background),
    extract the light curve with aperture photometry, median-normalize,
    and recover the injected period with the BLS box search."""
    import math as m

    from pyspark.sql import functions as F

    from miletos_spark.datagen.fixtures import transit_injected
    from miletos_spark.operators.normalize import median_normalize
    from miletos_spark.search.bls import bls_best, bls_search, trial_table
    from miletos_spark.sources.photometry import (
        aperture_photometry,
        finite_photometry,
    )

    period, depth = 3.0, 0.03
    series = transit_injected(
        spark, cadence_sec=1200.0, span_days=18.0, t0=0.0, period=period,
        epoch_offset=0.7, depth=depth, duration_hours=4.0,
        noise=0.002, seed=11,
    )
    # lift each sample into a 5x5 frame: star PSF at the center scaled
    # by the astrophysical flux, on a flat background of 50
    px = (
        series.select("time", "value",
                      F.explode(F.sequence(F.lit(0), F.lit(4))).alias("pixr"))
        .select("time", "value", "pixr",
                F.explode(F.sequence(F.lit(0), F.lit(4))).alias("pixc"))
    )
    d2 = (F.col("pixr") - F.lit(2.0)) ** 2 + (F.col("pixc") - F.lit(2.0)) ** 2
    px = px.select(
        "time", "pixr", "pixc",
        (F.lit(50.0) + F.exp(-d2 / F.lit(2.0)) * (F.lit(100.0) * F.col("value"))
         ).alias("flux"),
    )
    lc = finite_photometry(
        aperture_photometry(px, 2.0, 2.0, radius_pix=2.0, frame_cols=("time",))
    ).select("time", "value")
    lc = median_normalize(
        lc.withColumn("inst", F.lit("TESS")).withColumn("stdv", F.lit(0.01)),
        group_cols=("inst",),
    )
    trials = trial_table(spark, p_min=2.0, p_max=6.0, span_days=18.0,
                         osam=4.0, n_dcyc=2, dcyc_min=0.02)
    best = bls_best(bls_search(lc, trials, time_col="time")).first()
    # period recovered within the frequency-grid resolution
    assert abs(best["period"] - period) / period < 0.05
    assert best["depth"] == pytest.approx(depth, rel=0.4)
