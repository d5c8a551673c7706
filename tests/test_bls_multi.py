"""P2 multi-signal BLS: recover two injected transits sequentially."""

import pytest
from pyspark.sql import functions as F

from miletos_spark.search.bls import bls_multi_signal, trial_table

P1, D1 = 3.0, 0.04   # period days, depth
P2, D2 = 5.0, 0.02
DCYC = 0.05          # transit duration / period


@pytest.fixture(scope="module")
def two_transits(spark):
    n, span = 6000, 30.0
    df = spark.range(n).select((F.col("id") * (span / n)).alias("time"))

    def box(t, period, epoch):
        p = F.lit(float(period))
        ph = ((t - F.lit(float(epoch))) % p + p) % p / p
        return (ph < DCYC / 2.0) | (ph >= 1.0 - DCYC / 2.0)

    t = F.col("time")
    value = (
        F.lit(1.0)
        - F.when(box(t, P1, 1.0), F.lit(D1)).otherwise(0.0)
        - F.when(box(t, P2, 2.5), F.lit(D2)).otherwise(0.0)
        + F.randn(11) * 0.002
    )
    return df.withColumn("value", value).cache()


def test_multi_signal_recovers_both(spark, two_transits):
    trials = trial_table(
        spark, p_min=2.0, p_max=8.0, span_days=30.0, osam=4.0,
        n_dcyc=2, dcyc_min=0.05,
    )
    # threshold on the POST-PROCESSED spectrum statistic (sgnl/local
    # noise): on this 45-period grid the 0.02-depth signal scores ~3,
    # far above the ~|1| noise-only background but below the reference's
    # production cut of 7.1 (which assumes its osam=10 grids)
    found = bls_multi_signal(
        two_transits, trials, max_signals=3, snr_threshold=2.5
    )
    assert len(found) >= 2
    periods = sorted(f["period"] for f in found[:2])
    # grid resolution: df = 1/(osam*span) = 1/120 in frequency
    assert abs(1 / periods[0] - 1 / P1) < 2 / 120.0
    assert abs(1 / periods[1] - 1 / P2) < 2 / 120.0
    # the deeper signal is found first
    assert found[0]["depth"] > found[1]["depth"]


def test_pipeline_default_max_signals_recovers_both(spark):
    """`run_pipeline` at the default `bls_max_signals=2`: the first
    keyed iteration is collected and subtracted, the second stays lazy
    and runs inside the analyses action on the uncached subtracted
    series. Both on-grid transits (depths inside the 3-sigma clip) are
    recovered, pinned value for value."""
    from miletos_spark.plans.orchestrator import RunConfig, run_pipeline

    span, osam = 27.0, 4.0
    p_a = 1.0 / (1.0 / 8.0 + 16.0 / (osam * span))
    p_b = 1.0 / (1.0 / 8.0 + 8.0 / (osam * span))
    t = F.col("time")

    def box(period, epoch, dur_days):
        p = F.lit(period)
        ph = ((t - F.lit(epoch)) % p + p) % p / p
        d = dur_days / period
        return (ph < d / 2.0) | (ph >= 1.0 - d / 2.0)

    # a fixed partition count: randn draws per partition, so the noise
    # (and the pinned values below) do not depend on the session's cores
    series = spark.range(0, 3888, 1, 4).select(
        (F.col("id") * 600.0 / 86400.0).alias("time")
    ).withColumn(
        "value",
        F.lit(1.0)
        - F.when(box(p_a, 1.1, 2.5 / 24), 0.01).otherwise(0.0)
        - F.when(box(p_b, 0.4, 3.0 / 24), 0.008).otherwise(0.0)
        + F.randn(5) * 0.004,
    )
    cfg = RunConfig(
        detrend_half_width=25, detrend_max_iter=1, bls_p_min=2.0,
        bls_p_max=8.0, bls_osam=osam, bls_n_dcyc=2, bls_dcyc_min=0.02,
    )
    assert cfg.bls_max_signals == 2
    res = run_pipeline(spark, series, cfg)
    assert res.bls_detections == [
        {"signal_idx": 0, "period": 3.6605061801059446, "dcyc": 0.02,
         "epoch": 1.0981518540317834, "depth": 0.008080007,
         "snr": 8.333812923741633},
        {"signal_idx": 1, "period": 5.02277499596188, "dcyc": 0.02,
         "epoch": 0.4018219996769504, "depth": 0.006420382,
         "snr": 22.604084546214597},
    ]
    # grid resolution: df = 1/(osam*span) in frequency
    for got, want in zip((d["period"] for d in res.bls_detections),
                         (p_a, p_b)):
        assert abs(1 / got - 1 / want) < 1 / (osam * span)
    assert res.summary["n_bls_signals"] == 2 and res.detected
