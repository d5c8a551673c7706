"""P2 — Box Least Squares transit search (`srch_boxsperi`,
miletos/main.py:5282-5965).

Spark-first formulation (SURVEY.md P2 mapping): instead of the
reference's triple loop over (period, duty-cycle, epoch) trials with a
multiprocessing pool (miletos/main.py:5698-5724), we

1. build the trial table driver-side with the reference's physics caps —
   uniform-in-frequency period grid (miletos/main.py:5482-5485),
   log-spaced duty cycles with the `maxdcyc ∝ P^(-2/3)` stellar-density
   cap (miletos/main.py:5513-5530);
2. fold the EPOCH dimension into phase bucketing: for a trial (P, dcyc),
   bucket = floor(phase/dcyc − off) with off ∈ {0, ½} — every bucket at
   each half-width offset is a candidate box, so one groupBy covers what
   the reference scans with an explicit epoch grid at half-box steps
   (step `max(cade, 0.5*dcyc*P)`, miletos/main.py:5612-5619; the ½
   offset bounds box/transit misalignment to a quarter width);
3. crossJoin(broadcast(trials)) → groupBy(P, dcyc, bucket) → in-box
   mean/count (the inner kernel, miletos/main.py:5116);
4. score boxes against global moments: depth = mean_out − mean_in,
   SNR = depth / sqrt(σ²_out/n_in) analog (reference post-processes the
   amplitude spectrum with median-filter + rolling-std noise,
   miletos/main.py:5742-5752 — exposed separately via the spectrum
   output so W1/W2 can be applied downstream).

All aggregates are algebraic → map-side partial aggregation; the only
shuffle is on (period, dcyc, bucket), whose cardinality is
|trials| × O(1/dcyc), independent of row count. At 100 TB the
crossJoin-with-broadcast streams: no data shuffle at all before the
partial agg. Skewed short periods are absorbed by AQE.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miletos_spark.schema import local_relation


def period_grid(
    p_min: float, p_max: float, span_days: float, osam: float = 10.0
) -> list[float]:
    """Uniform-in-frequency period grid (miletos/main.py:5482-5485):
    Δf = 1/(osam·baseline); periods 1/f for f in [1/p_max, 1/p_min]."""
    df = 1.0 / (osam * span_days)
    f_lo, f_hi = 1.0 / p_max, 1.0 / p_min
    n = max(int((f_hi - f_lo) / df) + 1, 1)
    return [1.0 / (f_lo + k * df) for k in range(n)]


def duty_cycle_grid(
    period: float,
    n_dcyc: int = 3,
    dcyc_min: float = 0.01,
    rho_star: float = 1.0,
) -> list[float]:
    """Log-spaced duty cycles with the astrophysical cap
    maxdcyc ∝ P^(-2/3)·ρ*^(-1/3) (miletos/main.py:5513-5530)."""
    dcyc_max = min(0.9, 0.25 * (period ** (-2.0 / 3.0)) * (rho_star ** (-1.0 / 3.0)))
    dcyc_max = max(dcyc_max, dcyc_min * 1.0001)
    if n_dcyc == 1:
        return [dcyc_max]
    step = (math.log(dcyc_max) - math.log(dcyc_min)) / (n_dcyc - 1)
    return [math.exp(math.log(dcyc_min) + i * step) for i in range(n_dcyc)]


def trial_table(
    spark: SparkSession,
    p_min: float,
    p_max: float,
    span_days: float,
    osam: float = 10.0,
    n_dcyc: int = 3,
    dcyc_min: float = 0.01,
) -> DataFrame:
    """The (period, dcyc, off) trial table as a LOCAL relation: built on
    the driver, so numbering and broadcasting it schedule no job."""
    rows = [
        {"period": p, "dcyc": d, "off": off}
        for p in period_grid(p_min, p_max, span_days, osam)
        for d in duty_cycle_grid(p, n_dcyc, dcyc_min)
        for off in (0.0, 0.5)
    ]
    schema = T.StructType.fromDDL("period double, dcyc double, off double")
    return local_relation(spark, rows, schema)


def _numbered_trials(trials: DataFrame) -> DataFrame:
    """`trials` + integer id `tid` = 1…n in (period, dcyc, off) order,
    numbered on the driver as a local relation (collecting a local
    `trial_table` schedules no job). The box aggregation hashes two int
    keys instead of three normalize-wrapped doubles (~20% on the agg
    stage); the trial attributes rejoin afterwards, so no output depends
    on the numbering (tid ↔ trial row is a bijection)."""
    rows = sorted(
        trials.collect(), key=lambda r: (r["period"], r["dcyc"], r["off"])
    )
    return local_relation(
        trials.sparkSession,
        [{**r.asDict(), "tid": i} for i, r in enumerate(rows, 1)],
        T.StructType(
            trials.schema.fields
            + [T.StructField("tid", T.IntegerType(), False)]
        ),
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a series to the session's parallelism before the
    trial-grid crossJoin IF it arrives under-partitioned. A compact
    series (one small parquet file → ONE scan partition) otherwise
    serializes the entire |rows|×|trials| fan-out on a single core —
    measured 3.7× on the sf0.1 box aggregation. Unconditional: the
    series shuffle itself is milliseconds (the fan-out happens AFTER),
    and probing the current partition count via `.rdd` would force a
    full physical planning of the upstream lineage per call — measured
    ~2 s per multi-signal iteration on the pipeline plan. Numerically
    safe because every downstream aggregate in this module is an
    order-independent decimal sum."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def bls_search(
    df: DataFrame,
    trials: DataFrame,
    time_col: str = "time",
    value_col: str = "value",
    t_ref: float = 0.0,
) -> DataFrame:
    """Score every (period, dcyc, phase-bucket) box. Returns the box
    spectrum: (period, dcyc, bucket, epoch, n_in, mean_in, depth, snr).

    depth = μ_global − μ_in ; snr = depth / sqrt(σ²_global / n_in)
    (signal-to-noise of a box-depth estimate under the global scatter —
    the reference's amplitude/noise split happens on the per-period
    spectrum afterwards).
    """
    # decimal moments + decimal box means (same discipline as
    # `bls_search_multires` and `stream_bls`): order-independent, so
    # the fan-out below can be REPARTITIONED for parallelism without
    # the partial-agg reordering moving any rounded output digit. The
    # float-avg original was only reproducible because the scan
    # happened to be one partition.
    v = F.col(value_col)
    g = df.agg(
        (F.sum(v.cast("decimal(38,18)")).cast("double")
         / F.count(value_col)).alias("mu"),
        (F.sum((v * v).cast("decimal(38,18)")).cast("double")
         / F.count(value_col)).alias("m2"),
    ).first()
    mu = float(g["mu"])
    sd = math.sqrt(max(float(g["m2"]) - mu * mu, 0.0))

    p = F.col("period")
    t = F.col(time_col) - F.lit(float(t_ref))
    phase = ((t % p) + p) % p / p  # posmod → [0,1)
    # shift by the trial offset and wrap, so the box grid tiles the full
    # phase circle (no split box at phase 0)
    shifted = phase - F.col("off") * F.col("dcyc")
    wrapped = ((shifted % 1.0) + 1.0) % 1.0
    bucket = F.floor(wrapped / F.col("dcyc")).cast("int")

    trials_id = _numbered_trials(trials)
    boxes = (
        # cast to decimal ONCE per sample, BEFORE the |trials|× fan-out
        # — double→decimal is BigDecimal string formatting, and casting
        # after the crossJoin repeats it per (row, trial) (the streaming
        # path learned this first, ingest.py; ~1.4× on the box stage)
        _spread(
            df.select(time_col, v.cast("decimal(38,18)").alias("_vdec"))
        )
        .crossJoin(F.broadcast(trials_id))
        .withColumn("bucket", bucket)
        .groupBy("tid", "bucket")
        .agg(
            F.count("*").alias("n_in"),
            (F.sum("_vdec").cast("double") / F.count("_vdec"))
            .alias("mean_in"),
        )
        .join(F.broadcast(trials_id), "tid")
        .drop("tid")
    )
    depth = F.lit(mu) - F.col("mean_in")
    snr = depth / (F.lit(sd) / F.sqrt(F.col("n_in")))
    return (
        boxes.withColumn("depth", depth)
        .withColumn("snr", snr)
        .withColumn(
            "epoch",
            F.lit(float(t_ref))
            + ((F.col("bucket") + 0.5) * F.col("dcyc") + F.col("off") * F.col("dcyc"))
            * F.col("period"),
        )
    )


def bls_snr_spectrum(
    spectrum: DataFrame,
    kernel_size: int = 51,
    min_in: int = 3,
) -> DataFrame:
    """The reference's SNR post-processing of the box spectrum
    (miletos/main.py:5742-5752, `sizekern` = 51): reduce boxes to the
    per-period amplitude spectrum (deepest box per period), subtract a
    median-filter baseline along the period axis (detrends the slow
    amplitude trend the box search leaves), estimate the local noise as
    the peak-cut rolling std of the detrended signal (`retr_stdvwind`
    with `boolcuttpeak=True` — excluding the window max so a real peak
    doesn't inflate its own noise), and score snr = sgnl / noise.

    Composes W2 (rolling_median) and W1 (rolling_std cut_peak) over the
    period axis. The spectrum has one row per trial period —
    trials-bound, independent of sample count — so the unpartitioned
    period-ordered windows are driver-scale by construction.

    Returns one row per period:
    (period, dcyc, off, bucket, epoch, n_in, ampl, sgnl, noise, snr).
    """
    from miletos_spark.operators.windows import rolling_median, rolling_std

    half = kernel_size // 2
    # deterministic per-period argmax: depth rounded to 9 dec so a
    # cross-engine 1-ulp difference can't flip which box wins
    best = F.max(
        F.struct(
            F.round("depth", 9).alias("d"),
            F.col("dcyc").alias("dcyc"),
            F.col("off").alias("off"),
            F.col("bucket").alias("bucket"),
            F.col("epoch").alias("epoch"),
            F.col("n_in").alias("n_in"),
        )
    )
    per_period = (
        spectrum.filter(F.col("n_in") >= min_in)
        .groupBy("period")
        .agg(best.alias("_b"))
        .select(
            "period",
            F.col("_b.d").alias("ampl"),
            F.col("_b.dcyc").alias("dcyc"),
            F.col("_b.off").alias("off"),
            F.col("_b.bucket").alias("bucket"),
            F.col("_b.epoch").alias("epoch"),
            F.col("_b.n_in").alias("n_in"),
        )
    )
    sm = rolling_median(
        per_period, half, value_col="ampl", time_col="period", out_col="_med"
    )
    sg = sm.withColumn("sgnl", F.col("ampl") - F.col("_med")).drop("_med")
    ns = rolling_std(
        sg, half, value_col="sgnl", time_col="period",
        cut_peak=True, out_col="noise",
    )
    return ns.withColumn(
        "snr",
        F.when(F.col("noise") > 0, F.col("sgnl") / F.col("noise")),
    )


def bls_best_snr(snr_spectrum: DataFrame) -> DataFrame:
    """argmax of the post-processed SNR spectrum
    (`nanargmax(lists2nr)`, miletos/main.py:5748-5752). One row."""
    return (
        snr_spectrum.filter(F.col("snr").isNotNull())
        .orderBy(F.col("snr").desc(), "period")
        .limit(1)
        .select(
            "period", "dcyc", "epoch", "ampl", "sgnl", "noise", "snr", "n_in"
        )
    )


def bls_best(spectrum: DataFrame, min_in: int = 3) -> DataFrame:
    """Top box by SNR (argmax, miletos/main.py:5748-5752), requiring a
    minimum in-box count. One row: (period, dcyc, epoch, depth, snr)."""
    return (
        spectrum.filter(F.col("n_in") >= min_in)
        .orderBy(F.col("snr").desc(), "period", "dcyc", "off", "bucket")
        .limit(1)
        .select("period", "dcyc", "epoch", "depth", "snr", "n_in")
    )


def bls_search_grouped(
    df: DataFrame,
    trials: DataFrame,
    group_cols: Sequence[str],
    time_col: str = "time",
    value_col: str = "value",
    t_ref: float = 0.0,
) -> DataFrame:
    """`bls_search` keyed by `group_cols` — the population fan-out axis
    (the reference's real cluster use-case is thousands of independent
    targets, examples/examples.py:162-172; SURVEY §7.1.6).

    Identical math per group; the two driver-side scalars (global mean
    and scatter) become a per-group aggregate broadcast-joined back, so
    N targets ride ONE crossJoin against ONE broadcast trial grid and
    one shuffle keyed (group, trial, bucket) — no per-target jobs, no
    driver loop over targets."""
    keys = list(group_cols)
    # decimal per-group moments (mu, m2 → sd) for the same reason as
    # `bls_search`: order-independence lets the fan-out repartition
    v = F.col(value_col)
    gstats = df.groupBy(*keys).agg(
        (F.sum(v.cast("decimal(38,18)")).cast("double")
         / F.count(value_col)).alias("_mu"),
        (F.sum((v * v).cast("decimal(38,18)")).cast("double")
         / F.count(value_col)).alias("_m2"),
    ).withColumn(
        "_sd",
        F.sqrt(F.greatest(F.col("_m2") - F.col("_mu") * F.col("_mu"),
                          F.lit(0.0))),
    ).drop("_m2")

    p = F.col("period")
    t = F.col(time_col) - F.lit(float(t_ref))
    phase = ((t % p) + p) % p / p
    shifted = phase - F.col("off") * F.col("dcyc")
    wrapped = ((shifted % 1.0) + 1.0) % 1.0
    bucket = F.floor(wrapped / F.col("dcyc")).cast("int")

    trials_id = _numbered_trials(trials)
    # No _spread here, unlike the flat path: grouped inputs arrive from
    # upstream keyed shuffles (detrend/clip stages), already at session
    # parallelism — an unconditional repartition re-shuffles the whole
    # multi-target series EVERY multi-signal iteration (measured: the
    # population pipeline went 11.9 s -> 66 s cold with it). The flat
    # path keeps it because its input is a raw one-file scan.
    boxes = (
        # decimal cast hoisted above the |trials|× fan-out, same as the
        # flat and streaming paths (BigDecimal formatting per fanned
        # row was the cost that made this path slower than its r7
        # float form)
        df.select(
            *keys, time_col, v.cast("decimal(38,18)").alias("_vdec")
        )
        .crossJoin(F.broadcast(trials_id))
        .withColumn("bucket", bucket)
        .groupBy(*keys, "tid", "bucket")
        .agg(
            F.count("*").alias("n_in"),
            (F.sum("_vdec").cast("double") / F.count("_vdec"))
            .alias("mean_in"),
        )
        .join(F.broadcast(trials_id), "tid")
        .drop("tid")
        .join(F.broadcast(gstats), keys)
    )
    depth = F.col("_mu") - F.col("mean_in")
    snr = depth / (F.col("_sd") / F.sqrt(F.col("n_in")))
    return (
        boxes.withColumn("depth", depth)
        .withColumn("snr", snr)
        .withColumn(
            "epoch",
            F.lit(float(t_ref))
            + ((F.col("bucket") + 0.5) * F.col("dcyc")
               + F.col("off") * F.col("dcyc")) * F.col("period"),
        )
        .drop("_mu", "_sd")
    )


def bls_snr_spectrum_grouped(
    spectrum: DataFrame,
    group_cols: Sequence[str],
    kernel_size: int = 51,
    min_in: int = 3,
) -> DataFrame:
    """`bls_snr_spectrum` keyed by `group_cols`: per-group per-period
    argmax, then the median-filter detrend and peak-cut rolling noise
    run PARTITION BY group over the period axis — |grid| rows per
    group, so every window partition stays trials-bound regardless of
    sample count or population size."""
    from miletos_spark.operators.windows import rolling_median, rolling_std

    keys = list(group_cols)
    half = kernel_size // 2
    best = F.max(
        F.struct(
            F.round("depth", 9).alias("d"),
            F.col("dcyc").alias("dcyc"),
            F.col("off").alias("off"),
            F.col("bucket").alias("bucket"),
            F.col("epoch").alias("epoch"),
            F.col("n_in").alias("n_in"),
        )
    )
    per_period = (
        spectrum.filter(F.col("n_in") >= min_in)
        .groupBy(*keys, "period")
        .agg(best.alias("_b"))
        .select(
            *keys,
            "period",
            F.col("_b.d").alias("ampl"),
            F.col("_b.dcyc").alias("dcyc"),
            F.col("_b.off").alias("off"),
            F.col("_b.bucket").alias("bucket"),
            F.col("_b.epoch").alias("epoch"),
            F.col("_b.n_in").alias("n_in"),
        )
    )
    sm = rolling_median(
        per_period, half, value_col="ampl", time_col="period",
        group_cols=keys, out_col="_med",
    )
    sg = sm.withColumn("sgnl", F.col("ampl") - F.col("_med")).drop("_med")
    ns = rolling_std(
        sg, half, value_col="sgnl", time_col="period",
        group_cols=keys, cut_peak=True, out_col="noise",
    )
    return ns.withColumn(
        "snr",
        F.when(F.col("noise") > 0, F.col("sgnl") / F.col("noise")),
    )


def bls_best_snr_grouped(
    snr_spectrum: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Per-group argmax of the SNR spectrum (deterministic: highest
    snr, smallest period on ties) — one row per group via a single
    map-side-combinable struct max, no sort."""
    keys = list(group_cols)
    pick = F.max(
        F.struct(
            F.col("snr").alias("snr"),
            (-F.col("period")).alias("_np"),
            F.col("period").alias("period"),
            F.col("dcyc").alias("dcyc"),
            F.col("epoch").alias("epoch"),
            F.col("ampl").alias("ampl"),
            F.col("sgnl").alias("sgnl"),
            F.col("noise").alias("noise"),
            F.col("n_in").alias("n_in"),
        )
    )
    return (
        snr_spectrum.filter(F.col("snr").isNotNull())
        .groupBy(*keys)
        .agg(pick.alias("_b"))
        .select(
            *keys,
            F.col("_b.period").alias("period"),
            F.col("_b.dcyc").alias("dcyc"),
            F.col("_b.epoch").alias("epoch"),
            F.col("_b.ampl").alias("ampl"),
            F.col("_b.sgnl").alias("sgnl"),
            F.col("_b.noise").alias("noise"),
            F.col("_b.snr").alias("snr"),
            F.col("_b.n_in").alias("n_in"),
        )
    )


def bls_multi_signal_grouped(
    df: DataFrame,
    trials: DataFrame,
    group_cols: Sequence[str],
    max_signals: int = 2,
    snr_threshold: float = 7.1,
    min_in: int = 3,
    time_col: str = "time",
    value_col: str = "value",
    t_ref: float = 0.0,
    kernel_size: int = 51,
) -> DataFrame:
    """P2 multi-signal loop over a whole POPULATION: each iteration is
    one keyed search over every still-active target (search →
    per-target spectrum SNR → accept where snr ≥ threshold → subtract
    the accepted box per target via a broadcast join). The driver loop
    count is `max_signals`, never the number of targets.

    Only iterations that feed a subtraction collect (≤ 1 row per
    target, re-exposed as a local relation: the broadcast builds with
    no job); the LAST stays lazy, for the caller's action to plan next
    to its other analyses. Nothing is cached: the subtracted series is
    a projection of `df` joined to local tables, so a re-read is a scan.

    Returns one row per accepted detection:
    group_cols + (signal_idx, period, dcyc, epoch, depth, snr)."""
    keys = list(group_cols)
    work = df.select(*keys, time_col, value_col)
    out: DataFrame | None = None
    for i in range(max_signals):
        spec = bls_search_grouped(
            work, trials, keys, time_col=time_col, value_col=value_col,
            t_ref=t_ref,
        )
        snr_spec = bls_snr_spectrum_grouped(
            spec, keys, kernel_size=kernel_size, min_in=min_in
        )
        accepted = (
            bls_best_snr_grouped(snr_spec, keys)
            .filter(F.col("snr") >= snr_threshold)
            .select(
                *keys,
                F.lit(i).alias("signal_idx"),
                "period", "dcyc", "epoch",
                F.col("ampl").alias("depth"),
                "snr",
            )
        )
        if i == max_signals - 1:
            return accepted if out is None else out.unionByName(accepted)
        rows = accepted.collect()
        loc = local_relation(df.sparkSession, rows, accepted.schema)
        out = loc if out is None else out.unionByName(loc)
        if not rows:
            # nothing accepted: a target that failed acceptance is done
            # (its series is unchanged, so re-searching would reproduce
            # the same sub-threshold best)
            return out
        # subtract each accepted box and keep ONLY still-active targets
        j = loc.select(
            *keys,
            F.col("period").alias("_p"), F.col("dcyc").alias("_d"),
            F.col("epoch").alias("_e"), F.col("depth").alias("_dep"),
        )
        nxt = work.join(F.broadcast(j), keys, "inner")
        tt = F.col(time_col) - F.col("_e")
        ph = ((tt % F.col("_p")) + F.col("_p")) % F.col("_p") / F.col("_p")
        in_box = (ph < F.col("_d") / 2.0) | (ph >= 1.0 - F.col("_d") / 2.0)
        work = nxt.withColumn(
            value_col,
            F.when(in_box, F.col(value_col) + F.col("_dep"))
            .otherwise(F.col(value_col)),
        ).drop("_p", "_d", "_e", "_dep")
    return out


def bls_search_multires(
    df: DataFrame,
    trials: DataFrame,
    bins_per_box: float = 4.0,
    time_col: str = "time",
    value_col: str = "value",
    t_ref: float = 0.0,
) -> DataFrame:
    """Multi-resolution BLS (the reference's §4 optimization,
    miletos/main.py:5586-5605): per duty-cycle LEVEL, pre-rebin the
    series to `dcyc·p_min/bins_per_box` and run the phase-bucket
    aggregation on bin centers with count-weighted means — longer boxes
    search coarser data. Row count per level is span/delt (independent
    of the sample count), so the crossJoin shrinks by orders of
    magnitude at scale; box-edge straddling blurs by ≤ 1/bins_per_box
    of a box, the same approximation the reference accepts.

    Requires `trials` with columns (period, dcyc, off). Output schema
    matches `bls_search`.
    """
    # decimal-sum moments: order-independent, so mu, sd (and depth =
    # mu − mean_in, snr = depth/(sd/√n)) are reproducible bit-for-bit
    # across engines and runs. sd from double `stddev_pop` was the one
    # order-dependent digit left — its last-ulp partial-agg wobble fed
    # round(snr, 2) and flipped a rounding tie per run (r05 driver
    # hash-red). Σv and Σv² in decimal(38,18) are exact on ≤2-decimal
    # landed data (v·v is one deterministic IEEE product, cast
    # shortest-repr), so sd = sqrt(Σv²/n − mu²) carries no ordering
    # noise at all.
    v = F.col(value_col)
    g = df.agg(
        (F.sum(v.cast("decimal(38,18)")).cast("double")
         / F.count(value_col)).alias("mu"),
        (F.sum((v * v).cast("decimal(38,18)")).cast("double")
         / F.count(value_col)).alias("m2"),
        F.min(time_col).alias("t0"),
    ).first()
    mu, m2, t0 = float(g["mu"]), float(g["m2"]), float(g["t0"])
    sd = math.sqrt(max(m2 - mu * mu, 0.0))

    # Quantize (dcyc·period) box widths into log2 RESOLUTION GROUPS —
    # one rebin + crossJoin pipeline per group, not per distinct dcyc
    # (a continuous duty-cycle grid would otherwise spawn one union
    # branch per trial). Bin width per group = the group's smallest box
    # width / bins_per_box (conservative for every trial in the group).
    t_rows = [
        (float(r["period"]), float(r["dcyc"]), float(r["off"]))
        for r in trials.collect()
    ]
    wmin = min(p * d for p, d, _ in t_rows)
    groups: dict[int, list] = {}
    for p_, d_, o_ in t_rows:
        lvl = int(math.floor(math.log2((p_ * d_) / wmin)))
        groups.setdefault(lvl, []).append((p_, d_, o_))

    spark = df.sparkSession
    out = None
    for lvl, rows in sorted(groups.items()):
        delt = min(p_ * d_ for p_, d_, _ in rows) / bins_per_box
        # both summation levels run in DECIMAL(38,18): the per-bin sums
        # and the per-box re-sum are exact, so mean_in carries no
        # partial-agg reordering noise (r01 flaked at a 3-dec boundary)
        binned = (
            df.select(
                F.floor((F.col(time_col) - F.lit(t0)) / F.lit(delt)).alias("_b"),
                F.col(value_col).cast("decimal(38,18)").alias("_v"),
            )
            .groupBy("_b")
            .agg(F.sum("_v").alias("_s"), F.count("_v").alias("_n"))
            .select(
                (F.lit(t0) + (F.col("_b") + 0.5) * F.lit(delt)).alias("tc"),
                "_s",
                "_n",
            )
        )
        lvl_trials = spark.createDataFrame(
            rows, "period double, dcyc double, off double"
        )
        p = F.col("period")
        t = F.col("tc") - F.lit(float(t_ref))
        phase = ((t % p) + p) % p / p
        shifted = phase - F.col("off") * F.col("dcyc")
        wrapped = ((shifted % 1.0) + 1.0) % 1.0
        bucket = F.floor(wrapped / F.col("dcyc")).cast("int")
        boxes = (
            binned.crossJoin(F.broadcast(lvl_trials))
            .withColumn("bucket", bucket)
            .groupBy("period", "dcyc", "off", "bucket")
            .agg(
                F.sum("_n").alias("n_in"),
                (F.sum("_s").cast("double") / F.sum("_n")).alias("mean_in"),
            )
        )
        out = boxes if out is None else out.unionByName(boxes)

    depth = F.lit(mu) - F.col("mean_in")
    snr = depth / (F.lit(sd) / F.sqrt(F.col("n_in")))
    return (
        out.withColumn("depth", depth)
        .withColumn("snr", snr)
        .withColumn(
            "epoch",
            F.lit(float(t_ref))
            + ((F.col("bucket") + 0.5) * F.col("dcyc") + F.col("off") * F.col("dcyc"))
            * F.col("period"),
        )
    )


def bls_multires_sql(
    time_expr: str,
    value_expr: str,
    table: str,
    trials: list[tuple[float, float, float]],
    bins_per_box: float = 4.0,
    t_ref: float = 0.0,
) -> str:
    """DuckDB-oracle twin of `bls_search_multires` (same log2
    resolution-group quantization)."""
    wmin = min(p * d for p, d, _ in trials)
    groups: dict[int, list] = {}
    for p, d, o in trials:
        lvl = int(math.floor(math.log2((p * d) / wmin)))
        groups.setdefault(lvl, []).append((p, d, o))
    level_sqls = []
    for lvl, rows in sorted(groups.items()):
        delt = min(p * d for p, d, _ in rows) / bins_per_box
        values = ", ".join(
            f"(CAST({p!r} AS DOUBLE), CAST({dd!r} AS DOUBLE), CAST({o!r} AS DOUBLE))"
            for p, dd, o in rows
        )
        level_sqls.append(f"""
SELECT tr.period, tr.dcyc, tr.off,
       CAST(floor((((((b.tc - {t_ref!r}) % tr.period + tr.period) % tr.period)
                    / tr.period - tr.off * tr.dcyc) % 1.0 + 1.0) % 1.0
                  / tr.dcyc) AS INT) AS bucket,
       CAST(sum(b.n) AS BIGINT) AS n_in,
       CAST(sum(b.s) AS DOUBLE) / sum(b.n) AS mean_in
FROM (
  SELECT (SELECT t0 FROM g) + (bb + 0.5) * {delt!r} AS tc, s, n
  FROM (
    SELECT CAST(floor((t - (SELECT t0 FROM g)) / {delt!r}) AS BIGINT) AS bb,
           sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(38,18))) AS s, count(*) AS n
    FROM samples GROUP BY 1
  )
) b CROSS JOIN (VALUES {values}) tr(period, dcyc, off)
GROUP BY 1, 2, 3, 4""")
    union = "\nUNION ALL\n".join(level_sqls)
    return f"""
WITH samples AS (
  SELECT CAST({time_expr} AS DOUBLE) AS t, CAST({value_expr} AS DOUBLE) AS v
  FROM {table}
),
g AS (SELECT CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*) AS mu,
             CAST(sum(CAST(CAST(v * v AS VARCHAR) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*) AS m2,
             min(t) AS t0 FROM samples),
boxes AS (
{union}
)
SELECT b.period, b.dcyc, b.off, b.bucket, b.n_in, b.mean_in,
       g.mu - b.mean_in AS depth,
       (g.mu - b.mean_in)
       / (sqrt(greatest(g.m2 - g.mu * g.mu, 0.0)) / sqrt(b.n_in)) AS snr,
       {t_ref!r} + ((b.bucket + 0.5) * b.dcyc + b.off * b.dcyc) * b.period AS epoch
FROM boxes b CROSS JOIN g
"""


def bls_snr_sql(
    spectrum_sql: str,
    kernel_size: int = 51,
    min_in: int = 3,
    group_col: str | None = None,
) -> str:
    """DuckDB-oracle twin of `bls_snr_spectrum`: wraps a box-spectrum
    SQL (from `bls_sql`/`bls_multires_sql`) with the same per-period
    argmax, median-filter detrend, and peak-cut rolling-std noise.
    With `group_col` it twins `bls_snr_spectrum_grouped`: the argmax
    groups per (group, period) and both windows PARTITION BY group."""
    half = kernel_size // 2
    gsel = f"{group_col}, " if group_col else ""
    gpart = f"PARTITION BY {group_col} " if group_col else ""
    pk = (
        "max(struct_pack(d := round(depth, 9), dcyc := dcyc, off := off, "
        "bucket := bucket, epoch := epoch, n_in := n_in))"
    )
    return f"""
WITH spec AS (
{spectrum_sql}
),
pp AS (
  SELECT {gsel}period,
         ({pk}).d AS ampl,
         ({pk}).dcyc AS dcyc,
         ({pk}).off AS off,
         ({pk}).bucket AS bucket,
         ({pk}).epoch AS epoch,
         ({pk}).n_in AS n_in
  FROM spec WHERE n_in >= {min_in}
  GROUP BY {gsel}period
),
det AS (
  SELECT *, ampl - quantile_cont(ampl, 0.5) OVER w AS sgnl
  FROM pp
  WINDOW w AS ({gpart}ORDER BY period
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
),
ns AS (
  SELECT *,
         count(sgnl) OVER w AS n_w,
         sum(sgnl) OVER w AS s1,
         sum(sgnl * sgnl) OVER w AS s2,
         max(sgnl) OVER w AS mx,
         list(sgnl) OVER w AS arr
  FROM det
  WINDOW w AS ({gpart}ORDER BY period
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
),
tied AS (
  SELECT *, len(list_filter(arr, x -> x = mx)) AS cnt FROM ns
),
scored AS (
  -- reference retr_stdvwind semantics (miletos/main.py:6931-6942):
  -- drop ALL max-tied elements, population std (np.std, ddof=0)
  SELECT {gsel}period, dcyc, off, bucket, epoch, n_in, ampl, sgnl,
         CASE WHEN n_w - cnt > 0 THEN
           sqrt(greatest((s2 - cnt * mx * mx) / (n_w - cnt)
                         - ((s1 - cnt * mx) / (n_w - cnt))
                           * ((s1 - cnt * mx) / (n_w - cnt)), 0.0))
         END AS noise
  FROM tied
)
SELECT *, CASE WHEN noise > 0 THEN sgnl / noise END AS snr
FROM scored
"""


def bls_multi_signal(
    df: DataFrame,
    trials: DataFrame,
    max_signals: int = 3,
    snr_threshold: float = 7.1,
    min_in: int = 3,
    time_col: str = "time",
    value_col: str = "value",
    t_ref: float = 0.0,
    spectrum_snr: bool = True,
    kernel_size: int = 51,
) -> list[dict]:
    """P2 multi-signal loop (miletos/main.py:5630-5651, 5948-5951):
    search → accept if SNR ≥ threshold (`thrss2nr=7.1`,
    miletos/main.py:5322) → subtract the fitted box → re-search, up to
    `max_signals`. Returns the accepted detections as dicts.

    With `spectrum_snr` (default, the reference's scoring) each pass is
    judged by the post-processed spectrum statistic — `bls_snr_spectrum`
    local noise — rather than depth over global scatter; the accepted
    dict carries depth = the winning period's amplitude.

    Driver-side loop over cached DataFrames (SURVEY.md §7.4: bound the
    iteration count, keep lineage short — each pass caches the
    subtracted series, so plan depth stays O(1) per iteration)."""
    found: list[dict] = []
    work = df.select(time_col, value_col)
    cached = [work]
    for i_sig in range(max_signals):
        spec = bls_search(
            work, trials, time_col=time_col, value_col=value_col, t_ref=t_ref
        )
        if spectrum_snr:
            snr_spec = bls_snr_spectrum(
                spec, kernel_size=kernel_size, min_in=min_in
            )
            row = bls_best_snr(snr_spec).first()
            if row is None or row["snr"] < snr_threshold:
                break
            d = row.asDict()
            d["depth"] = d.pop("ampl")
            found.append(d)
            row = d
        else:
            row = bls_best(spec, min_in=min_in).first()
            if row is None or row["snr"] < snr_threshold:
                break
            found.append(row.asDict())
        if i_sig == max_signals - 1:
            break  # no next pass: building the subtraction is waste
        # subtract the detected box: add the depth back inside the box
        p, d = float(row["period"]), float(row["dcyc"])
        epoch, depth = float(row["epoch"]), float(row["depth"])
        t = F.col(time_col) - F.lit(epoch)
        ph = ((t % p) + p) % p / p  # [0,1), box spans [0, d) ∪ [1-d/2, 1)
        in_box = (ph < d / 2.0) | (ph >= 1.0 - d / 2.0)
        work = work.withColumn(
            value_col,
            F.when(in_box, F.col(value_col) + F.lit(depth)).otherwise(
                F.col(value_col)
            ),
        ).cache()
        cached.append(work)
    for c in cached[1:]:
        c.unpersist()
    return found


def bls_sql(
    time_expr: str,
    value_expr: str,
    table: str,
    trials: list[tuple[float, float, float]],
    t_ref: float = 0.0,
    group_col: str | None = None,
) -> str:
    """DuckDB-oracle twin of `bls_search` for an explicit
    (period, dcyc, off) trial list. With `group_col` it twins
    `bls_search_grouped` instead: the source table must expose that
    column, the global moments become per-group, and every stage keys
    on it (the population-oracle shape)."""
    values = ", ".join(
        f"(CAST({p!r} AS DOUBLE), CAST({d!r} AS DOUBLE), CAST({o!r} AS DOUBLE))"
        for p, d, o in trials
    )
    gsel = f"{group_col}, " if group_col else ""
    ggrp = f" GROUP BY {group_col}" if group_col else ""
    sgsel = f"s.{group_col}, " if group_col else ""
    bgsel = f"b.{group_col}, " if group_col else ""
    gjoin = f"JOIN g USING ({group_col})" if group_col else "CROSS JOIN g"
    gby = "1, 2, 3, 4, 5" if group_col else "1, 2, 3, 4"
    # decimal moments + decimal box means (VARCHAR hop, the
    # `_dec_mean_sql` convention) — twin of the Spark side's
    # order-independent decimal aggregation; sd = sqrt(m2 - mu²)
    return f"""
WITH samples AS (
  SELECT {gsel}CAST({time_expr} AS DOUBLE) AS t, CAST({value_expr} AS DOUBLE) AS v
  FROM {table}
),
g AS (SELECT {gsel}
             CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*) AS mu,
             sqrt(greatest(
               CAST(sum(CAST(CAST(v * v AS VARCHAR) AS DECIMAL(38,18)))
                    AS DOUBLE) / count(*)
               - pow(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(38,18)))
                          AS DOUBLE) / count(*), 2), 0.0)) AS sd
      FROM samples{ggrp}),
trials(period, dcyc, off) AS (VALUES {values}),
boxes AS (
  SELECT {sgsel}tr.period, tr.dcyc, tr.off,
         CAST(floor((((((s.t - {t_ref!r}) % tr.period + tr.period) % tr.period)
                      / tr.period - tr.off * tr.dcyc) % 1.0 + 1.0) % 1.0
                    / tr.dcyc) AS INT) AS bucket,
         count(*) AS n_in,
         CAST(sum(CAST(CAST(s.v AS VARCHAR) AS DECIMAL(38,18))) AS DOUBLE)
         / count(*) AS mean_in
  FROM samples s CROSS JOIN trials tr
  GROUP BY {gby}
)
SELECT {bgsel}b.period, b.dcyc, b.off, b.bucket, b.n_in, b.mean_in,
       g.mu - b.mean_in AS depth,
       (g.mu - b.mean_in) / (g.sd / sqrt(b.n_in)) AS snr,
       {t_ref!r} + ((b.bucket + 0.5) * b.dcyc + b.off * b.dcyc) * b.period AS epoch
FROM boxes b {gjoin}
"""
