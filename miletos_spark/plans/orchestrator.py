"""Entry point 1 parity — the `miletos.main.init` pipeline
(miletos/main.py:7624-12554) as a typed config + staged Spark driver.

The reference's ~200-kwarg god object (`gdat`) becomes `RunConfig`;
its mutable blackboard becomes explicit DataFrame lineage: each stage
is a pure DataFrame→DataFrame function, cached at the boundaries the
reference memoizes (raw assembly, detrended, spectra). Stage order
(miletos/main.py §3.1 steps 5–10):

    raw → guards (F1/F4) → mask (F2) → clip↔detrend (X4 'Detrended')
    → analyses: LS (P1), BLS multi (P2), flare outliers (P7)
    → detection gate (A9 `boolposianls`, miletos/main.py:11871-11877)
    → [gated] transit windows (J1/J3), phase-curve bundles (X5),
      closed-form depth (M5) and optional per-group NM fit

Network/catalog stages (steps 2/4: MAST, lygos) are upstream landing
jobs here — the pipeline starts from the landed long-format table.

ONE stage implementation serves both entry points (VERDICT r5 ask #5):
`run_population` drives N targets through `_analyses` keyed on the
target column, and `run_pipeline` is a K=1 call of the SAME stages
with a constant synthetic key — the single-target path cannot drift
from the population path because there is no second copy of the stage
logic. The analyses (BLS, LS, flares) run in ONE action that collects
the pre-gate per-target summary; the gate, the gated stages and
`run_pipeline`'s `RunResult` read that collected summary.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miletos_spark.operators.detrend import clip_detrend_loop
from miletos_spark.operators.filters import mask_time_windows
from miletos_spark.operators.fold import phase_bins, transit_flag
from miletos_spark.schema import local_relation
from miletos_spark.search.bls import bls_multi_signal_grouped, trial_table
from miletos_spark.search.flare import flare_outlier_search
from miletos_spark.search.lombscargle import freq_grid, lomb_scargle_grouped

# constant key for the K=1 single-series path
_SOLO = "__solo__"


@dataclass
class RunConfig:
    """Declarative run configuration (the decision-table reduction of
    the reference's kwargs web, SURVEY.md §7.4.6). Thresholds default
    to the reference's (miletos/main.py:7931, 7934, 5322)."""

    # masking (F2): [(t0, t1), ...] in time units of the input
    mask_windows: list[tuple[float, float]] = field(default_factory=list)
    # detrend (X4): max_iter 5 matches the reference's clip↔detrend
    # fixpoint cap (`maxmnumbiterbdtr`, miletos/main.py:8586) — the
    # loop early-exits when the kept row count stabilizes, so on
    # fast-converging series this costs nothing; on slowly-converging
    # ones (see test_orchestrator's slow-convergence fixture) the
    # reference-parity default is load-bearing. Oracle-replayed
    # queries pin their own value explicitly.
    detrend_half_width: int = 25
    detrend_max_iter: int = 5
    # BLS (P2); osam=10 is the reference default (miletos/main.py:5482)
    # — off-grid periods smear phase by Δf·baseline, so osam must keep
    # that under the smallest duty cycle
    bls_p_min: float = 1.0
    bls_p_max: float = 10.0
    bls_osam: float = 10.0
    bls_n_dcyc: int = 2
    bls_dcyc_min: float = 0.02
    bls_max_signals: int = 2
    bls_snr_accept: float = 7.1          # thrss2nr
    # LS (P1)
    ls_osam: float = 3.0
    ls_max_freq: float = 2.0
    # flares (P7)
    flare_window: float = 1.0 / 24.0
    flare_threshold: float = 7.0
    # detection gate (A9)
    gate_bls_snr: float = 10.0           # thrss2nrcosc
    gate_ls_power: float = 0.2           # thrslspecosc
    # fitting (M5): closed-form depth on the top accepted detection
    fit_on_detection: bool = True
    # phase-curve bundles (X5): per-target fixed-grid phase bins of the
    # top accepted detection for every DETECTED target
    phase_bins_on_detection: bool = True
    phase_num_bins: int = 50
    # full Nelder-Mead trapezoid fit (M5 'exec'): per-target
    # (epoch, depth, dura) chi² minimization at the detected period —
    # engine-iterative, so OFF by default in oracle-replayed runs
    nm_fit_on_detection: bool = False
    # M9-style closed-form phase-curve component split (the reference's
    # zero-and-subtract decomposition, miletos/main.py:1950-2025) per
    # DETECTED target: evaluate dip/beam/elli/planetary components on
    # the fixed phase-bin grid at the target's own recovered
    # (period, duration, depth) with the frozen amplitudes below, and
    # summarize per target. Amplitudes are config constants (the
    # posterior medians a fitted model would supply).
    phase_components_on_detection: bool = False
    pc_a_beam: float = 1e-4
    pc_a_elli: float = 6e-5
    pc_a_day: float = 3e-4
    pc_a_night: float = 8e-5
    # optional frozen baseline for GRID construction (BLS trial table,
    # LS frequency grid). None = measure from the detrended data (the
    # reference's behavior; single-series only). Freezing it makes the
    # search grids a pure function of config — reproducible across runs
    # and replayable by an external oracle — while the reported span
    # stays measured.
    grid_span_days: float | None = None


@dataclass
class RunResult:
    detrended: DataFrame
    bls_detections: list[dict]
    ls_best: dict | None
    flares: DataFrame
    detected: bool
    phase_bundle: DataFrame | None
    depth_fit: dict | None
    summary: dict
    wall_s: float


def _guard_mask(
    df: DataFrame, cfg: RunConfig, time_col: str, value_col: str
) -> DataFrame:
    """F1/F2/F4: finite/sanity guards + custom time-window mask —
    per-row predicates, no keying needed."""
    work = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & (F.abs(F.col(value_col)) < 1e10)
    )
    if cfg.mask_windows:
        work = mask_time_windows(work, cfg.mask_windows, time_col=time_col)
    return work


def _detrend_stage(
    work: DataFrame,
    cfg: RunConfig,
    keys: list[str],
    time_col: str,
    value_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """X4 clip↔detrend keyed by the target column; returns (detrended
    [cached], det normalized to (keys, time, value), spans [cached] —
    one row per target with n_samples / _lo / _hi / span_days)."""
    detrended = clip_detrend_loop(
        work, cfg.detrend_half_width, max_iter=cfg.detrend_max_iter,
        value_col=value_col, time_col=time_col, group_cols=keys,
        clip_per_group=True,
        halo_chunk_rows=max(8192, 4 * cfg.detrend_half_width),
    ).cache()
    det = detrended.select(
        *keys,
        F.col(time_col).alias("time"),
        F.col("value_detrended").alias("value"),
    )
    spans = (
        det.groupBy(*keys)
        .agg(
            F.count("*").alias("n_samples"),
            F.min("time").alias("_lo"),
            F.max("time").alias("_hi"),
        )
        .withColumn("span_days", F.col("_hi") - F.col("_lo"))
    ).cache()
    return detrended, det, spans


def _analyses(
    spark: SparkSession,
    det: DataFrame,
    spans: DataFrame,
    cfg: RunConfig,
    target_col: str,
    grid_span: float,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """P1/P2/P7 analyses + A9 gate + gated J1/X5/M5 stages, ALL keyed
    by `target_col` — the one stage implementation behind both entry
    points. ONE action runs every analysis: the pre-gate summary (one
    row per target, carrying its accepted BLS signals) is collected and
    re-exposed, with the detections, as local relations, which the gate
    and the gated stages read — no analysis is planned twice. Returns
    (summary rows joined to the lazy gated stages, stage DataFrames)."""
    keys = [target_col]

    # --- BLS multi-signal (P2), keyed --------------------------------
    trials = trial_table(
        spark, cfg.bls_p_min, cfg.bls_p_max, span_days=grid_span,
        osam=cfg.bls_osam, n_dcyc=cfg.bls_n_dcyc, dcyc_min=cfg.bls_dcyc_min,
    )
    detections = bls_multi_signal_grouped(
        det, trials, keys, max_signals=cfg.bls_max_signals,
        snr_threshold=cfg.bls_snr_accept,
    )
    signal_cols = [c for c in detections.columns if c != target_col]
    det_agg = detections.groupBy(target_col).agg(
        F.count("*").alias("n_bls_signals"),
        F.max("snr").alias("best_bls_snr"),
        # the detections themselves, in signal_idx order
        F.sort_array(F.collect_list(F.struct(*signal_cols))).alias("signals"),
    )

    # --- LS (P1), keyed: per-target time shift to its own origin -----
    f_lo = 1.0 / grid_span
    df_step = f_lo / cfg.ls_osam
    n_freq = max(int((cfg.ls_max_freq - f_lo) / df_step), 2)
    shifted = det.join(
        F.broadcast(spans.select(target_col, "_lo")), target_col
    ).select(
        target_col, (F.col("time") - F.col("_lo")).alias("time"), "value"
    )
    spec = lomb_scargle_grouped(
        shifted, freq_grid(spark, f_lo, df_step, min(n_freq, 2000)), keys
    )
    ls_best = (
        spec.groupBy(target_col)
        .agg(
            F.max(
                F.struct(
                    F.col("power").alias("power"),
                    (-F.col("freq")).alias("_nf"),
                )
            ).alias("_b")
        )
        .select(
            target_col,
            F.col("_b.power").alias("ls_power"),
            (-F.col("_b._nf")).alias("ls_freq"),
        )
    )

    # --- flares (P7), keyed ------------------------------------------
    flares = flare_outlier_search(
        det, window_days=cfg.flare_window, threshold=cfg.flare_threshold,
        group_cols=keys, halo_chunk_days=24.0 * cfg.flare_window,
    )
    flare_counts = flares.groupBy(target_col).agg(
        F.count("*").alias("n_flares")
    )

    # --- gate (A9) + per-target summary: THE analyses action ---------
    pre = (
        spans.join(F.broadcast(det_agg), target_col, "left")
        .join(F.broadcast(ls_best), target_col, "left")
        .join(F.broadcast(flare_counts), target_col, "left")
        .select(
            target_col,
            "n_samples",
            "span_days",
            F.coalesce("n_bls_signals", F.lit(0)).cast("int")
            .alias("n_bls_signals"),
            F.coalesce("best_bls_snr", F.lit(0.0)).alias("best_bls_snr"),
            "ls_power",
            "ls_freq",
            F.coalesce("n_flares", F.lit(0)).alias("n_flares"),
            (
                (F.coalesce("best_bls_snr", F.lit(0.0)) > cfg.gate_bls_snr)
                | (F.coalesce("ls_power", F.lit(0.0)) > cfg.gate_ls_power)
            ).alias("detected"),
            "signals",
        )
    )
    rows = pre.collect()
    summary = local_relation(spark, rows, pre.schema)
    detections = local_relation(
        spark,
        [
            {target_col: r[target_col], **s.asDict()}
            for r in rows
            for s in r["signals"] or ()
        ],
        detections.schema,
    )
    out = summary.drop("signals")
    stages: dict[str, DataFrame] = {
        "summary": out, "detections": detections, "spec": spec,
        "flares": flares,
    }

    # --- gated stages: top accepted detection per DETECTED target ----
    need_top = (
        cfg.fit_on_detection
        or cfg.phase_bins_on_detection
        or cfg.nm_fit_on_detection
        or cfg.phase_components_on_detection
    )
    if need_top:
        # signals[0] is signal_idx 0; folds into a local relation
        first = F.col("signals")[0]
        top = summary.filter(
            F.col("detected") & (F.size("signals") > 0)
        ).select(
            target_col,
            first["period"].alias("_p"),
            first["epoch"].alias("_e"),
            (first["dcyc"] * first["period"]).alias("_dura"),
            first["depth"].alias("_dep"),
        )
        joined = det.join(F.broadcast(top), target_col)

    # --- gated per-target phase-curve bundle (X5), one keyed agg -----
    # mirrors the reference's per-target phase curves of the TOI
    # population run (examples/examples.py:162-172): fold each detected
    # target on ITS OWN top ephemeris (phase into (-0.5, 0.5], the
    # fold(phase_center=0) convention), bin on the fixed grid
    if cfg.phase_bins_on_detection and need_top:
        p0 = (
            ((F.col("time") - F.col("_e")) % F.col("_p") + F.col("_p"))
            % F.col("_p")
        ) / F.col("_p")
        ph = p0 - F.when(p0 > 0.5, 1.0).otherwise(0.0)
        folded = joined.withColumn("phase", ph).withColumn(
            "stdv", F.lit(1.0)
        )
        bundle = phase_bins(
            folded, num_bins=cfg.phase_num_bins,
            group_cols=[target_col], center=0.0,
        )
        stages["bundle"] = bundle
        pb = (
            bundle.groupBy(target_col)
            .agg(
                # argmin by (value, phase): deepest bin, earliest phase
                # on ties — max of the negated struct is tie-stable and
                # order-free
                F.max(
                    F.struct(
                        (-F.col("value")).alias("_nv"),
                        (-F.col("phase")).alias("_nph"),
                    )
                ).alias("_m"),
                F.count("*").alias("pb_n_bins"),
            )
            .select(
                target_col,
                (-F.col("_m._nv")).alias("pb_min_value"),
                (-F.col("_m._nph")).alias("pb_min_phase"),
                F.col("pb_n_bins").cast("int").alias("pb_n_bins"),
            )
        )
        out = out.join(F.broadcast(pb), target_col, "left")

    # --- gated per-target phase-curve component split (M9 form) ------
    # the reference's zero-and-subtract decomposition evaluated on the
    # fixed phase-bin grid at each DETECTED target's own recovered
    # (period, duration, depth) with the frozen config amplitudes: one
    # broadcast cross join (|targets| x num_bins rows), closed-form
    # column math, decimal fixed-order means (order-independent and
    # oracle-replayable via the VARCHAR hop)
    if cfg.phase_components_on_detection and need_top:
        import math as _math

        from miletos_spark.model.forward import trapezoid_depth_cols

        nb = cfg.phase_num_bins
        bins = spark.range(nb).select(
            (
                F.lit(-0.5)
                + (F.col("id") + F.lit(0.5)) / F.lit(float(nb))
            ).alias("phi")
        )
        g = top.crossJoin(F.broadcast(bins))
        # time at bin phase: t = e + phi*p (exact phase placement; the
        # oracle mirrors the (e + phi*p) - e round trip verbatim)
        tcol = F.col("_e") + F.col("phi") * F.col("_p")
        shape1 = trapezoid_depth_cols(
            tcol, F.col("_p"), F.col("_e"), F.col("_dura")
        )
        shape2 = trapezoid_depth_cols(
            tcol, F.col("_p"), F.col("_e") + F.col("_p") / 2.0,
            F.col("_dura"),
        )
        two_pi = 2.0 * _math.pi
        beam = F.lit(cfg.pc_a_beam) * F.sin(F.lit(two_pi) * F.col("phi"))
        elli = -F.lit(cfg.pc_a_elli) * F.cos(
            F.lit(2.0 * two_pi) * F.col("phi")
        )
        fp = F.lit(cfg.pc_a_night) + F.lit(
            cfg.pc_a_day - cfg.pc_a_night
        ) * (F.lit(1.0) - F.cos(F.lit(two_pi) * F.col("phi"))) / 2.0
        comps = g.select(
            target_col,
            F.col("phi"),
            (-F.col("_dep") * shape1).alias("_dip"),
            beam.alias("_beam"),
            elli.alias("_elli"),
            (fp * (F.lit(1.0) - shape2)).alias("_plan"),
            shape2.alias("_occ"),
        )
        stages["components"] = comps
        dec = "decimal(38,18)"
        in_occ = F.col("_occ") > 0
        pc = comps.groupBy(target_col).agg(
            (
                F.sum(F.col("_dip").cast(dec)).cast("double")
                / F.count("*")
            ).alias("pc_dip_mean"),
            (
                F.sum(F.col("_plan").cast(dec)).cast("double")
                / F.count("*")
            ).alias("pc_plan_mean"),
            F.sum(F.when(in_occ, 1).otherwise(0)).cast("int").alias(
                "pc_occ_bins"
            ),
            (
                F.sum(
                    F.when(in_occ, F.col("_plan")).cast(dec)
                ).cast("double")
                / F.sum(F.when(in_occ, 1).otherwise(0))
            ).alias("pc_occ_plan_mean"),
        )
        out = out.join(F.broadcast(pc), target_col, "left")

    # --- gated per-target closed-form depth fit (M5), one job --------
    if cfg.fit_on_detection and need_top:
        from miletos_spark.model.forward import trapezoid_depth_cols
        from miletos_spark.model.likelihood import depth_fit_closed_form

        shape = trapezoid_depth_cols(
            F.col("time"), F.col("_p"), F.col("_e"), F.col("_dura")
        )
        fits = depth_fit_closed_form(
            joined.withColumn("stdv", F.lit(1.0))
            .withColumn("_shape", shape),
            "_shape",
            group_cols=(target_col,),
        )
        out = out.join(
            F.broadcast(
                fits.select(
                    target_col, "depth_hat", "depth_err", "n_in_shape"
                )
            ),
            target_col,
            "left",
        )

    # --- gated per-target NM trapezoid fit (M5 'exec'), keyed --------
    # one applyInPandas over DETECTED targets only; each group fits
    # (epoch, depth, dura) at its own fixed detected period — the
    # population form of the reference's per-target scipy fit
    if cfg.nm_fit_on_detection and need_top:
        from miletos_spark.model.infer import fit_transit_groups

        nm = fit_transit_groups(
            joined.withColumn("stdv", F.lit(1.0)),
            period=None, epoch0=None,
            group_cols=(target_col,),
            period_col="_p", epoch_col="_e", dura_col="_dura",
        )
        out = out.join(
            F.broadcast(
                nm.select(
                    target_col,
                    F.col("epoch_hat").alias("nm_epoch"),
                    F.col("depth_hat").alias("nm_depth"),
                    F.col("dura_hat").alias("nm_dura"),
                    F.col("chi2").alias("nm_chi2"),
                )
            ),
            target_col,
            "left",
        )
    return out, stages


def run_pipeline(
    spark: SparkSession,
    series: DataFrame,
    config: RunConfig | None = None,
    time_col: str = "time",
    value_col: str = "value",
) -> RunResult:
    """Run the full pipeline on a long-format series
    (time, value[, stdv]). Returns a `RunResult`; nothing sample-sized
    is collected to the driver (detections/summaries are O(1) rows).

    This is a K=1 call of the SHARED population stages (`_analyses`)
    under a constant synthetic key — one stage implementation for both
    entry points, so the two cannot drift. The only single-series
    extra is the measured-span grid default (`grid_span_days=None`):
    the span is read from the detrended data (one bounded row) before
    grid construction, which a population run cannot do (its shared
    broadcast grids require the frozen baseline)."""
    cfg = config or RunConfig()
    t_start = time.time()

    pop = series.withColumn("_target", F.lit(_SOLO))
    work = _guard_mask(pop, cfg, time_col, value_col)
    detrended, det, spans = _detrend_stage(
        work, cfg, ["_target"], time_col, value_col
    )
    span_row = spans.first()
    span = float(span_row["span_days"]) if span_row is not None else 0.0
    if cfg.grid_span_days is not None and cfg.grid_span_days <= 0:
        raise ValueError(
            f"grid_span_days must be positive or None, got {cfg.grid_span_days!r}"
        )
    grid_span = cfg.grid_span_days if cfg.grid_span_days is not None else span

    out, stages = _analyses(spark, det, spans, cfg, "_target", grid_span)
    # local relations (detections in signal_idx order): no job
    row = stages["summary"].first()

    bls_found = [
        {k: v for k, v in r.asDict().items() if k != "_target"}
        for r in stages["detections"].collect()
    ]
    best_snr = float(row["best_bls_snr"]) if row is not None else 0.0
    detected = bool(row["detected"]) if row is not None else False
    ls_best = (
        {"freq": row["ls_freq"], "period": 1.0 / row["ls_freq"],
         "power": row["ls_power"]}
        if row is not None and row["ls_power"] is not None else None
    )
    flares = stages["flares"].drop("_target")

    phase_bundle = None
    if detected and "bundle" in stages and bls_found:
        phase_bundle = stages["bundle"].drop("_target")

    depth_fit = None
    if detected and cfg.fit_on_detection and bls_found:
        top = bls_found[0]
        p, epoch = float(top["period"]), float(top["epoch"])
        dura = float(top["dcyc"]) * p
        flagged = transit_flag(det, p, epoch, dura)
        fit = out.first()
        depth_fit = {
            "depth_hat": fit["depth_hat"],
            "depth_err": fit["depth_err"],
            "n_in_transit": flagged.filter(F.col("in_transit")).count(),
        }

    summary = {
        "n_samples": int(row["n_samples"]) if row is not None else 0,
        "span_days": span,
        "n_bls_signals": len(bls_found),
        "best_bls_snr": best_snr,
        "ls_power": ls_best["power"] if ls_best else None,
        "n_flares": int(row["n_flares"]) if row is not None else 0,
        "detected": detected,
    }
    return RunResult(
        detrended=detrended.drop("_target"),
        bls_detections=bls_found,
        ls_best=ls_best,
        flares=flares,
        detected=detected,
        phase_bundle=phase_bundle,
        depth_fit=depth_fit,
        summary=summary,
        wall_s=time.time() - t_start,
    )


def run_population(
    spark: SparkSession,
    population: DataFrame,
    config: RunConfig | None = None,
    target_col: str = "target",
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """The population run — N independent targets through the full
    guards → clip↔detrend → BLS-multi / LS / flares → gate lifecycle,
    `target_col` as the group key of every stage (the reference's real
    100 TB fan-out axis: a TOI list driven through `miletos.main.init`
    per target, examples/examples.py:162-172; SURVEY §7.1.6 — there it
    is a scheduler loop, here one plan).

    Eager up to the gate (the clip↔detrend actions, then ONE analyses
    action for BLS, LS and flares); the returned DataFrame joins the
    collected summary to the lazy gated stages.

    Requires `config.grid_span_days` (a frozen search-grid baseline):
    a shared trial/frequency grid is what lets every target ride one
    broadcast crossJoin instead of per-target grid builds. The driver
    loop count is `bls_max_signals`, never N. Nothing per-sample ever
    reaches the driver; the result is one summary row per target:
    (target, n_samples, span_days, n_bls_signals, best_bls_snr,
    ls_power, ls_freq, n_flares, detected[, pb_min_value, pb_min_phase,
    pb_n_bins][, depth_hat, depth_err, n_in_shape][, nm_*]) — the
    bracketed groups appear per the phase_bins / fit / nm_fit config
    gates, NULL for undetected targets."""
    cfg = config or RunConfig()
    if cfg.grid_span_days is None:
        raise ValueError(
            "run_population requires config.grid_span_days: the frozen "
            "grid baseline is what makes the search grids shared across "
            "targets (one broadcast crossJoin for the whole population)"
        )
    work = _guard_mask(population, cfg, time_col, value_col)
    _, det, spans = _detrend_stage(
        work, cfg, [target_col], time_col, value_col
    )
    out, _ = _analyses(
        spark, det, spans, cfg, target_col, cfg.grid_span_days
    )
    return out
