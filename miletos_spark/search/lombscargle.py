"""P1 — Lomb-Scargle periodogram (`exec_lspe`, miletos/main.py:4888-5028).

Spark-first formulation: broadcast the frequency grid, crossJoin against
the (mean-subtracted) samples, and reduce per frequency with closed-form
trig moments — the classic Lomb (1976)/Scargle (1982) floating-tau
normalized periodogram:

    2*w*tau = atan2(Σ sin 2wt, Σ cos 2wt)
    P(w) = [ YCτ²/CCτ + YSτ²/SSτ ] / Σ ŷ²

where all τ-shifted sums derive from five per-frequency aggregates
(Σcos2wt, Σsin2wt, Σŷcoswt, Σŷsinwt, n). One shuffle on freq; every
aggregate is algebraic so map-side partial aggregation keeps the
shuffle at |grid| rows per partition regardless of input size. The
same formula is emitted as ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miletos_spark.schema import local_relation

TWO_PI = 2.0 * math.pi


def freq_grid(spark: SparkSession, f_min: float, df: float, n_freq: int) -> DataFrame:
    """The grid freq_k = f_min + k·df as a LOCAL relation (one `freq`
    column): computed on the driver with the same IEEE operations the
    SQL oracles use, so broadcasting it schedules no job."""
    return local_relation(
        spark,
        [{"freq": f_min + float(k) * df} for k in range(n_freq)],
        T.StructType([T.StructField("freq", T.DoubleType(), False)]),
    )


def lomb_scargle(
    df: DataFrame,
    grid: DataFrame,
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Normalized LS periodogram. Returns (freq, power) — one row per
    trial frequency, power in [0, 1].

    Plan shape: two scalar aggs (mean, Σŷ²) → crossJoin(broadcast(grid))
    → groupBy(freq) with 4 trig-moment sums → per-freq closed form.
    """
    stats = df.agg(
        F.avg(value_col).alias("mu"), F.count(value_col).alias("n")
    ).first()
    mu, n = float(stats["mu"]), int(stats["n"])

    w = TWO_PI * F.col("freq")
    wt = w * F.col(time_col)
    y = F.col(value_col) - F.lit(mu)

    moments = (
        df.select(time_col, value_col)
        .crossJoin(F.broadcast(grid))
        .groupBy("freq")
        .agg(
            F.sum(F.cos(2 * wt)).alias("c2"),
            F.sum(F.sin(2 * wt)).alias("s2"),
            F.sum(y * F.cos(wt)).alias("yc"),
            F.sum(y * F.sin(wt)).alias("ys"),
            F.sum(y * y).alias("syy"),
        )
    )

    w2 = TWO_PI * F.col("freq")  # re-bind post-agg
    tau_ang = F.atan2(F.col("s2"), F.col("c2"))  # = 2*w*tau
    ct = F.cos(tau_ang / 2)
    st = F.sin(tau_ang / 2)
    yct = F.col("yc") * ct + F.col("ys") * st
    yst = F.col("ys") * ct - F.col("yc") * st
    cross = F.col("c2") * F.cos(tau_ang) + F.col("s2") * F.sin(tau_ang)
    cct = (F.lit(float(n)) + cross) / 2
    sst = (F.lit(float(n)) - cross) / 2
    power = (yct * yct / cct + yst * yst / sst) / F.col("syy")
    return moments.select("freq", power.alias("power"))


def lomb_scargle_grouped(
    df: DataFrame,
    grid: DataFrame,
    group_cols: Sequence[str],
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """`lomb_scargle` keyed by `group_cols` (population fan-out): the
    two driver scalars (per-series mean and sample count) become a
    per-group aggregate broadcast-joined in, and the trig moments
    reduce per (group, freq) — N targets share ONE crossJoin against
    one broadcast grid, one shuffle of |groups|·|grid| rows."""
    keys = list(group_cols)
    stats = df.groupBy(*keys).agg(F.avg(value_col).alias("_mu"))

    w = TWO_PI * F.col("freq")
    wt = w * F.col(time_col)
    y = F.col(value_col) - F.col("_mu")

    moments = (
        df.select(*keys, time_col, value_col)
        .join(F.broadcast(stats), keys)
        .crossJoin(F.broadcast(grid))
        .groupBy(*keys, "freq")
        .agg(
            F.sum(F.cos(2 * wt)).alias("c2"),
            F.sum(F.sin(2 * wt)).alias("s2"),
            F.sum(y * F.cos(wt)).alias("yc"),
            F.sum(y * F.sin(wt)).alias("ys"),
            F.sum(y * y).alias("syy"),
            F.count("*").alias("_n"),
        )
    )

    tau_ang = F.atan2(F.col("s2"), F.col("c2"))
    ct = F.cos(tau_ang / 2)
    st = F.sin(tau_ang / 2)
    yct = F.col("yc") * ct + F.col("ys") * st
    yst = F.col("ys") * ct - F.col("yc") * st
    cross = F.col("c2") * F.cos(tau_ang) + F.col("s2") * F.sin(tau_ang)
    cct = (F.col("_n") + cross) / 2
    sst = (F.col("_n") - cross) / 2
    power = (yct * yct / cct + yst * yst / sst) / F.col("syy")
    return moments.select(*keys, "freq", power.alias("power"))


def lomb_scargle_sql(
    events_time_expr: str,
    events_value_expr: str,
    table: str,
    f_min: float,
    df: float,
    n_freq: int,
    group_col: str | None = None,
) -> str:
    """ANSI-SQL twin of `lomb_scargle` for the DuckDB oracle — identical
    math, generated grid, same column names (freq, power). With
    `group_col` it twins `lomb_scargle_grouped`: per-group mean, the
    moments reduce per (group, freq)."""
    gsel = f"{group_col}, " if group_col else ""
    sgsel = f"s.{group_col}, " if group_col else ""
    ggrp = f" GROUP BY {group_col}" if group_col else ""
    stjoin = (
        f"JOIN stats st USING ({group_col})" if group_col
        else "CROSS JOIN stats st"
    )
    return f"""
WITH samples AS (
  SELECT {gsel}CAST({events_time_expr} AS DOUBLE) AS t,
         CAST({events_value_expr} AS DOUBLE) AS v
  FROM {table}
),
stats AS (SELECT {gsel}avg(v) AS mu, count(*) AS n FROM samples{ggrp}),
grid AS (
  SELECT CAST({f_min!r} AS DOUBLE) + k * CAST({df!r} AS DOUBLE) AS freq
  FROM (SELECT unnest(range({n_freq})) AS k)
),
moments AS (
  SELECT {sgsel}g.freq,
         sum(cos(2*2*pi()*g.freq*s.t)) AS c2,
         sum(sin(2*2*pi()*g.freq*s.t)) AS s2,
         sum((s.v - st.mu) * cos(2*pi()*g.freq*s.t)) AS yc,
         sum((s.v - st.mu) * sin(2*pi()*g.freq*s.t)) AS ys,
         sum((s.v - st.mu) * (s.v - st.mu)) AS syy,
         count(*) AS n
  FROM samples s {stjoin} CROSS JOIN grid g
  GROUP BY {sgsel}g.freq
)
SELECT {gsel}freq,
       ( pow(yc*cos(atan2(s2,c2)/2) + ys*sin(atan2(s2,c2)/2), 2)
           / ((n + c2*cos(atan2(s2,c2)) + s2*sin(atan2(s2,c2)))/2)
       + pow(ys*cos(atan2(s2,c2)/2) - yc*sin(atan2(s2,c2)/2), 2)
           / ((n - c2*cos(atan2(s2,c2)) - s2*sin(atan2(s2,c2)))/2)
       ) / syy AS power
FROM moments
"""
