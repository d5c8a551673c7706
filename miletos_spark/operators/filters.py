"""Row filters / predicates (SURVEY.md §2.2, F1–F7).

All are plain Catalyst predicates → pushed to the parquet scan when
applied directly after read (check ``PushedFilters`` in .explain).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quality_mask(
    df: DataFrame,
    quality_col: str = "quality",
    value_col: str = "value",
) -> DataFrame:
    """F1 — keep rows with quality flag 0 and finite value.

    Reference: QUALITY==0 & isfinite(flux) at read time
    (miletos/main.py:7448, 7465-7472).
    """
    out = df
    if quality_col in df.columns:
        out = out.filter(F.col(quality_col) == 0)
    c = F.col(value_col)
    return out.filter(c.isNotNull() & ~F.isnan(c))


def finite_guard(df: DataFrame, cols: Sequence[str] = ("value",)) -> DataFrame:
    """F4 — drop rows with any non-finite value in `cols`
    (miletos/main.py:9467-9470)."""
    out = df
    for name in cols:
        c = F.col(name)
        out = out.filter(c.isNotNull() & ~F.isnan(c) & (F.abs(c) != float("inf")))
    return out


def value_sanity(df: DataFrame, value_col: str = "value", limit: float = 1e10) -> DataFrame:
    """F7 — reject |value| > limit rows (miletos/main.py:5438-5441)."""
    return df.filter(F.abs(F.col(value_col)) <= limit)


def mask_time_windows(
    df: DataFrame,
    windows: Sequence[tuple[float, float]],
    time_col: str = "time",
) -> DataFrame:
    """F2 — drop rows inside any [t0, t1] mask window (`maskcust`,
    miletos/main.py:10841-10865).

    The reference keeps the complement via setdiff1d on positional
    indices; here it is a pure predicate (no join, no shuffle), which is
    the scale-correct form: the window list is tiny driver-side metadata
    folded into the scan filter.
    """
    if not windows:
        return df
    t = F.col(time_col)
    cond = None
    for t0, t1 in windows:
        w = t.between(float(t0), float(t1))
        cond = w if cond is None else (cond | w)
    return df.filter(~cond)


def sigma_clip(
    df: DataFrame,
    value_col: str = "value",
    group_cols: Sequence[str] = (),
    low: float = 3.0,
    high: float = 3.0,
    max_iter: int = 5,
) -> DataFrame:
    """F3 — iterative sigma clip to fixpoint (scipy.stats.sigmaclip
    semantics: bounds mean ± k*std recomputed each pass, loop until no
    row removed or `max_iter`; miletos/main.py:10931-11087, cap
    `maxmnumbiterbdtr` miletos/main.py:8586).

    Driver-side loop: each pass pins its input with a lazy local
    checkpoint, which the pass's count() materializes, then runs one agg
    + one filter. The pin dies with the frame, so no cache entry outlives
    the call. With group_cols the clip bounds are computed per group via
    an aggregate + broadcast join (group count is small: instruments ×
    chunks), never a per-row window.
    """
    out = df
    prev = None
    for _ in range(max_iter):
        out = out.localCheckpoint(eager=False)
        n = out.count()
        if prev is not None and n == prev:
            break
        prev = n
        if group_cols:
            stats = out.groupBy(*group_cols).agg(
                F.avg(value_col).alias("_mu"), F.stddev_pop(value_col).alias("_sd")
            )
            clipped = (
                out.join(F.broadcast(stats), on=list(group_cols))
                .filter(
                    (F.col(value_col) > F.col("_mu") - low * F.col("_sd"))
                    & (F.col(value_col) < F.col("_mu") + high * F.col("_sd"))
                )
                .drop("_mu", "_sd")
            )
        else:
            row = out.agg(
                F.avg(value_col).alias("mu"), F.stddev_pop(value_col).alias("sd")
            ).first()
            mu, sd = row["mu"], row["sd"]
            if sd is None or sd == 0.0:
                break
            clipped = out.filter(
                (F.col(value_col) > mu - low * sd) & (F.col(value_col) < mu + high * sd)
            )
        out = clipped
    return out
