"""S-series sinks (SURVEY.md §2.1, S9–S11).

- `write_stage` — per-stage table writes (the reference's per-stage CSV
  dumps, miletos/main.py:10823-10838), partitioned for pruning.
- `upsert_results` — the cluster-CSV append-with-dedup
  (miletos/main.py:12458-12539) as a keyed merge: new rows replace
  existing rows with the same key, everything else is preserved.
- `memoize_parquet` — the pickle memo short-circuit
  (miletos/main.py:8706-8714): return the cached table unless
  overwrite; else build, persist, return. Persisted through
  `pipeline.commit.publish_dir` (build in a tmp sibling, rename into
  place), so a table that exists is complete and a failed build
  leaves nothing behind to short-circuit on.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_stage(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("inst", "chunk"),
    mode: str = "overwrite",
) -> None:
    """S9 — persist a stage table as partitioned parquet. Partitioning
    by (inst, chunk) mirrors the reference's per-sector files and buys
    partition pruning for sector-selection reads (S7/U4)."""
    writer = df.write.mode(mode)
    cols = [c for c in partition_cols if c in df.columns]
    if cols:
        writer = writer.partitionBy(*cols)
    writer.parquet(path)


def upsert_results(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    key: str = "strgtarg",
) -> DataFrame:
    """S10 — MERGE-style upsert keyed on `key`: keep existing rows whose
    key is absent from `new_rows` (left_anti), union the new rows, write
    back atomically (temp dir + rename via overwrite). Returns the
    merged table.

    Plain-parquet stand-in for `MERGE INTO` (no Delta in this env); the
    anti-join is broadcast when the new side is small — the common case
    (one run summary row per invocation). The merge is written to a
    sibling temp dir and swapped in, so the input path is never read
    and overwritten in the same job (and nothing is collected to the
    driver — the table can be arbitrarily large).

    Promotion is rename-aside, never delete-then-rename: the old table
    moves to `__old`, the new one renames in, then `__old` is removed —
    at no point does a crash leave the path without a recoverable copy
    (a missing path with a surviving `__old` is restored on the next
    call). Scope: local/POSIX filesystems where directory rename is
    atomic; on object stores swap this for a table format's
    transactional commit (Delta/Iceberg)."""
    import shutil

    old = path.rstrip("/") + "__upsert_old"
    if not os.path.exists(path) and os.path.exists(old):
        # crashed after rename-aside, before promotion: recover
        os.rename(old, path)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(
            F.broadcast(new_rows.select(key).distinct()), on=key, how="left_anti"
        )
        merged = keep.unionByName(new_rows, allowMissingColumns=True)
        tmp = path.rstrip("/") + "__upsert_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        new_rows.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def upsert_results_partitioned(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    key: str = "strgtarg",
) -> DataFrame:
    """S10 at scale — partition-level MERGE keyed on `key`: the results
    table is laid out `partitionBy(key)`, and an upsert rewrites ONLY
    the partitions whose key appears in `new_rows` (Spark dynamic
    partition overwrite), leaving every other key's files untouched.

    This is the 100 TB shape `upsert_results` can't reach: the
    whole-file variant reads and rewrites the entire table per upsert
    (O(table) work for O(batch) new rows, and a read-modify-write race
    where two concurrent writers each rewrite the full table and the
    last one wins, silently dropping the other's keys). Here each
    writer touches its own key partitions only, so concurrent upserts
    over disjoint key sets compose with no lost rows — the test
    interleaves two writers and asserts exactly that.

    Semantics: the new batch REPLACES each touched key's partition
    wholesale (one summary row — or one complete row group — per key
    per batch, the reference's per-target results contract,
    miletos/main.py:12458-12539). Idempotent by construction: replaying
    a batch rewrites the same partitions to the same bytes. On object
    stores, swap for a table format's transactional MERGE
    (Delta/Iceberg); the plan shape (partition-pruned write, no
    full-table read) is the same."""
    (
        new_rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(path)
    )
    return spark.read.parquet(path)


def memoize_parquet(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    overwrite: bool = False,
) -> DataFrame:
    """S11 — result-cache table: if `path` exists and not `overwrite`,
    short-circuit and read it (the reference's pickle memo,
    miletos/main.py:8706-8714); else build, publish, read back."""
    from miletos_spark.pipeline.commit import publish_dir

    return spark.read.parquet(
        publish_dir(path, lambda d: build().write.parquet(d), overwrite)
    )


def export_fit_bundle(
    series: DataFrame,
    path: str,
    params_star: dict[str, float],
    companions: dict[str, dict[str, float]],
    settings: dict[str, str] | None = None,
    inst_col: str = "inst",
    time_col: str = "time",
    value_col: str = "value",
    stdv_col: str = "stdv",
) -> dict[str, str]:
    """M9 — the external-fitter bridge layout (`proc_alle`,
    miletos/main.py:1588-1745): one `{INST}.csv` per instrument with a
    `time,flux,flux_err` header, `params_star.csv` (two comment lines +
    R/M/Teff triples), `params.csv` rows `name,value,fit,bounds,label,
    unit` per companion (rr, rsuma, cosi, epoch, period, f_c, f_s, K),
    and `settings.csv` key,value rows. The per-instrument series export
    is a Spark job (partitioned write, time-sorted within instrument);
    the small parameter files are driver-side. Local-FS rename like
    `upsert_results` — on object stores, point `path` at a staging dir.
    Skip-if-exists per file, the reference's resume semantics. Returns
    {filename: path}."""
    import glob
    import shutil

    os.makedirs(path, exist_ok=True)
    out: dict[str, str] = {}

    insts = [r[0] for r in series.select(inst_col).distinct().collect()]
    for inst in insts:
        dst = os.path.join(path, f"{inst}.csv")
        out[f"{inst}.csv"] = dst
        if os.path.exists(dst):
            continue
        tmp = dst + "__stage"
        (
            series.filter(F.col(inst_col) == inst)
            .select(
                F.col(time_col).alias("time"),
                F.col(value_col).alias("flux"),
                F.col(stdv_col).alias("flux_err"),
            )
            .sort("time")
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .csv(tmp)
        )
        parts = glob.glob(os.path.join(tmp, "part-*.csv"))
        if not parts:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"export_fit_bundle: coalesced CSV write for {inst!r} "
                f"produced no part file under {tmp}"
            )
        os.replace(parts[0], dst)
        shutil.rmtree(tmp)

    star = os.path.join(path, "params_star.csv")
    out["params_star.csv"] = star
    if not os.path.exists(star):
        # temp + rename: skip-if-exists resume semantics require that
        # an existing file is always a COMPLETE file
        with open(star + "__stage", "w") as f:
            f.write(
                "#R_star,R_star_lerr,R_star_uerr,M_star,M_star_lerr,"
                "M_star_uerr,Teff_star,Teff_star_lerr,Teff_star_uerr\n"
                "#R_sun,R_sun,R_sun,M_sun,M_sun,M_sun,K,K,K\n"
            )
            g = params_star.get
            f.write(
                "%g,%g,%g,%g,%g,%g,%g,%g,%g"
                % (
                    g("radius", 1.0), g("radius_err", 0.1), g("radius_err", 0.1),
                    g("mass", 1.0), g("mass_err", 0.1), g("mass_err", 0.1),
                    g("teff", 5778.0), g("teff_err", 100.0), g("teff_err", 100.0),
                )
            )
        os.replace(star + "__stage", star)

    para = os.path.join(path, "params.csv")
    out["params.csv"] = para
    if not os.path.exists(para):
        lines = ["#name,value,fit,bounds,label,unit\n"]
        for comp, p in companions.items():
            rr, rsuma = p.get("rr", 0.1), p.get("rsuma", 0.2)
            cosi = p.get("cosi", 0.0)
            epoch, peri = p.get("epoch", 0.0), p.get("period", 1.0)
            rows = [
                (f"{comp}_rr", rr, 1, f"uniform 0 {4 * rr:f}"),
                (f"{comp}_rsuma", rsuma, 1, f"uniform 0 {4 * rsuma:f}"),
                (f"{comp}_cosi", cosi, 1,
                 f"uniform 0 {max(0.1, 4 * cosi):f}"),
                (f"{comp}_epoch", epoch, 1,
                 f"uniform {epoch - 0.5:f} {epoch + 0.5:f}"),
                (f"{comp}_period", peri, 1,
                 f"uniform {peri * 0.99:f} {peri * 1.01:f}"),
                (f"{comp}_f_c", p.get("f_c", 0.0), 0, "uniform -0.9 0.9"),
                (f"{comp}_f_s", p.get("f_s", 0.0), 0, "uniform -0.9 0.9"),
                (f"{comp}_K", p.get("K", 0.0), 0, "uniform 0 100"),
            ]
            for name, val, fit, bounds in rows:
                lines.append(f"{name},{val:f},{fit},{bounds},${name}$,\n")
        with open(para + "__stage", "w") as f:
            f.writelines(lines)
        os.replace(para + "__stage", para)

    sett = os.path.join(path, "settings.csv")
    out["settings.csv"] = sett
    if not os.path.exists(sett):
        with open(sett + "__stage", "w") as f:
            f.write("#name,value\n")
            for k, v in (settings or {"companions_phot": "b"}).items():
                f.write(f"{k},{v}\n")
        os.replace(sett + "__stage", sett)

    return out
