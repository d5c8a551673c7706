"""Semantic-dedup ASSIGNMENT scaling probe (r9, VERDICT r8 Next #1).

The r8 weakness was the trend line, not any tested scale: single-level
assignment ranks all k cells per vector, so with the occupancy-bounded
k = n/256 the distance work is n·k = n²/256 and the ranking shuffle
carries n·k structs. The r9 two-level path does n·√k. This probe pins
the trend by measuring the ASSIGNMENT stage alone (quantizer landing
excluded — it is a one-time ingest cost) on synthetic hash-random
vectors at a geometric ladder of corpus sizes, for both forms:

    python tools/semdedup_probe.py [n1 n2 ...]     # default 20000 60000 180000

Writes one JSON line:
    {"axis": "semdedup-assign", "rows": [
        {"n": N, "k": K, "single_s": ..., "two_level_s": ...,
         "work_single": n*k, "work_two_level": n*(sqrt~k_c + 2*k_f)}]}

Interpretation: single_s should grow ~quadratically over the ladder,
two_level_s ~linearly-with-√k — i.e. the ratio two_level_s/single_s
must shrink as n grows.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from miletos_spark.session import get_spark  # noqa: E402

EMB_DIM = 64


def synth_vectors(spark, n: int):
    idx = F.sequence(F.lit(0), F.lit(EMB_DIM - 1))
    maxlong = float(1 << 63)
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            idx,
            lambda j: F.xxhash64(F.col("id"), j).cast("double") / F.lit(maxlong),
        ).alias("embedding"),
    )


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [20000, 60000, 180000]
    spark = get_spark(app_name="semdedup_probe")
    spark.sparkContext.setLogLevel("ERROR")

    from miletos_spark.pipeline.landing import _lloyd, _sample_vectors
    from miletos_spark.pipeline.similarity import (
        _l2sq,
        assign_cells_2l,
    )

    rows = []
    for n in ns:
        k = max(8, n // 256)
        k_c = max(1, math.isqrt(max(0, k - 1)) + 1)
        k_f = max(1, -(-k // k_c))
        vec = synth_vectors(spark, n)
        # bounded sample -> driver-side two-level training (the
        # land_ivf2_index recipe without the landing I/O)
        pts, _ = _sample_vectors(vec)
        coarse_c = _lloyd(pts, k_c, 42)
        d2 = ((pts[:, None, :] - coarse_c[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        fine_rows = []
        for s in range(len(coarse_c)):
            members = pts[a == s]
            if len(members) == 0:
                fine_rows.append((s, 0, [float(x) for x in coarse_c[s]]))
                continue
            # share-proportional fine budget (land_ivf2_index recipe)
            k_f_s = max(1, round(k * len(members) / len(pts)))
            fc = _lloyd(members, k_f_s, 43 + s)
            fine_rows += [
                (s, int(j), [float(x) for x in c]) for j, c in enumerate(fc)
            ]
        coarse = spark.createDataFrame(
            [(int(s), [float(x) for x in c]) for s, c in enumerate(coarse_c)],
            "super int, center array<double>",
        ).cache()
        fine = spark.createDataFrame(
            fine_rows, "super int, fine int, center array<double>"
        ).cache()
        coarse.count(), fine.count()
        # flat single-level centers table: all k fine cells
        flat = fine.select(
            (F.col("super") * 100000 + F.col("fine")).alias("cell"), "center"
        ).cache()
        flat.count()

        t0 = time.perf_counter()
        two = assign_cells_2l(
            vec, coarse, fine, n_probe_coarse=2, n_probe_fine=2
        ).count()
        t_two = time.perf_counter() - t0

        # the single-level form: crossJoin(broadcast(k centers)) +
        # per-id top-2 via groupBy collect, the n·k assignment the
        # two-level quantizer replaces
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        base = vec.select(F.col("vec_id").alias("_id"), v.alias("_v"))
        ranked = base.crossJoin(F.broadcast(flat)).select(
            "_id",
            F.struct(
                _l2sq(F.col("_v"), F.col("center")).alias("_d2"),
                F.col("cell").alias("cell"),
            ).alias("_s"),
        )
        t0 = time.perf_counter()
        single = (
            ranked.groupBy("_id")
            .agg(F.slice(F.sort_array(F.collect_list("_s")), 1, 2).alias("_t"))
            .select(F.explode(F.col("_t.cell")))
            .count()
        )
        t_single = time.perf_counter() - t0

        row = {
            "n": n, "k": k, "k_c": k_c, "k_f": k_f,
            "two_level_s": round(t_two, 2),
            "single_s": round(t_single, 2),
            "assigned_two": two, "assigned_single": single,
            "work_single": n * k,
            "work_two_level": n * (k_c + 2 * k_f),
        }
        rows.append(row)
        print(f"# n={n} k={k}: two-level {t_two:.2f}s, "
              f"single {t_single:.2f}s", file=sys.stderr)
    print(json.dumps({"axis": "semdedup-assign", "rows": rows}))


if __name__ == "__main__":
    main()
