"""Controlled scaling probe for the streamed probe scorer (r9,
VERDICT r8 Wrong #2).

The r8 10×-corpus probe fed BOTH scales through 4 files, so batches
were 10× larger and the ×3.63 factor conflated per-batch engine
overhead with per-row compute. This probe separates the two
coefficients of the linear cost model  wall = a·batches + b·rows:

- rows-per-batch HELD CONSTANT: the k× corpus ships as 4k files of
  the same size, maxFilesPerTrigger=1 → k× batches of 1× rows.
- combined with the r8 shape (4 files at any scale → constant
  batches, k× rows) the two runs pin a (per-batch overhead) and
  b (per-row cost) by elimination.

Usage: python tools/stream_probe_controlled.py [k]     # default 10
Writes one JSON line with both walls and the derived coefficients.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from miletos_spark.pipeline.commit import land_once  # noqa: E402
from miletos_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"


def land_feed(spark, k: int, files_per_copy: int, tag: str) -> str:
    """k corpus copies (ids shifted; scoring does not dedup, so text
    may repeat) written as k*files_per_copy equal-size parquet files."""
    from miletos_spark.schema import load_table

    def build(out: str) -> None:
        base = load_table(spark, BASE, "documents").select(
            "doc_id", "lang", "text"
        )
        nd = base.count()
        copies = [
            base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10 * nd))
            for i in range(k)
        ]
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        # bucket on id ranges so every file has the same row count and the
        # file count is exactly k*files_per_copy
        allc.withColumn(
            "_f", F.floor(F.col("doc_id") % (10 * nd) / (nd / files_per_copy))
            + (F.col("doc_id") / (10 * nd)).cast("int") * files_per_copy
        ).repartition("_f").write.mode("overwrite").partitionBy("_f").parquet(
            out
        )

    return land_once(f"sprobe_{tag}_{k}x{files_per_copy}", build, BASE)


def drain(spark, land: str) -> float:
    from miletos_spark.pipeline.classifier import (
        probe_features,
        train_linear_probe,
    )
    from miletos_spark.plans.driver_queries import _probe_label
    from miletos_spark.schema import load_table
    from miletos_spark.streaming.ingest import stream_probe_score
    from miletos_spark.streaming.stateful import run_available_now

    docs = load_table(spark, BASE, "documents")
    w = train_linear_probe(
        probe_features(docs, _probe_label())
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    sdf = stream_probe_score(
        spark, land, "doc_id long, lang string, text string", w,
        max_files_per_trigger=1,
    )
    name = f"ctl_{int(t0 * 1000) % 100000}"
    run_available_now(sdf, name, timeout_sec=600)
    n = spark.sql(f"SELECT count(*) FROM {name}").first()[0]
    el = time.perf_counter() - t0
    print(f"# drained {n} rows in {el:.2f}s", file=sys.stderr)
    return el


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="stream_probe_controlled")
    spark.sparkContext.setLogLevel("ERROR")

    land1 = land_feed(spark, 1, 4, "c")
    landk = land_feed(spark, k, 4, "c")
    w1 = drain(spark, land1)          # 4 batches, 1x rows
    wk_ctl = drain(spark, landk)      # 4k batches, kx rows (controlled)
    # r8 shape for the same corpus: 4 files total -> constant batches
    landk_fat = land_feed(spark, k, 1, "fat")  # k files (k batches, kx rows)
    wk_fat = drain(spark, landk_fat)

    # solve wall = a*batches + b*rows from the two WARM same-total-rows
    # shapes (4k batches x R rows vs k batches x 4R rows — independent
    # equations, and both run after the first streaming query paid the
    # session's one-time stream-planner warmup, which contaminates the
    # 1x run by ~2 s); the 1x run then shows the warmup residual.
    import numpy as np

    m = np.array([[4.0 * k, float(k)], [float(k), float(k)]])
    a, b = np.linalg.solve(m, np.array([wk_ctl, wk_fat]))
    pred_1x = a * 4.0 + b * 1.0
    print(json.dumps({
        "axis": "stream-probe-controlled", "k": k,
        "wall_1x_4files": round(w1, 2),
        "wall_kx_4kfiles": round(wk_ctl, 2),
        "wall_kx_kfiles": round(wk_fat, 2),
        "per_batch_overhead_s": round(float(a), 3),
        "per_1x_corpus_rows_s": round(float(b), 3),
        "model_pred_1x_4files_warm": round(float(pred_1x), 2),
    }))


if __name__ == "__main__":
    main()
