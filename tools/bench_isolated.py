"""Isolated-session bench leg for the heavy composed-pipeline rows
(VERDICT r11 Wrong #1): `pipeline_summary_events` /
`pipeline_population_events` are the suite's most expensive queries
(10 s+), and in the shared bench JVM their wall time swings with
whatever allocation/JIT state the preceding ~120 queries left behind —
an A/B/A experiment measured identical code varying 15.8–25.3 s, wider
than any real round-over-round delta, so a genuine 1.3× regression on
exactly the rows that matter most would be invisible.

This leg runs them the way `tools/bench_ingest.py` runs the landing
walls: their OWN fresh Spark JVM, nothing else timed in it, min-of-N_RUNS
with EVERY run recorded — bench.py merges the best into the headline
timings (stdout-line comparable round-over-round) and persists the full
spread into BENCH_DETAIL.json's `isolated_runs`, so a future delta can
be judged against the measured same-session variance instead of
guessed host noise.

Usage: python tools/bench_isolated.py SF_DIR name [name ...]
Prints ONE JSON line: {name: {"best": s, "runs": [s, s, s]}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N_RUNS = 4  # fresh-JVM runs converge slowly (measured 43.5 → 21.4 →
# 18.8 s on pipeline_summary at sf0.1); the 4th run buys a stabler min


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from bench import warm_session
    from miletos_spark.plans.driver_queries import QUERIES
    from miletos_spark.session import get_spark

    spark = get_spark(app_name="miletos_spark_bench_isolated")
    warm_session(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        runs: list[float] = []
        for _ in range(N_RUNS):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 4))
        out[name] = {"best": min(runs), "runs": runs}
        print(f"# isolated {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
