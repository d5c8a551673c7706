"""Per-query PLAN-CONSTRUCTION profiler (guide §1 / §5: driver work).

Times fn(spark, sf_dir) for every headline query — for lazy (batch)
queries that is pure driver-side plan construction (Python + py4j), a
fixed per-invocation tax that no executor parallelism can amortize.
Rows whose builder EXECUTES work (streaming drains, landings) are
reported under a separate label so they aren't misread as construction.

Usage: python tools/profile_construction.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = set(sys.argv[2:])

# builders that run jobs inside fn() (streams drain; landings build);
# their fn time is NOT pure construction
_EXECUTING_PREFIXES = ("stream_",)


def main() -> None:
    from bench import HEADLINE, warm_session
    from miletos_spark.plans.driver_queries import QUERIES
    from miletos_spark.session import get_spark

    spark = get_spark(app_name="construction_profile")
    warm_session(spark, SF_DIR)

    rows = []
    for name in HEADLINE:
        if ONLY and name not in ONLY:
            continue
        executing = name.startswith(_EXECUTING_PREFIXES)
        if executing and not ONLY:
            continue  # builder runs the stream; not construction — skip
        fn = QUERIES[name]
        best = None
        for _ in range(1 if executing else 2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        rows.append((best, name, executing))
    rows.sort(reverse=True)
    for dt, name, executing in rows:
        tag = "fn-executes" if executing else "construction"
        print(f"{dt:8.3f}s  {tag:12s}  {name}")


if __name__ == "__main__":
    main()
