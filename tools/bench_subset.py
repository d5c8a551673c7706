"""Time a subset of headline rows with the exact shared-leg discipline
of bench.py (`bench.time_shared`: warm touch for landed probes,
clearCache + gc, best-of-2) — for targeted same-host A/Bs.

Usage: python tools/bench_subset.py SF_DIR name [name ...]
Prints one JSON line {name: best_sec}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    from bench import time_shared, warm_session
    from miletos_spark.session import get_spark

    spark = get_spark(app_name="bench_subset")
    warm_session(spark, sf_dir)
    out: dict[str, float] = {}
    for name in names:
        runs, _ = time_shared(spark, sf_dir, name)
        out[name] = round(min(runs), 4)
        print(f"# {name}: {out[name]:.3f}s  runs={[round(r,3) for r in runs]}",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
