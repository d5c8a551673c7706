"""Run registry queries under an explicit SparkSession config and print
canonical results as JSON (floats via repr, so last-ulp differences show).

Used by tests/test_determinism.py to assert that query output is
bit-identical across radically different session configs (shuffle
partition count, AQE, arrow, broadcast thresholds) — the conditions the
driver's own session may differ in. `run_passes` runs several configs in
one session; the command line runs one:

    python tools/determinism_check.py SF_DIR QUERY [QUERY ...] \
        --conf spark.sql.shuffle.partitions=7 --conf ...

Each `--conf` is a runtime SQL conf, set on a local[8] session.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_rows(rows: list[dict]) -> list[list]:
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if v == 0.0:
                return "0.0"
            return repr(v)
        return v

    out = [
        [norm(r[k]) for k in sorted(r.keys())] for r in rows
    ]
    return sorted(out, key=repr)


def run_passes(
    sf_dir: str, names: list[str], passes: list[dict[str, str]]
) -> list[dict]:
    """Run `names` once per conf dict in `passes`, all in one local[8]
    session: before each pass every conf any pass sets is reset to its
    default and the pass's own values applied (runtime SQL confs only),
    and the pass gets its own `tempfile.tempdir`, so no pass reads
    another's memoized landings or cached frames. Returns one
    {query: canonical rows} dict per pass."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("determinism_check")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from miletos_spark.plans.driver_queries import QUERIES

    keys = {k for confs in passes for k in confs}
    results = []
    for confs in passes:
        for k in keys:
            spark.conf.unset(k)
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
        tempfile.tempdir = tempfile.mkdtemp(prefix="determinism_")
        try:
            results.append({
                name: canon_rows(
                    [r.asDict() for r in QUERIES[name](spark, sf_dir).collect()]
                )
                for name in names
            })
        finally:
            shutil.rmtree(tempfile.tempdir, ignore_errors=True)
            tempfile.tempdir = None
    spark.stop()
    return results


def main() -> None:
    args = sys.argv[1:]
    confs = dict(
        args[i + 1].split("=", 1)
        for i, a in enumerate(args[:-1]) if a == "--conf"
    )
    rest = [
        a for i, a in enumerate(args)
        if a != "--conf" and (i == 0 or args[i - 1] != "--conf")
    ]
    (result,) = run_passes(rest[0], rest[1:], [confs])
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
