"""Steadiness evidence for the benchmark: run every workload on several seeds
in several sets and compare the sets.

    python3 perfbench/steady.py --sets 2 --runs 10 --out perfbench/evidence/steadiness.json

Set k uses seeds 100*k+1 .. 100*k+runs. Runs are interleaved (for each seed
index, every set, every workload) so that a change in machine load falls on
all sets alike. For each set, workload and end-to-end metric the output
holds the values, median, quartiles (`statistics.quantiles(n=4)`) and the
spread (q3 - q1) / median; for each later set, each metric's median shift
against the first set as a share of the first set's median, next to the
metric's bound from BENCHMARK.json. `--trace 1` or `--fault` pass through to
the benchmark and record its raw results instead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(cmd, workload, seed, seconds, trace, fault) -> dict:
    args = [*cmd, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    if fault:
        args.append("--fault")
    t = time.perf_counter()
    proc = subprocess.run(args, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    print(f"{workload} seed {seed}: exit {proc.returncode}, {wall:.1f}s, "
          f"correct={result and result['correct']}", file=sys.stderr, flush=True)
    log = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench")]
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall,
            "result": result, "log": log}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(values)}


def compare(bench: dict, runs: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = {}
    for k, per in runs.items():
        sets[k] = {}
        for w, rs in per.items():
            ok = [r["result"] for r in rs if r["result"] is not None]
            sets[k][w] = {
                "runs": len(rs),
                "all_correct": len(ok) == len(rs) and all(r["correct"] for r in ok),
                "max_wall_s": max(r["wall_s"] for r in rs),
                "total_wall_s": sum(r["wall_s"] for r in rs),
                "metrics": {m: summarize([r["metrics"][m]["value"] for r in ok]) for m in bounds},
            }
    first = sets[1]
    shifts = {
        k: {
            w: {
                m: {
                    "shift": (s["median"] - first[w]["metrics"][m]["median"])
                    / first[w]["metrics"][m]["median"],
                    "bound": bounds[m],
                }
                for m, s in per[w]["metrics"].items()
            }
            for w in per
        }
        for k, per in sets.items()
        if k != 1
    }
    return {"sets": sets, "median_shift_vs_set_1": shifts}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--fault", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    runs = {k: {w: [] for w in workloads} for k in range(1, args.sets + 1)}
    for i in range(1, args.runs + 1):
        for k in runs:
            for w in workloads:
                runs[k][w].append(run_once(
                    bench["command"], w, 100 * k + i, bench["run_seconds"],
                    args.trace, args.fault,
                ))
        # rewritten after every round, so an interrupted script keeps its runs
        out = {"runs": runs}
        if not (args.trace or args.fault) and i > 1:
            out.update(compare(bench, runs))
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
