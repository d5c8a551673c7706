"""End-to-end and per-layer benchmark of miletos_spark.

    python3 perfbench/run.py --workload {population,text} \
        --seed N --seconds S --trace {0,1} [--fault]

One process, one closed-loop client: passes run back to back on Spark
`local[N]`, N = min(2, available cores). The process pins the program's
environment (cores, driver heap, fresh per-run temp and Spark local dirs,
a scratch working directory under `.perfbench/` in the current directory),
boots Spark, builds the workload's inputs from the seed once, runs a fixed
number of warm-up passes, then a fixed number of timed passes:
max(1, round(S / nominal pass time)), so that a run always covers the same
work. Every pass's output is checked.

`--trace 0` prints the end-to-end metrics, all plain wall-clock figures:
set-up time (process start to the first timed pass), median pass time,
input rows per second, median micro-batch commit gap and peak RSS.
`--trace 1` runs one more untraced pass to settle, then as many untraced as
traced passes, at least two of each, in ABBA order (untraced, traced,
traced, untraced, ...) so that a linear drift of the pass time cancels out
of `trace.overhead_s`, and prints the per-layer metrics of the traced passes
(spans plus Spark job tags, read back from Spark's status store, and the
JVM's CPU and JIT compile seconds per pass).
`--fault` corrupts every observed output before it is checked, to show that
the checks fail. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; attempted counts every pass
(warm-up, timed and traced), failed those that raised or failed the check.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import ExitStack  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
# local[2]: the population pass is at the job-latency floor and measured no
# slower on 2 cores than on 4, and the 2 spare cores keep JIT, GC and the
# driver off the task threads. A 2g heap: the curation pass measured ~20%
# slower with 1g (GC), and get_spark's default (48g) sizes G1 for a far
# larger machine than a 15 GB, 4-vCPU host. The heap is committed at start
# (-Xms): left to G1's resizing, peak RSS spread 2.0-2.6 GB across runs of
# population, and pass times followed the heap size.
CORES = 2


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> int:
    """Cores, heap and temp dirs for the program, set before Spark boots."""
    cpus = min(CORES, len(os.sched_getaffinity(0)))
    tmp, local, cwd = (os.path.join(run_dir, d) for d in ("tmp", "local", "cwd"))
    for d in (tmp, local, cwd):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # memoized landings key under gettempdir()
    os.chdir(cwd)  # derby.log / spark-warehouse land here
    return cpus


def peak_rss_mb(jvm_pid: int) -> float:
    """Spark JVM VmHWM plus this driver's max RSS; Python workers excluded."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def jvm_work(spark, jvm_pid: int) -> tuple[float, float]:
    """(CPU seconds of the Spark JVM and this driver, seconds the JVM's JIT
    compiler threads have spent compiling) so far."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    cpu = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return cpu, mgmt.getCompilationMXBean().getTotalCompilationTime() / 1e3


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation. The heap is pinned at
    its maximum (-Xms = -Xmx) so that peak RSS does not follow G1's
    resizing; growth of what the program keeps on the heap shows here."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mgmt.getMemoryPoolMXBeans()
        if "Old Gen" in p.getName()
    ) / 2**20


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args, run_dir: str) -> dict:
    from miletos_spark.session import get_spark

    import layers as tr
    from workloads import WORKLOADS

    cpus = pin_environment(run_dir)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata: it would be written under /tmp whatever the tmpdir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            ),
        },
    )
    boot_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    log(f"local[{cpus}] up in {boot_s:.2f}s (jvm pid {jvm_pid})")
    try:
        tracer = tr.Tracer(spark)
        wl = WORKLOADS[args.workload](spark, tracer, run_dir, args.seed)
        with ExitStack() as stack:
            if hasattr(wl, "capture_detections"):
                stack.enter_context(tr.patched({
                    "miletos_spark.plans.orchestrator:bls_multi_signal_grouped":
                        wl.capture_detections,
                }))
            if args.trace:
                stack.enter_context(tr.patched(tr.layer_wrappers(tracer)))
            return measure(args, tracer, wl, boot_s, jvm_pid)
    finally:
        stop_spark(spark)


def measure(args, tracer, wl, boot_s, jvm_pid) -> dict:
    tracer.enabled = bool(args.trace)
    t = time.perf_counter()
    wl.generate()
    datagen_s = time.perf_counter() - t
    tracer.enabled = False
    datagen_spans = tracer.harvest()[0] if args.trace else {}
    log(f"datagen {datagen_s:.2f}s ({wl.rows_per_pass} rows/pass)")

    recs: list[dict] = []
    errors = 0

    def one_pass(i: int, traced: bool):
        nonlocal errors
        tracer.enabled = traced
        work = jvm_work(wl.spark, jvm_pid)
        t = time.perf_counter()
        try:
            out = wl.run_pass(i)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            errors += 1
            return None
        finally:
            tracer.enabled = False
            wall = time.perf_counter() - t
        cpu, jit = (b - a for a, b in zip(work, jvm_work(wl.spark, jvm_pid)))
        layer = tracer.harvest() if traced else None
        try:
            rec = wl.observe(i, out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            errors += 1
            return None
        rec.update(wall=wall, cpu=cpu, jit=jit, traced=traced, layer=layer)
        if args.fault:
            wl.corrupt(rec)
        recs.append(rec)
        log(f"pass {i}{' traced' if traced else ''}: {wall:.3f}s, cpu {cpu:.1f}s, jit {jit:.1f}s")
        return rec

    t = time.perf_counter()
    for i in range(wl.warmup_passes):
        one_pass(i, False)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START

    n_timed = max(1, round(args.seconds / wl.nominal_pass_s))
    order = [False] * n_timed
    if args.trace:
        # the pass after the warm-up still runs 5-15% over the later ones,
        # a curve that ABBA, which cancels a linear drift, does not remove
        order = [False] + [k % 4 in (1, 2) for k in range(2 * (n_timed + n_timed % 2))]
    done = [one_pass(wl.warmup_passes + k, traced) for k, traced in enumerate(order)]
    if args.trace:
        done = done[1:]  # the settling pass
    timed = [r for r in done if r is not None and not r["traced"]]
    traced = [r for r in done if r is not None and r["traced"]]
    wl.finish()

    failed = errors
    if recs:
        for rec in recs:
            why = wl.check(rec, recs[0])
            if why is not None:
                log(f"check failed: {why}")
                failed += 1
    attempted = wl.warmup_passes + len(order)

    if not args.trace:
        pass_s = statistics.median(r["wall"] for r in timed)
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_p50_s": (pass_s, "s"),
            "rows_per_s": (wl.rows_per_pass / pass_s, "1/s"),
            "batch_p50_s": (statistics.median(wl.batch_gaps(timed)), "s"),
            "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
        }
    else:
        metrics = layer_metrics(traced, timed, datagen_spans, boot_s, datagen_s, warmup_s)
        metrics["jvm.old_gen_peak_mb"] = (old_gen_peak_mb(wl.spark), "MB")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(traced, timed, datagen_spans, boot_s, datagen_s, warmup_s) -> dict:
    import layers as tr

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    out = {}
    for name in tr.SPAN_NAMES:
        if name.startswith("datagen."):
            per = [datagen_spans.get(name, {})]
        else:
            per = [r["layer"][0].get(name, {}) for r in traced]
        out[f"{name}.s"] = (med(p.get("s", 0.0) for p in per), "s")
        out[f"{name}.jobs"] = (med(p.get("jobs", 0) for p in per), "count")
    totals = [r["layer"][1] for r in traced]
    units = {"exec_run_ms": "ms", "exec_cpu_ms": "ms"}
    for key in tr.PASS_TOTALS:
        if key == "write_bytes":
            continue
        out[f"spark.{key}"] = (
            med(t[key] for t in totals), units.get(key, "bytes" if "bytes" in key else "count")
        )
    out["sources.write_bytes"] = (med(t["write_bytes"] for t in totals), "bytes")
    batches = med(len(r.get("commits", ())) for r in traced)
    drain_jobs = out["streaming.stream_pack_shards.jobs"][0]
    out["streaming.batches"] = (batches, "count")
    out["streaming.jobs_per_batch"] = (drain_jobs / batches if batches else 0.0, "count")
    # CPU of the JVM and driver per pass, and the part of it the JIT
    # compiler threads spent: at the job-latency floor a warm pass still
    # compiles for about half of its CPU time
    out["jvm.cpu_s"] = (med(r["cpu"] for r in traced), "s")
    out["jvm.jit_s"] = (med(r["jit"] for r in traced), "s")
    out["session.get_spark.s"] = (boot_s, "s")
    out["datagen.s"] = (datagen_s, "s")
    out["warmup.s"] = (warmup_s, "s")
    # as many traced as untraced passes, in ABBA order
    out["trace.overhead_s"] = (
        sum(r["wall"] for r in traced) - sum(r["wall"] for r in timed), "s"
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("population", "text"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    try:
        import miletos_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
