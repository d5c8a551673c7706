"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from miletos_spark.plans.driver_queries import (  # noqa: E402
    BENCH_ROLES,
    QUERIES,
)
from miletos_spark.schema import load_table  # noqa: E402
from miletos_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The benched rows and their legs come from the registry's bench roles
# (miletos_spark.plans.driver_queries.REGISTRY):
#   - "shared" rows run best-of-2 in this process's shared session;
#   - "warm" rows probe a write-time landed index (built by the ingest
#     JVM), so they get one untimed touch first and the recorded number
#     is the steady-state warm probe; the cold build is timed separately
#     under the ingest: labels;
#   - "isolated" rows (the composed-pipeline anchors) run in their own
#     fresh JVM, min of tools/bench_isolated.py N_RUNS with every run in
#     BENCH_DETAIL.json's `isolated_runs`: in the shared session their
#     wall times swung with accumulated JVM state more than any real
#     code delta.
HEADLINE = list(BENCH_ROLES)
LANDED_INDEX_PROBES = {n for n, r in BENCH_ROLES.items() if r == "warm"}
ISOLATED_QUERIES = [n for n, r in BENCH_ROLES.items() if r == "isolated"]

# PINNED stdout-line membership, grow-only: names are appended, never
# removed or renamed, so round-over-round comparison sees a stable set.
# Every other HEADLINE row still runs and lands in BENCH_DETAIL.json.
BENCH_LINE = [
    "ingest:land_dedup_index", "ingest:land_embedding_index",
    "ingest:land_ivf_index", "ingest:land_semdedup_index",
    "ingest:land_pq_index", "ingest:land_ivfpq_index",
    "ingest:land_ivfpq256_index", "ingest:land_stream_events_cold",
    "pipeline_summary_events", "pipeline_population_events",
    "region_revenue", "bls_spectrum_events",
    "bls_multires_events", "matched_filter_events",
    "stream_sessions_events", "crossmatch_catalog",
    "photometry_events", "phase_components_events",
    "bls_multi_recovery_events", "gp_recovery_events",
    "simhash_pairs", "stream_bls_events",
    "stream_ls_events", "mcmc_recovery_events",
    "near_dup_clusters", "stream_bls_keyed_events",
    "stream_ls_keyed_events", "stream_dedup_docs",
    "decontaminate_docs", "ivfpq_recovery_topk",
    "ivfpq_recall_topk", "population_nm_recovery_events",
    "stream_near_dup_docs", "training_shards_docs",
    "doc_embed_docs", "lm_trigram_score_docs",
    "vocab_coverage_bpe_docs", "pack_sequences_bpe_docs",
    "stream_flare_keyed_events", "stream_curation_docs",
    "stream_pack_shards_docs", "stream_probe_score_docs",
    "semantic_dedup_embeddings", "media_near_dup",
    "stream_media_near_dup", "probe_irls_eval_docs",
    "stream_semantic_dedup_embeddings", "media_dedup_decisions",
    "near_dup_clusters_incremental", "dsir_select_docs",
    "corpus_drift_docs", "stream_dsir_score_docs",
    "stream_funnel_docs", "stream_decontaminate_docs",
    "stream_media_decisions", "serving_shards_docs",
    "stream_pack_bins_docs", "split_assign_clustered_docs",
    "training_order_curriculum_docs", "training_run_order_annealed_docs",
    "stream_split_assign_docs", "training_order_curriculum_strat_docs",
    "decon_report_docs", "training_curriculum_run_docs",
    # r15 additions (the exact-topk landing gets its own timed ingest
    # row — VERDICT r14 Wrong #3)
    "ingest:land_exact_topk",
]


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM and the parquet footers once, so per-query numbers
    measure the plans, not session startup."""
    for tbl in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, tbl).count()


def time_shared(spark, sf_dir: str, name: str) -> tuple[list[float], int]:
    """The shared-leg timing of one row: best-of-2 (the caller takes the
    min), after one untimed touch for a "warm" row. Returns (both run
    times, row count).

    Before each run the SQL cache is cleared: a query carrying an
    internal .cache() (the optimizer-barrier idiom) would otherwise
    resolve run 2 against run 1's cached intermediates, and best-of-2
    would time a memoized read. OS page cache, JVM warmth and memoized
    landings still carry, which is the intended steady state. The
    untimed gc keeps each number from paying the allocation debt of the
    query before it in the shared JVM."""
    fn = QUERIES[name]
    if name in LANDED_INDEX_PROBES:
        fn(spark, sf_dir).count()
    runs, n = [], 0
    for _ in range(2):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        runs.append(time.perf_counter() - t0)
    return runs, n


def main() -> None:
    import subprocess

    # write-time index landing runs in ITS OWN Spark JVM
    # (tools/bench_ingest.py): on a cluster ingest is its own job and
    # query sessions never share a heap with it — and in one shared
    # local JVM the pyspark.ml KMeans fits inside the IVF/IVF-PQ
    # landings leave fallout that measured as ~2x on every Structured
    # Streaming query timed afterwards (r05 stream_bls 11.4s recorded
    # vs 5.7s in a clean session). The dedup/ANN queries below read the
    # landed indexes warm, exactly as in steady state.
    ingest = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "tools", "bench_ingest.py"),
         SF_DIR],
        capture_output=True, text=True, timeout=1800,
    )
    if ingest.returncode != 0:
        print(ingest.stderr[-4000:], file=sys.stderr)
        raise RuntimeError("bench ingest phase failed")
    timings: dict[str, float] = json.loads(
        ingest.stdout.strip().splitlines()[-1]
    )

    # isolated-session leg (see ISOLATED_QUERIES comment)
    iso = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "tools", "bench_isolated.py"),
         SF_DIR, *ISOLATED_QUERIES],
        capture_output=True, text=True, timeout=1800,
    )
    if iso.returncode != 0:
        print(iso.stderr[-4000:], file=sys.stderr)
        raise RuntimeError("bench isolated phase failed")
    isolated_runs: dict[str, dict] = json.loads(
        iso.stdout.strip().splitlines()[-1]
    )
    for name, rec in isolated_runs.items():
        timings[name] = rec["best"]

    spark = get_spark(app_name="miletos_spark_bench")
    warm_session(spark, SF_DIR)
    shared_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name in ISOLATED_QUERIES:
            continue  # timed in their own JVM above
        runs, n = time_shared(spark, SF_DIR, name)
        # both timings persist, so per-row host/JVM drift is visible;
        # the headline number is the min (the plan's actual cost)
        shared_runs[name] = [round(x, 4) for x in runs]
        timings[name] = round(min(runs), 4)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        # non-standard dir (e.g. a tools/scale_probe.py volume dir):
        # report the path instead of crashing after a full suite run
        sf_val = SF_DIR
    # full-precision detail goes to a committed side file; the stdout
    # JSON line must fit a 2000-character tail-capture buffer, so it
    # carries exactly BENCH_LINE (a missing pinned row raises here)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(
            {"metric": "headline_queries_total", "value": total,
             "unit": "sec", "queries": timings, "sf": sf_val,
             "isolated_runs": isolated_runs, "runs": shared_runs},
            fh, indent=1,
        )
        fh.write("\n")

    def _line(ndig: int, trim: bool = False) -> str:
        line_q = {k: round(timings[k], ndig) for k in BENCH_LINE}
        if trim:  # 12.0 -> 12
            line_q = {
                k: int(v) if float(v).is_integer() else v
                for k, v in line_q.items()
            }
        return json.dumps(
            {"metric": "headline_queries_total", "value": round(total, 2),
             "unit": "sec", "queries": line_q, "sf": sf_val},
            separators=(",", ":"),
        )

    # 2 decimals while it fits; 1 decimal once the pinned set outgrows
    # the buffer (every pinned row is >= 1 s-class, so 0.05 s
    # quantization is below host noise; BENCH_DETAIL keeps 4 decimals);
    # then 1 decimal without trailing zeros. Membership NEVER changes
    # with timings, so a set that outgrows even that fails here instead
    # of being cut at the 2000-character limit of the line's reader.
    out_line = _line(2)
    if len(out_line) > 1990:
        out_line = _line(1)
    if len(out_line) > 1990:
        out_line = _line(1, trim=True)
    assert len(out_line) <= 1990, (
        f"bench stdout line is {len(out_line)} characters (limit 1990)"
    )
    print(out_line)


if __name__ == "__main__":
    main()
