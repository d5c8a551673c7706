"""Two-session determinism harness (VERDICT r2 ask #2).

The driver runs every registry query inside ITS OWN SparkSession, whose
config (shuffle partitions, AQE, arrow, broadcast thresholds) we don't
control. Any output that depends on partial-aggregation order or plan
choice is a latent hash failure. This test runs the historically
knife-edge queries at opposite config extremes, one pass per config in
one subprocess session, and asserts bit-identical canonical output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "determinism_check.py")
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# the five driver-red queries from CORRECTNESS_r01/r02, plus the two
# decimal-sum aggregation queries they share machinery with
QUERIES = [
    "sessionize_events",
    "transit_windows_events",
    "trigger_clusters_events",
    "depth_fit_events",
    "matched_filter_events",
    # order-dependent float aggs (avg/stddev over bins) — guard the new
    # M7 composition too
    "derived_outputs_events",
    # round-3 window promotions: argmin-join, percentile-per-frame,
    # cone predicate, decimal-offset map — each config-sensitive in a
    # different way
    "crossmatch_catalog",
    "photometry_events",
    "ztf_ingest_events",
    "phase_components_events",
    # round-4 window promotions: iterative argmax loop (avg/stddev
    # moments feed an ORDER BY), applyInPandas LSQ fit per region
    "bls_multi_recovery_events",
    "spline_recovery_events",
    # round-4 second wave: NM optimizer polish, 2x2 GP Cholesky,
    # KMeans-probe ANN, binary decode plumbing
    "transit_fit_recovery_events",
    "gp_pair_loglik_events",
    "ivf_recovery_topk",
    "media_features",
    # the full orchestrated lifecycle: clip boundary, spectrum argmax,
    # LS trig sums, and flare trigger starts all in one row
    "pipeline_summary_events",
    # streaming incremental BLS: micro-batch boundaries are the whole
    # point of the decimal-sum discipline
    "stream_bls_events",
    "stream_ls_events",
    # seeded stretch-move chain: coarse rounding must absorb any
    # partition-order float noise in the pooled log-likelihood
    "mcmc_recovery_events",
    # round-6: the r05 driver hash-red — snr must come from decimal
    # Σv/Σv² moments, never a double stddev_pop partial agg
    "bls_multires_events",
    # round-6: cluster membership csv must not depend on agg order
    "near_dup_clusters",
    # round-6 second wave: line-dedup rebuild order (collect_list under
    # sort_array), stratified split rank boundaries, and the grouped-NM
    # population fit under different groupBy partitionings
    "dedup_lines_docs",
    "split_assign_docs",
    "population_nm_recovery_events",
    # the 5-stage curation composition: classifier logit, scrub md5,
    # dedup winner, and split rank must all survive config extremes
    "training_shards_docs",
    "quality_filter_docs",
    "pii_scrub_docs",
    # round-8: the trained probe's decimal Gram sums + shared solve
    # must be partition/config-invariant down to the bit (weights AND
    # per-doc logits); the rank encoder's mapInPandas batching and the
    # cluster-bounded dedup's survivor dropDuplicates likewise
    "linear_probe_docs",
    "linear_probe_weights_docs",
    "bpe_encode_production_docs",
    "semantic_dedup_embeddings",
]

# driver-ish defaults vs an adversarial layout: tiny partition count,
# AQE flipped, arrow flipped, broadcasts disabled entirely
CONF_A = {
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
}
CONF_B = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def test_output_bit_identical_across_session_configs():
    # both configs in one subprocess session, each pass with its own
    # temp dir (tools/determinism_check.py run_passes)
    script = (
        f"import json, sys; sys.path.insert(0, {os.path.dirname(TOOL)!r}); "
        "from determinism_check import run_passes; "
        f"print(json.dumps(run_passes({SF!r}, {QUERIES!r}, "
        f"[{CONF_A!r}, {CONF_B!r}])))"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=900, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    a, b = json.loads(out.stdout.strip().splitlines()[-1])
    for name in QUERIES:
        assert a[name] == b[name], (
            f"{name}: output differs between session configs — "
            "order-dependent aggregate or plan-sensitive expression"
        )
