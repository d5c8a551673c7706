"""Registry-order contract: the driver checks exactly the first 50
entries of `queries()`, so every one of those slots must carry a DuckDB
oracle — a rows-only entry there wastes a hard correctness signal
(VERDICT r2: 9 judge-verified queries were invisible for a round)."""

from __future__ import annotations

DRIVER_WINDOW = 50


def test_first_window_is_fully_oracle_backed():
    from miletos_spark.plans.driver_queries import ORACLES, QUERIES

    window = list(QUERIES)[:DRIVER_WINDOW]
    missing = [n for n in window if n not in ORACLES]
    assert not missing, (
        f"rows-only queries occupy driver-checked slots: {missing}; "
        "move them past position 50 and promote oracle-backed entries"
    )


def test_every_oracle_has_a_query():
    from miletos_spark.plans.driver_queries import ORACLES, QUERIES

    dangling = [n for n in ORACLES if n not in QUERIES]
    assert not dangling


def test_window_rotation_is_deliberate():
    """The driver gate checks exactly the FIRST 50 registry entries, so
    inserting a registration above the overflow comment silently evicts
    position-50 rows (it happened: round-5 additions pushed
    ener_spectrum_events out unnoticed until review). Pin the exact
    window so rotation requires touching this list consciously."""
    from miletos_spark.plans.driver_queries import QUERIES

    window = list(QUERIES)[:DRIVER_WINDOW]
    assert window == [
        "semantic_decontaminate_docs", "stream_semantic_decontaminate_docs",
        "serving_shards_docs", "decon_report_docs",
        "training_run_order_docs",
        "pack_bins_nosplit_docs", "pack_bins_report_docs",
        "mixture_budget_plan_docs",
        "pack_bins_ffd_docs",
        "stream_pack_bins_docs",
        "ivfpq_recall_topk",
        "stream_semantic_dedup_embeddings",
        "semantic_decontaminate_indexed_docs",
        "bls_spectrum_events", "gp_recovery_events", "mcmc_recovery_events",
        "pipeline_summary_events", "pipeline_population_events", "stream_bls_events",
        "substring_removal_docs",
        "stream_flare_keyed_events", "lm_trigram_score_docs",
        "stream_pack_shards_docs", "bpe_encode_production_docs",
        "media_dedup_decisions",
        "near_dup_clusters_incremental",
        "split_assign_clustered_docs",
        "stream_split_assign_docs",
        "dedup_keep_best_docs",
        "stream_dsir_score_docs",
        "corpus_drift_docs", "doc_embed_infer_docs",
        "dsir_landed_select_docs", "stream_funnel_docs",
        "stream_decontaminate_docs",
        "bpe_train_encode_docs",
        "training_order_curriculum_docs",
        "training_order_curriculum_strat_docs",
        "training_curriculum_run_docs",
        "training_run_order_annealed_docs",
        "stream_media_decisions",
        "probe_irls_eval_docs",
        "brightness_temp_events", "visibility_events",
        "stream_trigger_clusters_events", "stream_rebin_events", "json_props_events",
        "fits_ingest_events", "qlp_ingest_events", "csv_ingest_events",
    ]


def test_rows_only_entries_sit_last():
    """Rows-only (oracle-less) entries form one block at the end of the
    registry, after every oracle-backed entry."""
    from miletos_spark.plans.driver_queries import ORACLES, QUERIES

    names = list(QUERIES)
    first = next(i for i, n in enumerate(names) if n not in ORACLES)
    misplaced = [n for n in names[first:] if n in ORACLES]
    assert not misplaced, (
        f"oracle-backed entries after the first rows-only one "
        f"({names[first]}): {misplaced}"
    )


def test_every_bench_line_row_has_a_bench_role():
    """Every query on bench.py's pinned stdout line must be benched, or
    the line would miss a pinned row (ingest: rows are landings, timed
    by tools/bench_ingest.py, not registry queries)."""
    from bench import BENCH_LINE
    from miletos_spark.plans.driver_queries import BENCH_ROLES

    missing = [
        n for n in BENCH_LINE
        if not n.startswith("ingest:") and n not in BENCH_ROLES
    ]
    assert not missing


def test_pinned_registry_rows_leave_no_cached_frame(spark, sf_dir):
    """The rows that pin an intermediate (scored near-dup pairs, the
    cleanup chain's filtered and deduped docs, the repetition base)
    and the library loops that pin one per iteration (`sigma_clip`,
    which the `sigma_clip_events` row spells out by hand) pin it with a
    local checkpoint, which dies with the frame: a cache would stay in
    the session's cache manager after the query, one entry per corpus
    a long-lived session touches."""
    from miletos_spark.operators.filters import sigma_clip
    from miletos_spark.pipeline.dedup import near_dup_pairs_prefix
    from miletos_spark.plans.driver_queries import QUERIES
    from miletos_spark.schema import load_table

    spark.catalog.clearCache()
    for name in (
        "minhash_lsh_pairs", "corpus_cleanup", "repetition_stats_docs",
        "sigma_clip_events",
    ):
        QUERIES[name](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    near_dup_pairs_prefix(docs, threshold=0.5, k=9).collect()
    events = load_table(spark, sf_dir, "events")
    sigma_clip(events, group_cols=("event_type",), max_iter=3).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
