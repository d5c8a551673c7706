"""Scale probe: replicate the sf0.1 events table K× (shifted event ids,
jittered values, SAME time span — density scaling, the hard axis for
window/GP/session operators) into a temp dir, then time a set of
representative queries at 1× and K× and report the wall-clock scaling
factor per query.

Density scaling is the adversarial direction: gap regions merge, window
frames hold K× more rows, per-(trial,bucket) box counts grow K× — an
operator that is accidentally super-linear in density shows up here
long before a cluster run would catch it. A factor ≲ K is linear;
≫ K means a density bomb (the round-4 gp_loglik hang is the class of
bug this exists to catch).

Usage: python tools/scale_probe.py [K] [query ...]
Writes one JSON line: {"k": K, "queries": {name: {"t1": s, "tk": s,
"factor": tk/t1}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e
from miletos_spark.pipeline.commit import land_once
from miletos_spark.session import get_spark

BASE = "/root/testdata/sf0.1"

# events-axis queries spanning the operator families with density risk:
# windows/sessions, GP blocks, BLS fan-out, percentile bands, streaming
DEFAULT_QUERIES = [
    "sessionize_events",
    "rolling_std_events",
    "flare_band_events",
    "clip_detrend_events",
    "bls_spectrum_events",
    "lomb_scargle_events",
    "gp_recovery_events",
    "gp_loglik_events",
    "photometry_events",
    "matched_filter_events",
]


CORPUS_QUERIES = [
    "dedup_exact_docs",
    "text_stats_docs",
    "doc_quality_docs",
    "vocab_topk_docs",
    "fingerprint_docs",
    "language_id_docs",
    "simhash_docs",
    "similarity_topk",
    "lsh_similarity_topk",
    # round-5 additions
    "repetition_stats_docs",
    "near_dup_clusters",
    "pq_recovery_topk",
    "sketch_stats_events",
    # round-6 additions
    "pii_scrub_docs",
    "dedup_lines_docs",
    "split_assign_docs",
    "quality_filter_docs",
    "training_shards_docs",
    "lm_score_docs",
    "chunk_docs",
    "jsonl_ingest_docs",
    "rp_project_embeddings",
    "tfidf_topk_docs",
    "vocab_coverage_docs",
    "substring_dedup_docs",
    "doc_embed_docs",
    # round-7 additions
    "substring_removal_docs",
    "lm_bigram_score_docs",
    "bpe_tokenize_docs",
    "pack_sequences_bpe_docs",
    # round-10 additions: curation selection/observability + the seam
    "dsir_select_docs",
    "corpus_drift_docs",
    "quality_funnel_docs",
    "doc_embed_infer_docs",
    "stream_dsir_score_docs",
    "stream_funnel_docs",
    "dsir_landed_select_docs",
    "stream_decontaminate_docs",
    # round-11 addition: deterministic serving order (the streaming
    # media verdicts probe on the media axis, not the corpus axis —
    # its input is the synthetic media feed, not the documents table)
    "training_order_docs",
    "training_order_weighted_docs",
    "training_order_multipass_docs",
    # round-12: semantic decontamination (batch form scales on the
    # corpus axis; the stream twin is the same expression per batch)
    "semantic_decontaminate_docs",
    "serving_shards_docs",
    "serving_mixture_docs",
    "training_run_order_docs",
    "pack_bins_nosplit_docs",
    "pack_bins_ffd_docs",
    "mixture_budget_plan_docs",
    # round-13: cluster-aware splits (corpus axis: the doc join +
    # hash-split scan) + indexed decon (corpus axis: probe assignment)
    "split_assign_clustered_docs",
    "semantic_decontaminate_indexed_docs",
    "training_order_curriculum_docs",
    # round-13 (VERDICT r12 stretch #8): the two r12-born streaming
    # rows get a corpus-axis probe. Expectations: stream_semantic_
    # decontaminate is FLAT (its arrival feed is 2·|eval| rows — a
    # constant — and the packed eval broadcast is corpus-independent);
    # stream_pack_bins is LINEAR (the parity feed carries the whole
    # corpus, each batch is a pure function of its own rows, zero
    # cross-batch state).
    "stream_semantic_decontaminate_docs",
    "stream_pack_bins_docs",
    "training_run_order_annealed_docs",
    # streaming splits: expectation LINEAR in corpus (the parity feed
    # carries the whole corpus; per-arrival work is one broadcast-side
    # lookup + md5)
    "stream_split_assign_docs",
    # round-14: quality-canonical survivors (corpus axis: the logit
    # scan is linear; the argmax groupBy is bounded by cluster members)
    "dedup_keep_best_docs",
    # round-14: stratified curriculum (corpus axis: same linear logit
    # scan + per-lang two-pass ranking as the global curriculum row)
    "training_order_curriculum_strat_docs",
    # round-14: decon report (corpus axis: the gram explode + match
    # join are linear; the report aggregate is suite-bounded)
    "decon_report_docs",
    # round-14: flat-E curriculum schedule (corpus axis: stage pass +
    # E-constant ranking, both linear)
    "training_curriculum_run_docs",
]


def _replicate_corpus(spark, k: int, out: str) -> None:
    """Replicate documents + embeddings k-fold into `out` (fresh
    content per copy — see the near-dup notes inline). Shared by the
    density and volume builders so the volume dir doesn't have to build
    an entire density dir just for these two tables."""
    from pyspark.sql import functions as F

    from miletos_spark.schema import load_table

    def replicate(df, mapper, name):
        copies = [mapper(df, i) for i in range(k)]
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        allc.write.mode("overwrite").parquet(os.path.join(out, name))

    # documents: copy i prefixes every ~6th word with a copy marker, so
    # replicas are NOT near-dups of the originals (otherwise each
    # original's K copies form a clique and pair counts grow K² — real
    # behavior for duplicated corpora, but it would measure output
    # growth, not operator scaling)
    docs = load_table(spark, BASE, "documents")
    nd = docs.count()

    def doc_map(df, i):
        jitter = F.regexp_replace(
            F.col("text"),
            r"((\S+\s+){5})\S+",
            r"$1cp" + str(i),
        )
        return df.select(
            (F.col("doc_id") + F.lit(i * 10 * nd)).alias("doc_id"),
            (jitter if i else F.col("text")).alias("text"),
            *[c for c in df.columns if c not in ("doc_id", "text")],
        )

    replicate(docs, doc_map, "documents.parquet")

    # embeddings: copy i>0 gets FRESH deterministic pseudo-random
    # vectors (hash of (vec_id, copy, dim) -> [-1, 1]), not jittered
    # clones — a constant shift keeps cosine ~0.9998 to the original,
    # so jittered copies WOULD be near-dups and any pair-counting query
    # would measure K² output growth instead of operator scaling. The
    # base embeddings are themselves random vectors, so hash replicas
    # match the data distribution.
    emb = load_table(spark, BASE, "embeddings")
    ne = emb.count()
    maxlong = float(2**63)

    def emb_map(df, i):
        if i == 0:
            return df
        idx = F.sequence(F.lit(0), F.size("embedding") - 1)
        fresh = F.transform(
            idx,
            lambda j: (
                F.xxhash64(F.col("vec_id"), j, F.lit(i)).cast("double")
                / F.lit(maxlong)
            ).cast("float"),
        )
        return df.select(
            (F.col("vec_id") + F.lit(i * 10 * ne)).alias("vec_id"),
            fresh.alias("embedding"),
            *[c for c in df.columns if c not in ("vec_id", "embedding")],
        )

    replicate(emb, emb_map, "embeddings.parquet")


def synth_scaled(spark, k: int) -> str:
    from pyspark.sql import functions as F

    from miletos_spark.schema import epoch_micros_expr, load_table

    def build(out: str) -> None:
        os.makedirs(out)

        def replicate(df, mapper, name):
            copies = [mapper(df, i) for i in range(k)]
            allc = copies[0]
            for c in copies[1:]:
                allc = allc.unionByName(c)
            allc.write.mode("overwrite").parquet(os.path.join(out, name))

        ev = load_table(spark, BASE, "events")
        n = ev.count()
        us = epoch_micros_expr(ev, "ts")
        # shift ids into a fresh range; jitter time by i microseconds so
        # copies don't collide on the ordering tiebreak; perturb value
        # deterministically so per-copy rows aren't bit-identical
        replicate(
            ev,
            lambda df, i: df.select(
                (F.col("event_id") + F.lit(i * 10 * n)).alias("event_id"),
                F.timestamp_micros(us + F.lit(i)).alias("ts"),
                (F.col("user_id") + F.lit(i * 1000)).alias("user_id"),
                "event_type",
                F.round(F.col("value") + F.lit(i * 0.001), 3).alias("value"),
                "props",
            ),
            "events.parquet",
        )

        _replicate_corpus(spark, k, out)

        # remaining tables: symlink to the base so load_table works
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem"):
            src = os.path.join(BASE, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if os.path.exists(src) and not os.path.exists(dst):
                os.symlink(src, dst)

    # memo keyed on the BASE dir's identity: a regenerated testdata
    # dir must invalidate the replicas, or factors silently compare t1
    # on new data against tk on replicas of the old
    return land_once(f"scale{k}x", build, BASE)


def synth_volume(spark, k: int) -> str:
    """VOLUME-axis replication (vs `synth_scaled`'s density axis):
    ~sf{0.1*k}-equivalent data. events gets k sequential 30-day epochs
    (k× rows at the SAME cadence — a longer campaign, the way real
    volume arrives), lineitem/orders replicate k× with shifted keys,
    documents/embeddings are replicated directly into this dir with
    fresh content per copy (shared `_replicate_corpus`), dims stay
    broadcast-sized. Persisted + memoized like
    `synth_scaled`; run the full suite against it with
    SPARK_GRAFT_SF_DIR=<dir> python bench.py."""
    from pyspark.sql import functions as F

    from miletos_spark.schema import epoch_micros_expr, load_table


    def build(out: str) -> None:
        os.makedirs(out)

        def replicate(df, mapper, name):
            copies = [mapper(df, i) for i in range(k)]
            allc = copies[0]
            for c in copies[1:]:
                allc = allc.unionByName(c)
            allc.write.mode("overwrite").parquet(os.path.join(out, name))

        ev = load_table(spark, BASE, "events")
        n = ev.count()
        us = epoch_micros_expr(ev, "ts")
        span_row = ev.select(
            (F.max(us) - F.min(us) + F.lit(1)).alias("span_us")
        ).first()
        span_us = int(span_row["span_us"])
        replicate(
            ev,
            lambda df, i: df.select(
                (F.col("event_id") + F.lit(i * 10 * n)).alias("event_id"),
                F.timestamp_micros(us + F.lit(i * span_us)).alias("ts"),
                "user_id",
                "event_type",
                F.round(F.col("value") + F.lit(i * 0.001), 3).alias("value"),
                "props",
            ),
            "events.parquet",
        )

        li = load_table(spark, BASE, "lineitem")
        key_shift = int(li.agg(F.max("l_orderkey")).first()[0]) + 1
        replicate(
            li,
            lambda df, i: df.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * key_shift)
            ),
            "lineitem.parquet",
        )
        od = load_table(spark, BASE, "orders")
        replicate(
            od,
            lambda df, i: df.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(i * key_shift)
            ),
            "orders.parquet",
        )

        _replicate_corpus(spark, k, out)
        for t in ("region", "nation", "customer", "supplier", "part"):
            src = os.path.join(BASE, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if os.path.exists(src) and not os.path.exists(dst):
                os.symlink(src, dst)

    return land_once(f"volume{k}x", build, BASE)


SKEW_QUERIES = [
    "dedup_lines_docs",
    "substring_dedup_docs",
    "substring_removal_docs",
]

# one boilerplate line shared by EVERY document — at k× corpus its
# line key (and each of its 20-gram keys) carries k×n_docs occurrences
# on a single digest: exactly the content the dedup operators exist to
# find, and exactly what a row_number-over-partitionBy(digest) plan
# serializes into one task (VERDICT r6 Wrong #1)
SKEW_HOT_LINE = "standard cookie banner accept all cookies to continue"


def synth_skew(spark, mult: int) -> str:
    """SKEW-axis corpus: `mult`× document replicas, every copy prefixed
    with the SAME boilerplate line (hot line key + hot gram keys with
    mult×n_docs occurrences each). Non-hot text is jittered per copy
    like `_replicate_corpus`, so only the injected boilerplate is the
    hot key. Probe: factor ≤ ~mult/10×1.5 means the min-struct-agg
    winner plans absorb the hot key via map-side combine."""
    from pyspark.sql import functions as F

    from miletos_spark.schema import load_table


    def build(out: str) -> None:
        os.makedirs(out)

        docs = load_table(spark, BASE, "documents")
        nd = docs.count()

        def doc_map(df, i):
            jitter = F.regexp_replace(
                F.col("text"), r"((\S+\s+){5})\S+", r"$1cp" + str(i)
            )
            body = jitter if i else F.col("text")
            return df.select(
                (F.col("doc_id") + F.lit(i * 10 * nd)).alias("doc_id"),
                F.concat(F.lit(SKEW_HOT_LINE + "\n"), body).alias("text"),
                *[c for c in df.columns if c not in ("doc_id", "text")],
            )

        copies = [doc_map(docs, i) for i in range(mult)]
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        allc.write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            src = os.path.join(BASE, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if os.path.exists(src) and not os.path.exists(dst):
                os.symlink(src, dst)

    return land_once(f"skew{mult}x", build, BASE)


def _media_corpus(spark, n: int, hub: bool):
    """Synthetic media corpus of size n (+ its planted re-uploads).
    `hub=True` zeroes every video's FIRST frame at the payload level —
    all videos then share one black-frame pHash, the identical-hash
    replica hub that raw banding turns into a k²/2 bucket (VERDICT r9
    Wrong #1)."""
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.multimodal import synth_media
    from miletos_spark.plans.driver_queries import _media_reuploads

    m = synth_media(spark, n=n, frame_px=8)
    if hub:
        z = F.to_binary(F.lit("00" * 64), F.lit("hex"))
        m = m.withColumn(
            "payload",
            F.when(
                F.col("kind") == "video",
                F.concat(z, F.expr("substring(payload, 65)")),
            ).otherwise(F.col("payload")),
        )
    return m, _media_reuploads(m)


def media_probe(spark, k: int) -> dict:
    """Media-tier corpus-axis probe (VERDICT r9 Missing #4): times the
    batch near-dup pairs, the hub-corpus dedup DECISIONS (max_df
    guard on), and the streaming arrival-vs-landed twin at 1× and k×
    media counts; also counts the DISTINCT-fp near pairs entering the
    band join on the hub corpus at both sizes — the join-work metric
    that must scale with distinct-hash near-duplication, not replica
    count."""
    import tempfile

    from pyspark.sql import functions as F

    from miletos_spark.pipeline.dedup import (
        banded_fp_pairs_distinct,
        fp_bands,
    )
    from miletos_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        media_dedup_decisions,
        media_phash_pairs,
        phash_frames,
    )
    from miletos_spark.plans.driver_queries import _committed_in_work_dir
    from miletos_spark.streaming.ingest import (
        MEDIA_MATCH_SCHEMA,
        stream_media_near_dup,
    )

    N0 = 512
    out: dict = {}

    def run(label, fn_by_n):
        t1 = tk = None
        for tag, n in (("t1", N0), ("tk", N0 * k)):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn_by_n(n)
                el = time.perf_counter() - t0
                best = el if best is None or el < best else best
            if tag == "t1":
                t1 = best
            else:
                tk = best
        out[label] = {
            "t1": round(t1, 3), "tk": round(tk, 3),
            "factor": round(tk / max(t1, 1e-9), 2),
        }
        print(
            f"# media:{label}: {t1:.2f}s -> {tk:.2f}s "
            f"(x{out[label]['factor']})",
            file=sys.stderr,
        )

    def pairs_n(n):
        m, re = _media_corpus(spark, n, hub=False)
        media_phash_pairs(decode_media(m.unionByName(re)), 3).count()

    def decisions_hub_n(n):
        m, re = _media_corpus(spark, n, hub=True)
        media_dedup_decisions(
            decode_media(m.unionByName(re)),
            max_hamming=3, frac_threshold=0.8, max_df=16,
        ).count()

    def _land_probe_media(n):
        def build(root: str) -> None:
            m, re = _media_corpus(spark, n, hub=False)
            fps = phash_frames(decode_media(m))
            banded = fp_bands(
                fps.select("media_id", "frame", "phash_hex"), "phash_hex"
            )
            banded.write.mode("overwrite").partitionBy("band").parquet(
                os.path.join(root, "bands")
            )
            re.repartition(2).write.mode("overwrite").parquet(
                os.path.join(root, "arrivals")
            )

        root = land_once(f"mediaprobe{n}", build, BASE)
        return os.path.join(root, "bands"), os.path.join(root, "arrivals")

    def stream_n(n):
        bands, arr = _land_probe_media(n)
        _committed_in_work_dir(
            spark, "mnd", MEDIA_MATCH_SCHEMA,
            lambda out_dir, state_dir: stream_media_near_dup(
                spark, arr, MEDIA_SCHEMA, bands, out_dir, state_dir,
                max_hamming=3, max_files_per_trigger=1,
            ),
        ).count()

    def decisions_stream_n(n):
        # shares the landed bands/arrivals with stream_n; fresh
        # out/state per call — the verdict composition is what's timed
        import uuid

        from miletos_spark.streaming.ingest import (
            read_media_decisions,
            stream_media_decisions,
        )

        bands, arr = _land_probe_media(n)
        work = os.path.join(
            tempfile.gettempdir(), "miletos_mdec_" + uuid.uuid4().hex[:8]
        )
        out, state = os.path.join(work, "out"), os.path.join(work, "state")
        stream_media_decisions(
            spark, arr, MEDIA_SCHEMA, bands, out, state,
            max_hamming=3, frac_threshold=0.8, max_files_per_trigger=1,
        )
        read_media_decisions(spark, out, state).count()

    run("media_near_dup", pairs_n)
    run("media_dedup_decisions_hub", decisions_hub_n)
    run("stream_media_near_dup", stream_n)
    run("stream_media_decisions", decisions_stream_n)

    # join-work evidence: distinct-fp near pairs on the hub corpus
    counts = {}
    for tag, n in (("n1", N0), ("nk", N0 * k)):
        m, re = _media_corpus(spark, n, hub=True)
        fps = phash_frames(decode_media(m.unionByName(re)))
        counts[tag] = {
            "distinct_fps": fps.select("phash_hex").distinct().count(),
            "near_fp_pairs": banded_fp_pairs_distinct(
                fps.select(F.col("phash_hex").alias("fp")), "fp", 3
            ).count(),
        }
    out["hub_join_work"] = counts
    print(f"# media:hub_join_work: {counts}", file=sys.stderr)
    return out


def time_query(fn, spark, sf_dir: str) -> float:
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        el = time.perf_counter() - t0
        best = el if best is None or el < best else best
    return best


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "volume":
        args.pop(0)
        k = int(args.pop(0)) if args and args[0].isdigit() else 10
        spark = get_spark(app_name="scale_probe")
        spark.sparkContext.setLogLevel("ERROR")
        print(synth_volume(spark, k))
        return
    if args and args[0] == "media":
        args.pop(0)
        k = int(args.pop(0)) if args and args[0].isdigit() else 10
        spark = get_spark(app_name="scale_probe")
        spark.sparkContext.setLogLevel("ERROR")
        out = media_probe(spark, k)
        print(json.dumps({"k": k, "axis": "media", "queries": out}))
        return
    if args and args[0] == "skew":
        args.pop(0)
        k = int(args.pop(0)) if args and args[0].isdigit() else 10
        names = args or SKEW_QUERIES
        spark = get_spark(app_name="scale_probe")
        spark.sparkContext.setLogLevel("ERROR")
        base_skew = synth_skew(spark, 1)
        kx = synth_skew(spark, k)
        qs = e.queries()
        out = {}
        for name in names:
            fn = qs[name]
            t1 = time_query(fn, spark, base_skew)
            tk = time_query(fn, spark, kx)
            out[name] = {
                "t1": round(t1, 3), "tk": round(tk, 3),
                "factor": round(tk / max(t1, 1e-9), 2),
            }
            print(
                f"# {name}: {t1:.2f}s -> {tk:.2f}s "
                f"(x{out[name]['factor']})",
                file=sys.stderr,
            )
        print(json.dumps({"k": k, "axis": "skew", "queries": out}))
        return
    k = int(args.pop(0)) if args and args[0].isdigit() else 10
    if args and args[0] == "corpus":
        args.pop(0)
        names = args or CORPUS_QUERIES          # corpus [name ...]
    else:
        names = args or DEFAULT_QUERIES
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    scaled = synth_scaled(spark, k)
    qs = e.queries()
    out = {}
    for name in names:
        fn = qs[name]
        t1 = time_query(fn, spark, BASE)
        tk = time_query(fn, spark, scaled)
        out[name] = {
            "t1": round(t1, 3), "tk": round(tk, 3),
            "factor": round(tk / max(t1, 1e-9), 2),
        }
        print(f"# {name}: {t1:.2f}s -> {tk:.2f}s (x{out[name]['factor']})",
              file=sys.stderr)
    print(json.dumps({"k": k, "queries": out}))


if __name__ == "__main__":
    main()
