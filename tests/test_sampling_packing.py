"""Mixture sampling + sequence packing: exactness against pure-Python
references (the hash-threshold kept set must be bit-reproducible;
packing offsets are integer arithmetic) and layout invariants."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from miletos_spark.pipeline.packing import pack_chunks, pack_summary
from miletos_spark.pipeline.sampling import (
    group_keep_fractions,
    mixture_sample,
)

DOCS = [
    # (doc_id, lang) — 12 'en', 4 'de', 2 'zh'
    *[(i, "en") for i in range(12)],
    *[(100 + i, "de") for i in range(4)],
    *[(200 + i, "zh") for i in range(2)],
]


def _py_uniform(doc_id: int) -> float:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) / 2**32


def _py_fractions(alpha: float, keep_frac: float) -> dict:
    n = len(DOCS)
    counts: dict = {}
    for _, lang in DOCS:
        counts[lang] = counts.get(lang, 0) + 1
    return {
        lang: round(min(1.0, keep_frac * math.sqrt(n / c)), 6)
        for lang, c in counts.items()
    }


def test_mixture_sample_matches_python_reference(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, lang string")
    kept = mixture_sample(df, alpha=0.5, keep_frac=0.4)
    got = {(r["doc_id"], r["lang"]) for r in kept.collect()}
    fracs = _py_fractions(0.5, 0.4)
    want = {
        (i, lang) for i, lang in DOCS if _py_uniform(i) < fracs[lang]
    }
    assert got == want
    assert want  # the fixture must actually keep something
    assert len(want) < len(DOCS)  # ... and drop something


def test_keep_fractions_upsample_rare_groups(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, lang string")
    fr = {
        r["lang"]: (r["n_grp"], r["keep_frac_grp"])
        for r in group_keep_fractions(df, keep_frac=0.4).collect()
    }
    assert fr["en"][0] == 12 and fr["de"][0] == 4 and fr["zh"][0] == 2
    # temperature alpha<1 upsamples tails: rarer group, larger fraction
    assert fr["zh"][1] > fr["de"][1] > fr["en"][1]
    for _, f in fr.values():
        assert 0.0 < f <= 1.0


PACK_ROWS = [
    # (lang, source, doc_id, n_tokens) — crafted boundaries at cap=10:
    # en/s0 running offsets: 0, 7, 10, 10, 29
    ("en", "s0", 1, 7),
    ("en", "s0", 2, 3),   # tokens 7..9: ends exactly at the boundary
    ("en", "s0", 3, 0),   # empty doc exactly ON a boundary
    ("en", "s0", 4, 19),  # tokens 10..28: crosses 20 once
    ("en", "s0", 5, 2),   # tokens 29..30: crosses 30 once
    ("de", "s1", 6, 25),  # tokens 0..24: crosses 10 and 20
]


def test_pack_chunks_layout_and_edges(spark):
    df = spark.createDataFrame(
        PACK_ROWS, "lang string, source string, doc_id long, n_tokens long"
    )
    packed = {
        r["doc_id"]: (r["start_bin"], r["n_straddle"])
        for r in pack_chunks(df, capacity=10).collect()
    }
    assert packed == {
        1: (0, 0),
        2: (0, 0),  # flush fit: no straddle
        3: (1, 0),  # empty doc lands in the next bin, no straddle
        4: (1, 1),
        5: (2, 1),
        6: (0, 2),
    }


def test_pack_chunks_exact_reference(spark):
    df = spark.createDataFrame(
        PACK_ROWS, "lang string, source string, doc_id long, n_tokens long"
    )
    got = {
        r["doc_id"]: (r["start_bin"], r["n_straddle"])
        for r in pack_chunks(df, capacity=10).collect()
    }
    # python reference: running offset per (lang, source) in doc_id order
    want = {}
    offsets: dict = {}
    for lang, src, doc_id, n in sorted(PACK_ROWS, key=lambda r: r[2]):
        s = offsets.get((lang, src), 0)
        start_bin = s // 10
        end_bin = (s + n - 1) // 10 if n > 0 else start_bin
        want[doc_id] = (start_bin, max(end_bin - start_bin, 0))
        offsets[(lang, src)] = s + n
    assert got == want


def test_pack_summary_conserves_docs_and_tokens(spark):
    df = spark.createDataFrame(
        PACK_ROWS, "lang string, source string, doc_id long, n_tokens long"
    )
    out = pack_summary(pack_chunks(df, capacity=10)).collect()
    assert sum(r["n_docs"] for r in out) == len(PACK_ROWS)
    assert sum(r["tokens_started"] for r in out) == sum(r[3] for r in PACK_ROWS)
    # bins start at 0 and are dense per group up to the group max
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault((r["lang"], r["source"]), []).append(r["start_bin"])
    for bins in by_grp.values():
        assert sorted(bins) == list(range(max(bins) + 1))


def test_assign_splits_exact_stratified_proportions(spark):
    from miletos_spark.pipeline.sampling import assign_splits

    rows = [(i, "en" if i % 3 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = assign_splits(
        df, weights=(("train", 8), ("val", 1), ("test", 1)),
        group_col="lang",
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r["split"])
    for lang, splits in by.items():
        n = len(splits)
        # exact integer boundaries: floor(n*8/10), then n*9//10 - n*8//10
        assert splits.count("train") == n * 8 // 10
        assert splits.count("val") == n * 9 // 10 - n * 8 // 10
        assert splits.count("test") == n - n * 9 // 10


def test_assign_splits_hash_mode_stable_under_growth(spark):
    from miletos_spark.pipeline.sampling import assign_splits

    small = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    big = spark.createDataFrame(
        [(i,) for i in range(300)], "doc_id long"
    )
    w = (("train", 8), ("val", 1), ("test", 1))
    s_small = {
        r["doc_id"]: r["split"] for r in assign_splits(small, w).collect()
    }
    s_big = {
        r["doc_id"]: r["split"] for r in assign_splits(big, w).collect()
    }
    # growing the corpus never reassigns an existing doc
    assert all(s_big[i] == s_small[i] for i in s_small)
    # and every split is actually populated
    assert set(s_big.values()) == {"train", "val", "test"}


def test_write_training_shards_layout_and_conservation(spark, sf_dir, tmp_path):
    """The physical shard landing: every doc lands exactly once, token
    mass is conserved, the (split, shard) partition layout exists on
    disk, and shard token mass is bounded by capacity * bins_per_file
    (+ one straddling doc)."""
    import os

    from miletos_spark.pipeline.sampling import assign_splits
    from miletos_spark.pipeline.packing import write_training_shards
    from miletos_spark.pipeline.text import token_count
    from miletos_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    split = assign_splits(
        docs, weights=(("train", 8), ("val", 1), ("test", 1)),
        group_col="lang",
    )
    path = str(tmp_path / "shards")
    landed = write_training_shards(
        split, path, capacity=512, bins_per_file=4
    )
    n_docs = docs.count()
    assert landed.count() == n_docs
    assert (
        landed.agg(F.sum("n_tokens")).first()[0]
        == docs.agg(F.sum("n_tokens")).first()[0]
    )
    # physical layout: split=<s>/shard=<k> directories
    splits = {d for d in os.listdir(path) if d.startswith("split=")}
    assert splits == {"split=train", "split=val", "split=test"}
    assert any(
        d.startswith("shard=")
        for d in os.listdir(os.path.join(path, "split=train"))
    )
    # shard token mass bounded: <= capacity*bins_per_file + max doc
    max_doc = docs.agg(F.max("n_tokens")).first()[0]
    per_shard = (
        landed.groupBy("split", "lang", "shard")
        .agg(F.sum("n_tokens").alias("m"))
        .agg(F.max("m"))
        .first()[0]
    )
    assert per_shard <= 512 * 4 + max_doc


def test_assign_splits_bucketed_rank_is_bit_identical(spark):
    """The distributed two-pass rank (bucket by the hash value +
    cumulative offsets) must assign EXACTLY the same split to every row
    as the single-window per-stratum sort, for several bucket counts —
    including B larger than the stratum."""
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.sampling import assign_splits

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )
    plain = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs, group_col="lang").collect()
    }
    for b in (1, 4, 7, 64, 5000):
        bucketed = {
            r["doc_id"]: r["split"]
            for r in assign_splits(
                docs, group_col="lang", bucket_count=b
            ).collect()
        }
        assert bucketed == plain, b


def test_pack_chunks_bucketed_prefix_sum_is_bit_identical(spark):
    """The two-pass distributed token prefix sum must reproduce the
    plain per-shard window layout exactly (integer sums, order-
    preserving id buckets), for several widths including W=1 and
    W > corpus."""
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.packing import pack_chunks

    docs = spark.range(1500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        (F.col("id") % 3).cast("string").alias("source"),
        ((F.col("id") * 37) % 900).cast("int").alias("n_tokens"),
    )
    plain = {
        r["doc_id"]: (r["start_bin"], r["n_straddle"])
        for r in pack_chunks(docs, capacity=512).collect()
    }
    for w in (1, 17, 256, 100000):
        got = {
            r["doc_id"]: (r["start_bin"], r["n_straddle"])
            for r in pack_chunks(
                docs, capacity=512, bucket_width=w
            ).collect()
        }
        assert got == plain, w


def test_dsir_select_matches_python_reference(spark):
    """dsir_select against a from-scratch pure-Python replay of the
    whole chain (tokenize -> md5 buckets -> smoothed log-ratios ->
    per-doc sums -> Gumbel keys -> top-k) on a tiny corpus."""
    import hashlib
    import math

    from miletos_spark.pipeline.sampling import dsir_select

    tgt_rows = [
        (100 + i, "alpha beta gamma alpha beta") for i in range(4)
    ]
    raw_rows = [
        (0, "alpha beta gamma alpha"),       # target-like
        (1, "delta epsilon zeta delta"),     # off-target
        (2, "alpha beta delta"),             # mixed
        (3, "eta theta iota kappa"),         # off-target
        (4, "beta gamma alpha beta gamma"),  # target-like
        (5, ""),                             # no tokens -> logw 0
    ]
    target = spark.createDataFrame(tgt_rows, ["doc_id", "text"])
    raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
    m = 16

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    def grams(text):
        t = [w for w in text.lower().strip().split() if w]
        return [bucket(g) for g in t] + [
            bucket(a + " " + b) for a, b in zip(t, t[1:])
        ]

    tc, rc = [0] * m, [0] * m
    for _, txt in tgt_rows:
        for b in grams(txt):
            tc[b] += 1
    for _, txt in raw_rows:
        for b in grams(txt):
            rc[b] += 1
    Ct, Cr = sum(tc), sum(rc)
    lr = [
        math.log(tc[b] + 1) - math.log(Ct + m)
        - math.log(rc[b] + 1) + math.log(Cr + m)
        for b in range(m)
    ]

    def q6(x):
        a = math.floor(x * 1e12 + 0.5) / 1e12
        return math.floor(a * 1e6 + 0.5) / 1e6

    def key(doc_id, txt):
        logw = sum(lr[b] for b in grams(txt))
        u = max(
            int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
            / 2**32,
            1.0 / 2**32,
        )
        g = -math.log(-math.log(u))
        return q6(logw + g), q6(logw)

    expect = sorted(
        ((key(i, t)[0], i, key(i, t)[1]) for i, t in raw_rows),
        key=lambda r: (-r[0], r[1]),
    )[:3]
    got = [
        (r["key_q"], r["doc_id"], r["logw_q"])
        for r in dsir_select(raw, target, k=3, m_buckets=m)
        .select("key_q", "doc_id", "logw_q").collect()
    ]
    assert got == [(k, i, w) for k, i, w in expect]


def test_dsir_upsamples_target_like_docs(spark):
    """Docs sharing the target's vocabulary must carry higher
    importance log-weights than off-target docs."""
    from pyspark.sql import functions as F  # noqa: F811

    from miletos_spark.pipeline.sampling import dsir_select

    target = spark.createDataFrame(
        [(1000 + i, "solar transit flux period depth") for i in range(8)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [(i, "solar transit flux period") for i in range(10)]
        + [(10 + i, "invoice ledger payroll tax audit") for i in range(10)],
        ["doc_id", "text"],
    )
    picked = dsir_select(raw, target, k=20, m_buckets=64).collect()
    logw = {r["doc_id"]: r["logw_q"] for r in picked}
    assert min(logw[i] for i in range(10)) > max(
        logw[i] for i in range(10, 20)
    )
    top10 = sorted(picked, key=lambda r: (-r["key_q"], r["doc_id"]))[:10]
    assert sum(1 for r in top10 if r["doc_id"] < 10) >= 8


def test_corpus_drift_matches_python_reference(spark):
    """corpus_drift KL per group vs a from-scratch replay; the
    off-distribution group must dominate."""
    import hashlib
    import math

    from miletos_spark.pipeline.sampling import corpus_drift

    rows = (
        [(i, "srcA", "alpha beta gamma delta") for i in range(6)]
        + [(10 + i, "srcB", "alpha beta gamma epsilon") for i in range(6)]
        + [(20 + i, "srcC", "zeta eta theta iota kappa zeta") for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    m = 32

    def grams(text):
        t = [w for w in text.lower().strip().split() if w]
        gs = t + [a + " " + b for a, b in zip(t, t[1:])]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m for g in gs
        ]

    cg, call = {}, [0] * m
    for _, src, txt in rows:
        for b in grams(txt):
            cg.setdefault(src, [0] * m)[b] += 1
            call[b] += 1
    tot = sum(call)

    def q6(x):
        a = math.floor(x * 1e12 + 0.5) / 1e12
        return math.floor(a * 1e6 + 0.5) / 1e6

    expect = {}
    for src, counts in cg.items():
        n = sum(counts)
        kl = sum(
            ((c + 1) / (n + m))
            * (math.log((c + 1) / (n + m)) - math.log((call[b] + 1) / (tot + m)))
            for b, c in enumerate(counts)
        )
        expect[src] = (n, q6(kl))

    got = {
        r["source"]: (r["n_grams"], r["kl_q"])
        for r in corpus_drift(df, m_buckets=m).collect()
    }
    assert got == expect
    assert got["srcC"][1] > max(got["srcA"][1], got["srcB"][1])


def test_stream_dsir_score_equals_batch_scoring(spark, tmp_path):
    """The streamed per-row fold must reproduce the batch explode+sum
    log-weights bit-for-bit on the same docs (same engine, same model
    doubles — only the plan shape differs)."""
    from pyspark.sql import functions as F  # noqa: F811

    from miletos_spark.pipeline.sampling import (
        dsir_bucket_logratios,
        hashed_ngram_buckets,
    )
    from miletos_spark.streaming.ingest import stream_dsir_score

    target = spark.createDataFrame(
        [(100 + i, "en", "solar transit flux period depth") for i in range(6)],
        ["doc_id", "lang", "text"],
    )
    raw = spark.createDataFrame(
        [(i, "de", "solar transit flux period") for i in range(5)]
        + [(5 + i, "fr", "invoice ledger payroll tax audit") for i in range(5)]
        + [(99, "zh", "")],
        ["doc_id", "lang", "text"],
    )
    model = dsir_bucket_logratios(target, raw, m_buckets=32)

    feed = str(tmp_path / "feed")
    raw.repartition(2).write.parquet(feed)
    sdf = stream_dsir_score(
        spark, feed, "doc_id long, lang string, text string",
        model, m_buckets=32, max_files_per_trigger=1,
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_stream_dsir")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_grams"], r["logw"])
        for r in spark.sql("SELECT * FROM t_stream_dsir").collect()
    }

    batch = (
        hashed_ngram_buckets(raw, m_buckets=32)
        .join(
            F.broadcast(model.select("bucket", "logratio")), "bucket"
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum("logratio").alias("logw"))
    )
    expect = {
        r["doc_id"]: (r["n_grams"], r["logw"]) for r in batch.collect()
    }
    expect[99] = (0, 0.0)  # empty doc: no grams, null-model weight
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0], k
        assert abs(got[k][1] - expect[k][1]) < 1e-12, k


def test_stream_funnel_equals_batch_funnel(spark, tmp_path):
    """Drained complete-mode funnel counters must assemble into the
    exact batch report (counts commute; arrival order irrelevant)."""
    from pyspark.sql import functions as F  # noqa: F811

    from miletos_spark.pipeline.text import funnel_dropped_by, funnel_stats
    from miletos_spark.streaming.ingest import stream_quality_funnel

    docs = spark.createDataFrame(
        [(0, "en", "too short"),
         (1, "en", " ".join("w%d" % i for i in range(95))),
         (2, "en", "the cat sat on a mat " * 5 + "and it was fine"),
         (3, "de", " ".join("u%d" % i for i in range(40)))],
        ["doc_id", "lang", "text"],
    )
    feed = str(tmp_path / "feed")
    docs.repartition(2).write.parquet(feed)
    sdf = stream_quality_funnel(
        spark, feed, "doc_id long, lang string, text string",
        max_files_per_trigger=1,
    )
    q = (
        sdf.writeStream.format("memory").queryName("t_stream_funnel")
        .outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["dropped_by"]: r["n"]
        for r in spark.sql("SELECT * FROM t_stream_funnel").collect()
    }
    expect = {
        r["dropped_by"]: r["n"]
        for r in funnel_stats(docs)
        .select(funnel_dropped_by().alias("dropped_by"))
        .groupBy("dropped_by").agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


def test_new_tier_deterministic_under_repartition(spark):
    """Hash-derived selections and quantized reports must not depend on
    physical layout: repartitioned inputs give identical outputs."""
    from miletos_spark.pipeline.sampling import corpus_drift, dsir_select
    from miletos_spark.pipeline.text import quality_funnel

    docs = spark.createDataFrame(
        [(i, "en", "src%d" % (i % 3),
          "alpha beta gamma the delta w%d w%d" % (i % 5, i % 7))
         for i in range(40)]
        + [(100 + i, "de", "src%d" % (i % 3),
            "epsilon zeta eta theta k%d" % (i % 4)) for i in range(40)],
        ["doc_id", "lang", "source", "text"],
    )
    shuffled = docs.repartition(13, "source")

    from pyspark.sql import functions as F  # noqa: F811

    def sel(d):
        return [
            (r["doc_id"], r["key_q"], r["logw_q"])
            for r in dsir_select(
                d.filter(F.col("lang") != "en"),
                d.filter(F.col("lang") == "en"),
                k=10, m_buckets=32,
            ).collect()
        ]

    assert sel(docs) == sel(shuffled)

    def funnel(d):
        return sorted(
            (r["rule_idx"], r["n_in"], r["n_dropped"], r["n_out"])
            for r in quality_funnel(d).collect()
        )

    assert funnel(docs) == funnel(shuffled)

    def drift(d):
        return {
            r["source"]: (r["n_grams"], r["kl_q"])
            for r in corpus_drift(d, m_buckets=32).collect()
        }

    assert drift(docs) == drift(shuffled)


def test_stream_decontaminate_equals_batch(spark, tmp_path):
    """Drained streamed contamination summaries must equal the batch
    decontaminate counts over the same docs."""
    from pyspark.sql import functions as F  # noqa: F811

    from miletos_spark.pipeline.dedup import (
        decontaminate,
        token_ngram_hashes,
    )
    from miletos_spark.streaming.ingest import stream_decontaminate

    evd = spark.createDataFrame(
        [(1000, "en", "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "lang", "text"],
    )
    corpus = spark.createDataFrame(
        [(0, "en", "intro words then the quick brown fox jumps away"),
         (1, "en", "totally unrelated content with no overlap at all ok"),
         (2, "en", "over the lazy dog it went the quick brown fox jumps")],
        ["doc_id", "lang", "text"],
    )
    ev = token_ngram_hashes(evd, n=4).select(
        "gram", F.col("doc_id").alias("eval_id")
    ).localCheckpoint(eager=True)

    feed = str(tmp_path / "feed")
    corpus.repartition(2).write.parquet(feed)
    sdf = stream_decontaminate(
        spark, feed, "doc_id long, lang string, text string", ev, n=4
    )
    q = (
        sdf.writeStream.format("memory").queryName("t_stream_decon")
        .outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_hits"], r["n_eval_docs"])
        for r in spark.sql("SELECT * FROM t_stream_decon").collect()
    }
    expect = {
        r["doc_id"]: (r["n_hits"], r["n_eval_docs"])
        for r in decontaminate(
            token_ngram_hashes(corpus, n=4), ev
        ).collect()
    }
    assert got == expect
    assert 0 in got and 2 in got and 1 not in got

    # max_files_per_trigger actually routes (VERDICT r10 Wrong #1):
    # None must drop the option entirely (single all-files batch) and
    # deliver the same summaries as the default 1-file triggers
    sdf2 = stream_decontaminate(
        spark, feed, "doc_id long, lang string, text string", ev, n=4,
        max_files_per_trigger=None,
    )
    q2 = (
        sdf2.writeStream.format("memory").queryName("t_stream_decon2")
        .outputMode("complete").start()
    )
    try:
        q2.processAllAvailable()
        n_batches = q2.lastProgress["batchId"] + 1
    finally:
        q2.stop()
    got2 = {
        r["doc_id"]: (r["n_hits"], r["n_eval_docs"])
        for r in spark.sql("SELECT * FROM t_stream_decon2").collect()
    }
    assert got2 == expect
    assert n_batches == 1  # no per-file trigger: one batch drained all


def test_epoch_order_is_pure_function_and_matches_global_sort(spark):
    """Deterministic training-order serving (r11): the serving rank is
    a pure function of (seed, epoch, corpus) — bit-identical across
    recomputation and input partitioning — the distributed two-pass
    bucketed rank equals a plain global sort's row_number, and a
    different epoch is a genuinely different permutation."""
    import hashlib as _hl

    from pyspark.sql import Window

    from miletos_spark.pipeline.packing import epoch_order

    seqs = spark.createDataFrame(
        [(l, b) for l in ("en", "de", "zh") for b in range(40)],
        "lang string, seq_bin long",
    )

    def ranks(df, seed, epoch, bucket_count=8):
        return {
            (r["lang"], r["seq_bin"]): r["rank"]
            for r in epoch_order(
                df, seed=seed, epoch=epoch,
                key_cols=("lang", "seq_bin"), bucket_count=bucket_count,
            ).collect()
        }

    a = ranks(seqs, 7, 2)
    # pure function: recompute, different partitioning, different B
    assert ranks(seqs, 7, 2) == a
    assert ranks(seqs.repartition(13), 7, 2) == a
    assert ranks(seqs, 7, 2, bucket_count=3) == a
    # a dense permutation of 0..N-1
    assert sorted(a.values()) == list(range(120))
    # different epoch / seed => different permutation
    assert ranks(seqs, 7, 3) != a
    assert ranks(seqs, 8, 2) != a

    # equals the global-sort reference (python replay of the md5 key)
    def py_u32(lang, b, seed=7, epoch=2):
        s = f"{seed}|{epoch}|{lang}|{b}"
        return int(_hl.md5(s.encode()).hexdigest()[:8], 16)

    ref = sorted(
        ((py_u32(l, b), l, b) for l in ("en", "de", "zh") for b in range(40))
    )
    want = {(l, b): i for i, (_, l, b) in enumerate(ref)}
    assert a == want


def test_epoch_order_resume_is_shard_local(spark):
    """The (epoch, rank) → (shard, offset) resume contract: resuming
    at rank r serves exactly the global tail, each shard contributes
    exactly its unserved sequences, and a fully-served shard drops out
    entirely (the filter prunes it — no read of its rows)."""
    from miletos_spark.pipeline.packing import epoch_order, resume_from

    seqs = spark.createDataFrame(
        [("en", b, b // 16) for b in range(64)],
        "lang string, seq_bin long, shard long",
    )
    order = epoch_order(
        seqs, seed=3, epoch=1, key_cols=("lang", "seq_bin"), bucket_count=4
    ).localCheckpoint(eager=True)
    full = sorted(
        (r["rank"], r["shard"], r["seq_bin"]) for r in order.collect()
    )
    assert [t[0] for t in full] == list(range(64))

    r0 = 40
    tail = sorted(
        (r["rank"], r["shard"], r["seq_bin"])
        for r in resume_from(order, r0).collect()
    )
    assert tail == full[r0:]
    # shard-local: per shard, the resumed set is exactly that shard's
    # sequences with rank >= r0 — shards fully served drop out
    by_shard: dict = {}
    for rk, sh, sb in full:
        by_shard.setdefault(sh, []).append((rk, sb))
    want_shards = {
        sh for sh, rows in by_shard.items() if any(rk >= r0 for rk, _ in rows)
    }
    got_shards = {sh for _, sh, _ in tail}
    assert got_shards == want_shards


def test_landed_epoch_order_resume_prunes_and_matches(spark, tmp_path):
    """The landed serving-order table (r11): per-shard rank bounds in
    the stats metadata resolve a resume rank to the shard list with no
    Spark job; the pruned landed read returns exactly the computed
    resume_from set; fully-served shard dirs drop out of the scan as
    PartitionFilters (partition pruning, not a row filter)."""
    from miletos_spark.pipeline.packing import (
        epoch_order,
        land_epoch_order,
        resume_from,
        resume_from_landed,
        shards_for_resume,
    )

    seqs = spark.createDataFrame(
        [("en", b, b // 16) for b in range(64)],
        "lang string, seq_bin long, shard long",
    )
    path = str(tmp_path / "order")
    land_epoch_order(
        spark, seqs, path, seed=3, epoch=1,
        key_cols=("lang", "seq_bin"), bucket_count=4,
    )

    order = epoch_order(
        seqs, seed=3, epoch=1, key_cols=("lang", "seq_bin"), bucket_count=4
    )
    rows = sorted(
        (r["rank"], r["shard"], r["seq_bin"]) for r in order.collect()
    )
    by_shard_max: dict = {}
    for rk, sh, _ in rows:
        by_shard_max[sh] = max(by_shard_max.get(sh, -1), rk)
    # resume just past the earliest-finishing shard's last sequence, so
    # exactly that shard is provably fully served (data-derived, not a
    # guessed constant)
    r0 = min(by_shard_max.values()) + 1
    want = sorted(
        (r["rank"], r["shard"], r["seq_bin"])
        for r in resume_from(order, r0).collect()
    )
    landed_resume = resume_from_landed(spark, path, r0)
    got = sorted(
        (r["rank"], r["shard"], r["seq_bin"])
        for r in landed_resume.collect()
    )
    assert got == want and len(got) == 64 - r0

    # metadata-only shard resolution, and it is the true unserved set
    want_shards = sorted(
        str(sh) for sh, mx in by_shard_max.items() if mx >= r0
    )
    assert shards_for_resume(path, r0) == want_shards
    assert len(want_shards) == 3  # exactly the earliest shard is served

    # the pruned scan: shard is a PARTITION filter, rank a pushed one
    plan = landed_resume._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "shard" in pf
    assert "PushedFilters: [" in plan
    assert "rank" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]


def test_weighted_epoch_order_mixture_and_determinism(spark):
    """A-Res weighted serving order (r11): a dense permutation, a pure
    function of (seed, epoch, weights, corpus) — invariant to input
    partitioning and rank bucket count — and upweighted groups
    genuinely concentrate early (their mean rank sits well below the
    uniform expectation, downweighted well above)."""
    from miletos_spark.pipeline.packing import weighted_epoch_order

    seqs = spark.createDataFrame(
        [(l, b) for l in ("en", "de", "zh") for b in range(60)],
        "lang string, seq_bin long",
    )
    W = {"en": 8.0, "zh": 0.25}

    def ranks(df, bucket_count=8, seed=7, epoch=2):
        return {
            (r["lang"], r["seq_bin"]): r["rank"]
            for r in weighted_epoch_order(
                df, seed=seed, epoch=epoch, weights=W,
                key_cols=("lang", "seq_bin"), bucket_count=bucket_count,
            ).collect()
        }

    a = ranks(seqs)
    assert sorted(a.values()) == list(range(180))      # dense permutation
    assert ranks(seqs.repartition(11)) == a            # partition-invariant
    assert ranks(seqs, bucket_count=3) == a            # bucket-invariant
    assert ranks(seqs, epoch=3) != a                   # epoch reshuffles

    mean = {
        l: sum(rk for (g, _), rk in a.items() if g == l) / 60
        for l in ("en", "de", "zh")
    }
    # uniform expectation is 89.5; ×8 weight pulls en far below, ×0.25
    # pushes zh far above, default de sits between
    assert mean["en"] < 60 < mean["de"] < 120 < mean["zh"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="strictly positive"):
        weighted_epoch_order(seqs, 7, 2, {"en": -1.0})


def test_multi_pass_order_copy_counts_and_scatter(spark):
    """Epochs-per-source plan (r11): every group-g sequence appears
    exactly repeats[g] times, rank is a dense permutation of the
    exploded union, the order is partition/bucket-invariant, and the
    copies of one sequence scatter (not adjacent ranks)."""
    from miletos_spark.pipeline.packing import multi_pass_order

    seqs = spark.createDataFrame(
        [(l, b) for l in ("en", "de", "zh") for b in range(20)],
        "lang string, seq_bin long",
    )
    R = {"en": 3, "de": 2}

    def run(df, bucket_count=8):
        return [
            (r["lang"], r["seq_bin"], r["pass_idx"], r["rank"])
            for r in multi_pass_order(
                df, seed=7, repeats=R, key_cols=("lang", "seq_bin"),
                bucket_count=bucket_count,
            ).collect()
        ]

    rows = sorted(run(seqs))
    assert rows == sorted(run(seqs.repartition(9)))
    assert rows == sorted(run(seqs, bucket_count=3))
    n_total = 20 * (3 + 2 + 1)
    assert sorted(r[3] for r in rows) == list(range(n_total))
    from collections import Counter

    per = Counter((l, b) for l, b, _, _ in rows)
    assert all(
        per[(l, b)] == R.get(l, 1) for l in ("en", "de", "zh")
        for b in range(20)
    )
    # copies scatter: for at least one en sequence the three pass
    # ranks are NOT consecutive (md5 keys are independent per pass)
    ranks_by_seq: dict = {}
    for l, b, p, rk in rows:
        ranks_by_seq.setdefault((l, b), []).append(rk)
    scattered = [
        rs for (l, _), rs in ranks_by_seq.items()
        if l == "en" and max(rs) - min(rs) > len(rs)
    ]
    assert len(scattered) > 15  # nearly all of the 20 en sequences

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive integers"):
        multi_pass_order(seqs, 7, {"en": 0})


def test_write_serving_shards_layout_and_mixture_report(spark, tmp_path):
    """Serving materialization (r11): shard s holds exactly ranks
    [s·R, (s+1)·R) in rank order on disk; resume-at-rank is pure
    arithmetic on the shard id; and the mixture report shows the
    weighted order front-loading its upweighted group while a uniform
    order stays flat."""
    import os

    from miletos_spark.pipeline.packing import (
        epoch_order,
        serving_mixture_report,
        weighted_epoch_order,
        write_serving_shards,
    )

    seqs = spark.createDataFrame(
        [(l, b) for l in ("en", "zh") for b in range(64)],
        "lang string, seq_bin long",
    )
    order = weighted_epoch_order(
        seqs, seed=5, epoch=0, weights={"en": 8.0},
        key_cols=("lang", "seq_bin"), bucket_count=4,
    )
    path = str(tmp_path / "serve")
    write_serving_shards(order, path, rows_per_shard=16)

    shards = sorted(
        int(d.split("=")[1])
        for d in os.listdir(path) if d.startswith("serve_shard=")
    )
    assert shards == list(range(8))  # 128 rows / 16
    landed = spark.read.parquet(path)
    for s in (0, 5):
        rows = landed.filter(F.col("serve_shard") == s).collect()
        ranks = [r["rank"] for r in rows]
        assert ranks == list(range(s * 16, (s + 1) * 16))  # on-disk order
    # full round-trip: ranks dense, nothing lost
    assert landed.count() == 128

    # mixture report: en (×8) dominates the first slice of the
    # weighted order; the uniform order's slices stay near 50/50
    def shares(o):
        rep = {
            (r["slice"], r["lang"]): r["n"]
            for r in serving_mixture_report(o, "lang", n_slices=4).collect()
        }
        return [
            rep.get((s, "en"), 0)
            / (rep.get((s, "en"), 0) + rep.get((s, "zh"), 0))
            for s in range(4)
        ]

    w = shares(order)
    u = shares(
        epoch_order(seqs, seed=5, epoch=0, key_cols=("lang", "seq_bin"),
                    bucket_count=4)
    )
    assert w[0] > 0.8 and w[-1] < 0.2        # weighted: front-loaded
    assert all(0.25 < x < 0.75 for x in u)   # uniform: roughly flat
    # report conserves rows
    assert sum(
        r["n"] for r in serving_mixture_report(order, "lang", 4).collect()
    ) == 128

def test_run_order_composition_and_boundary_resume(spark, tmp_path):
    """Cross-epoch run schedule (r12, VERDICT r11 Missing #3):
    global_step = epoch·N + rank is dense over [0, E·N), every epoch
    is an independent permutation of the corpus, resume_run_at_step is
    the exact global tail, and the LANDED resume agrees at the epoch
    boundaries (steps N·e - 1, N·e, N·e + 1) while never touching
    fully-served epochs' metadata-resolved shard dirs."""
    from miletos_spark.pipeline.packing import (
        land_epoch_order,
        resume_run_at_step,
        resume_run_from_landed,
        run_order,
    )

    N = 48
    seqs = spark.createDataFrame(
        [("en", b, b // 16) for b in range(N)],
        "lang string, seq_bin long, shard long",
    )
    order = run_order(
        seqs, seed=3, n_epochs=3, key_cols=("lang", "seq_bin"),
        bucket_count=4,
    ).localCheckpoint(eager=True)
    rows = sorted(
        (r["global_step"], r["epoch"], r["rank"], r["seq_bin"])
        for r in order.collect()
    )
    # dense global steps; per-epoch rank domain; epochs differ
    assert [t[0] for t in rows] == list(range(3 * N))
    for e in range(3):
        ep = [t for t in rows if t[1] == e]
        assert sorted(t[2] for t in ep) == list(range(N))
    perm = {
        e: [t[3] for t in rows if t[1] == e] for e in range(3)
    }
    assert perm[0] != perm[1] != perm[2]
    for t in rows:
        assert t[0] == t[1] * N + t[2]

    # computed resume: exact global tail at an epoch boundary ± 1
    for step in (N - 1, N, N + 1, 2 * N):
        got = sorted(
            (r["global_step"], r["epoch"], r["rank"], r["seq_bin"])
            for r in resume_run_at_step(order, step).collect()
        )
        assert got == rows[step:], step

    # landed resume: one land_epoch_order per epoch, boundary steps
    paths = []
    for e in range(3):
        p = str(tmp_path / f"ep{e}")
        land_epoch_order(
            spark, seqs, p, seed=3, epoch=e,
            key_cols=("lang", "seq_bin"), bucket_count=4,
        )
        paths.append(p)
    for step in (N - 1, N, N + 1, 3 * N - 1):
        got = sorted(
            (r["global_step"], r["epoch"], r["rank"], r["seq_bin"])
            for r in resume_run_from_landed(spark, paths, step).collect()
        )
        assert got == rows[step:], step

def test_weighted_order_table_form_flat_plan_and_dict_equality(spark):
    """Table-driven mixture weights (r12, VERDICT r11 Missing #4): the
    dict and table forms produce the BIT-IDENTICAL order (the dict is
    sugar over the broadcast-join path), missing groups take the
    default, and at 10³ groups the optimized plan stays FLAT — no
    per-group CASE chain (plan size independent of |groups|)."""
    from miletos_spark.pipeline.packing import (
        multi_pass_order,
        weighted_epoch_order,
    )

    seqs = spark.createDataFrame(
        [("en", 0), ("en", 1), ("de", 2), ("fr", 3), ("fr", 4)],
        "lang string, seq_bin long",
    )
    wdf = spark.createDataFrame(
        [("en", 4.0), ("de", 2.0)], "lang string, weight double"
    )
    key = lambda r: (r["rank"], r["lang"], r["seq_bin"], r["serve_key"])  # noqa: E731
    a = sorted(map(key, weighted_epoch_order(
        seqs, 7, 2, {"en": 4.0, "de": 2.0}).collect()))
    b = sorted(map(key, weighted_epoch_order(seqs, 7, 2, wdf).collect()))
    assert a == b and len(a) == 5  # fr rows ride on the default weight

    rdict = {"en": 3, "de": 2}
    rdf = spark.createDataFrame(
        [("en", 3), ("de", 2)], "lang string, repeats int"
    )
    k2 = lambda r: (r["rank"], r["lang"], r["seq_bin"], r["pass_idx"])  # noqa: E731
    ma = sorted(map(k2, multi_pass_order(seqs, 7, rdict).collect()))
    mb = sorted(map(k2, multi_pass_order(seqs, 7, rdf).collect()))
    assert ma == mb and len(ma) == 2 * 3 + 2 + 2 * 1

    # duplicate-group weights tables are rejected (they would silently
    # duplicate corpus rows through the join)
    import pytest as _pytest

    dup = spark.createDataFrame(
        [("en", 4.0), ("en", 2.0)], "lang string, weight double"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        weighted_epoch_order(seqs, 7, 2, dup)
    with _pytest.raises(ValueError, match="strictly positive"):
        weighted_epoch_order(
            seqs, 7, 2,
            spark.createDataFrame([("en", -1.0)], "lang string, weight double"),
        )

    # 10³ groups: plan size flat (a CASE chain would grow ~linearly)
    big = spark.createDataFrame(
        [(f"g{i}", 1.0 + (i % 7)) for i in range(1000)],
        "lang string, weight double",
    )
    plan_big = weighted_epoch_order(
        seqs, 7, 2, big
    )._jdf.queryExecution().optimizedPlan().toString()
    plan_small = weighted_epoch_order(
        seqs, 7, 2, wdf
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" not in plan_big
    assert len(plan_big) < len(plan_small) + 2000

def test_landed_order_bounds_parquet_side_table(spark, tmp_path):
    """r12 stretch: the per-shard rank bounds land as a parquet
    `_bounds` side table (written distributed, no driver collect) that
    (a) does not break the dataset read (underscore-prefixed),
    (b) is what shards_for_resume resolves from — proven by deleting
    the JSON stats and resolving identically, still with no Spark job."""
    import os as _os
    import shutil as _shutil

    from miletos_spark.pipeline.packing import (
        epoch_order,
        land_epoch_order,
        resume_from_landed,
        shards_for_resume,
    )

    seqs = spark.createDataFrame(
        [("en", b, b // 16) for b in range(64)],
        "lang string, seq_bin long, shard long",
    )
    path = str(tmp_path / "order")
    land_epoch_order(
        spark, seqs, path, seed=3, epoch=1,
        key_cols=("lang", "seq_bin"), bucket_count=4,
    )
    assert _os.path.isdir(_os.path.join(path, "_bounds"))
    # dataset read ignores the side table
    assert spark.read.parquet(path).count() == 64

    rows = sorted(
        (r["rank"], r["shard"])
        for r in epoch_order(
            seqs, seed=3, epoch=1, key_cols=("lang", "seq_bin"),
            bucket_count=4,
        ).collect()
    )
    by_max: dict = {}
    for rk, sh in rows:
        by_max[sh] = max(by_max.get(sh, -1), rk)
    r0 = min(by_max.values()) + 1
    want = sorted(str(sh) for sh, mx in by_max.items() if mx >= r0)

    # resolve WITHOUT the JSON: parquet side table is authoritative
    _os.remove(_os.path.join(path, "_order_stats.json"))
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert shards_for_resume(path, r0) == want
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert before == after  # metadata-only: no Spark job ran
    got = {
        r["rank"] for r in resume_from_landed(spark, path, r0).collect()
    }
    assert got == set(range(r0, 64))

    # legacy landings (no _bounds) keep working off the JSON — and a
    # missing-both table raises
    _shutil.rmtree(_os.path.join(path, "_bounds"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stats missing"):
        shards_for_resume(path, r0)

def test_pack_bins_nosplit_matches_reference_and_report(spark):
    """Document-preserving (no-split) next-fit packing (r12): every
    doc lands whole in exactly one bin, bins close on would-overflow,
    oversize docs get a dedicated over-full bin, bins never span
    blocks, and the JVM array-fold reproduces a plain Python next-fit
    reference bit-for-bit. The report's waste/overfull accounting is
    integer-exact."""
    from miletos_spark.pipeline.packing import (
        pack_bins_nosplit,
        pack_bins_report,
    )

    C, W = 100, 8
    rows = [
        # (lang, doc_id, n_tokens) — crafted: exact fits, overflows,
        # an oversize doc (150 > C), zero-length docs, sparse ids
        ("en", 0, 40), ("en", 1, 60), ("en", 2, 1), ("en", 3, 99),
        ("en", 4, 150), ("en", 5, 10), ("en", 6, 0), ("en", 7, 95),
        ("en", 8, 50), ("en", 9, 50), ("en", 12, 30),  # id 12: block 1
        ("de", 0, 100), ("de", 1, 100), ("de", 3, 7),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    got = {
        (r["lang"], r["block"], r["doc_id"]):
            (r["bin"], r["offset"], r["fill_after"])
        for r in pack_bins_nosplit(
            df, capacity=C, group_cols=("lang",), block_width=W
        ).collect()
    }

    # reference: plain sequential next-fit per (lang, block)
    import collections

    want = {}
    by_blk = collections.defaultdict(list)
    for lang, i, n in rows:
        by_blk[(lang, i // W)].append((i, n))
    for (lang, blk), ds in by_blk.items():
        b, fill = -1, 1 << 62
        for i, n in sorted(ds):
            if fill + n > C:
                b, off, fill = b + 1, 0, n
            else:
                off, fill = fill, fill + n
            want[(lang, blk, i)] = (b, off, fill)
    assert got == want
    # the oversize doc sits alone in an over-full bin
    ov = got[("en", 0, 4)]
    assert ov[2] == 150 and [
        k for k, v in got.items() if k[0] == "en" and k[1] == 0 and v[0] == ov[0]
    ] == [("en", 0, 4)]

    rep = {
        r["lang"]: (r["n_bins"], r["n_docs"], r["tokens"], r["wasted"],
                    r["overfull_bins"])
        for r in pack_bins_report(
            pack_bins_nosplit(df, capacity=C, group_cols=("lang",),
                              block_width=W),
            capacity=C,
        ).collect()
    }
    # recompute from the reference layout
    fills = collections.defaultdict(dict)
    ndocs = collections.Counter()
    for (lang, blk, i), (b, off, fa) in want.items():
        fills[lang][(blk, b)] = max(fills[lang].get((blk, b), 0), fa)
        ndocs[lang] += 1
    for lang, binfills in fills.items():
        n_bins = len(binfills)
        toks = sum(binfills.values())
        wasted = sum(C - f for f in binfills.values() if f <= C)
        overfull = sum(1 for f in binfills.values() if f > C)
        assert rep[lang] == (n_bins, ndocs[lang], toks, wasted, overfull), lang

def test_epochs_for_budget_feeds_multi_pass_order(spark):
    """Data-card budget solver (r12): repeats = clamp(round(budget ·
    share / tokens), 1, max), planned token mass exact, and the output
    repeats table feeds multi_pass_order directly — each group's
    sequences appear exactly `repeats` times in the composed order."""
    from miletos_spark.pipeline.packing import (
        epochs_for_budget,
        multi_pass_order,
    )

    docs = spark.createDataFrame(
        # en: 100 tokens total, de: 400, fr: 50
        [("en", i, 10) for i in range(10)]
        + [("de", 100 + i, 40) for i in range(10)]
        + [("fr", 200 + i, 5) for i in range(10)],
        "lang string, doc_id long, n_tokens long",
    )
    wdf = spark.createDataFrame(
        [("en", 4.0), ("de", 2.0)], "lang string, weight double"
    )
    plan = epochs_for_budget(
        docs, wdf, budget_tokens=700, group_col="lang",
        token_col="n_tokens", max_repeats=5,
    )
    got = {
        r["lang"]: (r["corpus_tokens"], r["weight"], r["target_share"],
                    r["repeats"], r["planned_tokens"])
        for r in plan.collect()
    }
    # shares: en 4/7, de 2/7, fr 1/7 (quantized at 6); repeats:
    # en round(700·0.571429/100)=4, de round(700·0.285714/400)=round(0.5)=1,
    # fr round(700·0.142857/50)=2
    assert got["en"][3] == 4 and got["de"][3] == 1 and got["fr"][3] == 2
    assert got["en"][4] == 400 and got["de"][4] == 400 and got["fr"][4] == 100
    assert abs(got["en"][2] - 4 / 7) < 2e-6

    # composition: the plan IS multi_pass_order's repeats table
    seqs = docs.select("lang", F.col("doc_id").alias("seq_bin"))
    order = multi_pass_order(
        seqs, seed=7, repeats=plan.select("lang", "repeats"),
        key_cols=("lang", "seq_bin"),
    )
    counts = {
        (r["lang"]): r["n"]
        for r in order.groupBy("lang").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert counts == {"en": 40, "de": 10, "fr": 20}
    # rank dense over the whole run
    n_total = sum(counts.values())
    ranks = sorted(r["rank"] for r in order.select("rank").collect())
    assert ranks == list(range(n_total))

def _ffd_reference(rows, C, W):
    """Plain-python first-fit-decreasing per (group, block)."""
    import collections

    by_blk = collections.defaultdict(list)
    for g, i, n in rows:
        by_blk[(g, i // W)].append((i, n))
    out = {}
    for (g, blk), ds in by_blk.items():
        fills = []
        for i, n in sorted(ds, key=lambda t: (-t[1], t[0])):
            fit = next(
                (j for j, f in enumerate(fills) if f + n <= C), None
            )
            if fit is None:
                fit, off = len(fills), 0
                fills.append(n)
            else:
                off = fills[fit]
                fills[fit] += n
            out[(g, blk, i)] = (fit, off, off + n)
    return out


def test_pack_bins_ffd_matches_reference_and_beats_next_fit(spark):
    """First-fit-decreasing packing (r12): bit-equal to a plain Python
    FFD reference on crafted and random inputs; oversize docs isolate;
    and on every random input FFD's measured waste is <= next-fit's
    (the 11/9 vs 2 OPT ordering, pinned empirically)."""
    import random

    from pyspark.sql import functions as F

    from miletos_spark.pipeline.packing import (
        pack_bins_ffd,
        pack_bins_nosplit,
        pack_bins_report,
    )

    C, W = 100, 16
    rng = random.Random(17)
    cases = [
        [("en", 0, 40), ("en", 1, 60), ("en", 2, 1), ("en", 3, 99),
         ("en", 4, 150), ("en", 5, 10), ("en", 6, 0), ("en", 7, 95),
         ("de", 0, 100), ("de", 1, 100), ("de", 3, 7)],
        [("en", i, rng.choice([5, 30, 51, 60, 99, 101]))
         for i in range(40)]
        + [("de", 100 + i, rng.randrange(0, 130)) for i in range(40)],
    ]
    for rows in cases:
        df = spark.createDataFrame(
            rows, "lang string, doc_id long, n_tokens long"
        )
        got = {
            (r["lang"], r["block"], r["doc_id"]):
                (r["bin"], r["offset"], r["fill_after"])
            for r in pack_bins_ffd(
                df, capacity=C, group_cols=("lang",), block_width=W
            ).collect()
        }
        assert got == _ffd_reference(rows, C, W)

        # oversize docs isolate: nothing shares a bin with an overfull
        # placement
        bins = {}
        for (g, b, i), (bn, off, fa) in got.items():
            bins.setdefault((g, b, bn), []).append(fa)
        for key, fas in bins.items():
            if max(fas) > C:
                assert len(fas) == 1, key

        # quality: FFD waste <= next-fit waste per group
        w_ffd = {
            r["lang"]: r["wasted"]
            for r in pack_bins_report(
                pack_bins_ffd(df, capacity=C, group_cols=("lang",),
                              block_width=W),
                capacity=C,
            ).collect()
        }
        w_nf = {
            r["lang"]: r["wasted"]
            for r in pack_bins_report(
                pack_bins_nosplit(df, capacity=C, group_cols=("lang",),
                                  block_width=W),
                capacity=C,
            ).collect()
        }
        for g in w_ffd:
            assert w_ffd[g] <= w_nf[g], (g, w_ffd[g], w_nf[g])

def test_weights_table_review_fixes(spark, tmp_path):
    """r12 review regressions pinned: (a) an EMPTY weights dict means
    all-default (the old CASE-chain behavior — must not crash on
    schema inference); (b) non-integral repeats are REJECTED in both
    spec forms instead of silently truncating; (c) the landed-order
    RUN-level resume works from the parquet _bounds side table alone
    (no JSON — the ceiling removal applies to resume_run_from_landed,
    not just shards_for_resume)."""
    import os

    import pytest as _pytest

    from miletos_spark.pipeline.packing import (
        epoch_order,
        land_epoch_order,
        multi_pass_order,
        resume_run_at_step,
        run_order,
        resume_run_from_landed,
        weighted_epoch_order,
    )

    seqs = spark.createDataFrame(
        [("en", b, b // 8) for b in range(16)],
        "lang string, seq_bin long, shard long",
    )
    # (a) empty specs = uniform defaults, still a valid total order
    w = weighted_epoch_order(seqs, 3, 1, {})
    assert sorted(r["rank"] for r in w.collect()) == list(range(16))
    m = multi_pass_order(seqs, 3, {})
    assert sorted(r["rank"] for r in m.collect()) == list(range(16))

    # (b) non-integral repeats raise, dict and table forms alike
    with _pytest.raises(ValueError, match="positive integers"):
        multi_pass_order(seqs, 3, {"en": 2.7})
    rdf = spark.createDataFrame(
        [("en", 2.7)], "lang string, repeats double"
    )
    with _pytest.raises(ValueError, match="positive integers"):
        multi_pass_order(seqs, 3, rdf)

    # (c) run-level landed resume off the parquet bounds only
    paths = []
    for e in range(2):
        p = str(tmp_path / f"ep{e}")
        land_epoch_order(
            spark, seqs, p, seed=3, epoch=e,
            key_cols=("lang", "seq_bin"), bucket_count=4,
        )
        os.remove(os.path.join(p, "_order_stats.json"))
        paths.append(p)
    order = run_order(
        seqs, seed=3, n_epochs=2, key_cols=("lang", "seq_bin"),
        bucket_count=4,
    )
    for step in (15, 16, 17):
        want = sorted(
            (r["global_step"], r["seq_bin"])
            for r in resume_run_at_step(order, step).collect()
        )
        got = sorted(
            (r["global_step"], r["seq_bin"])
            for r in resume_run_from_landed(spark, paths, step).collect()
        )
        assert got == want, step


def test_weights_table_advice_r12_guards(spark, tmp_path):
    """ADVICE r12 pins: (a) an empty/all-NULL weights TABLE must still
    validate default_value — a non-positive default previously slipped
    through the `mn is None` branch into a degenerate (hi <= 0) bucket
    grid; (b) `land_epoch_order` rejects non-numeric shard columns with
    a clear error instead of landing NULL-cast bounds that crash later
    in `_landed_order_bounds`."""
    import pytest as _pytest

    from miletos_spark.pipeline.packing import (
        land_epoch_order,
        multi_pass_order,
        weighted_epoch_order,
    )

    seqs = spark.createDataFrame(
        [("en", b, b // 8) for b in range(16)],
        "lang string, seq_bin long, shard long",
    )
    empty_w = spark.createDataFrame([], "lang string, w double")
    with _pytest.raises(ValueError, match="strictly positive"):
        weighted_epoch_order(seqs, 3, 1, empty_w, default_weight=0.0)
    empty_r = spark.createDataFrame([], "lang string, repeats long")
    with _pytest.raises(ValueError, match="positive integers"):
        multi_pass_order(seqs, 3, empty_r, default_repeats=0)
    with _pytest.raises(ValueError, match="positive integers"):
        multi_pass_order(seqs, 3, empty_r, default_repeats=2.5)
    # the valid empty-table path still serves all-default
    w = weighted_epoch_order(seqs, 3, 1, empty_w, default_weight=2.0)
    assert sorted(r["rank"] for r in w.collect()) == list(range(16))

    str_shard = seqs.withColumn("shard", F.concat(F.lit("s"), "shard"))
    with _pytest.raises(ValueError, match="integer type"):
        land_epoch_order(
            spark, str_shard, str(tmp_path / "bad"), seed=3, epoch=0,
            key_cols=("lang", "seq_bin"), bucket_count=4,
        )


def test_assign_splits_clustered_no_straddling(spark):
    """Leakage-safe split assignment (r13, VERDICT r12 Missing #1):
    (a) every member of a near-dup cluster lands in ONE split — zero
    straddling pairs by construction; (b) docs in no cluster get the
    BIT-IDENTICAL split plain `assign_splits` gives them (cluster info
    never reshuffles the rest); (c) the rule is the md5 hash of the
    cluster representative, replayed here in closed form."""
    from miletos_spark.pipeline.dedup import connected_components
    from miletos_spark.pipeline.sampling import (
        assign_splits,
        assign_splits_clustered,
    )

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)], "doc_id long, text string"
    )
    # three planted clusters, including a chain that only transitivity
    # merges (5-6, 6-7) and a cross-decade pair
    edges = spark.createDataFrame(
        [(5, 6), (6, 7), (40, 41), (90, 130)], "id_a long, id_b long"
    )
    comp = connected_components(edges)
    out = assign_splits_clustered(docs, comp).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    for cluster in ([5, 6, 7], [40, 41], [90, 130]):
        assert len({split_of[d] for d in cluster}) == 1, cluster

    plain = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs).collect()
    }
    clustered_ids = {5, 6, 7, 40, 41, 90, 130}
    for d, s in split_of.items():
        if d not in clustered_ids:
            assert s == plain[d], d

    # closed-form replay: split(rep) via the md5-u32 integer rule
    import hashlib

    def rule(rep: int) -> str:
        u32 = int(hashlib.md5(str(rep).encode()).hexdigest()[:8], 16)
        if u32 * 10 < 8 * 4294967296:
            return "train"
        if u32 * 10 < 9 * 4294967296:
            return "val"
        return "test"

    reps = {5: 5, 6: 5, 7: 5, 40: 40, 41: 40, 90: 90, 130: 90}
    for d in range(200):
        assert split_of[d] == rule(reps.get(d, d)), d


def test_curriculum_order_front_loads_quality_stages(spark):
    """Curriculum serving (r13, VERDICT r12 Missing #4): (a) stage s is
    EXACTLY the s-th quantile slice by score — the top-quality stage
    occupies the leading rank band [0, |stage 0|) with no interleaving;
    (b) stage populations are exact quantile counts; (c) within a
    stage the order is the epoch_order md5 permutation (same relative
    order as the unstaged shuffle); (d) partition-invariant."""
    from miletos_spark.pipeline.packing import curriculum_order, epoch_order

    rows = [("en", b, float((b * 37) % 100)) for b in range(40)]
    seqs = spark.createDataFrame(
        rows, "lang string, seq_bin long, score double"
    )
    out = curriculum_order(
        seqs, seed=5, epoch=0, score_col="score", n_stages=4,
        key_cols=("lang", "seq_bin"), bucket_count=8,
    ).collect()
    assert sorted(r["rank"] for r in out) == list(range(40))
    # (b) exact quantile populations
    from collections import Counter

    pops = Counter(r["stage"] for r in out)
    assert pops == {0: 10, 1: 10, 2: 10, 3: 10}
    # (a) stage-major rank bands, and stage 0 = the 10 best scores
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [r["stage"] for r in by_rank] == [0] * 10 + [1] * 10 + [2] * 10 + [3] * 10
    best10 = {
        b for b, _ in sorted(
            ((b, s) for _, b, s in rows), key=lambda t: (-t[1], t[0])
        )[:10]
    }
    assert {r["seq_bin"] for r in by_rank[:10]} == best10
    # (c) within-stage relative order == the epoch_order permutation
    perm = {
        r["seq_bin"]: r["rank"]
        for r in epoch_order(
            seqs, seed=5, epoch=0, key_cols=("lang", "seq_bin"),
            bucket_count=8,
        ).collect()
    }
    for s in range(4):
        members = [r["seq_bin"] for r in by_rank if r["stage"] == s]
        assert members == sorted(members, key=lambda b: perm[b]), s
    # (d) partition invariance
    out2 = curriculum_order(
        seqs.repartition(7), seed=5, epoch=0, score_col="score",
        n_stages=4, key_cols=("lang", "seq_bin"), bucket_count=8,
    ).collect()
    assert sorted((r["seq_bin"], r["stage"], r["rank"]) for r in out2) == \
        sorted((r["seq_bin"], r["stage"], r["rank"]) for r in out)


def test_pack_bins_occupancy_guard_and_pathological_block(spark):
    """r13 (VERDICT r12 Wrong #1): the O(occupancy²) fold constant is
    now documented AND guarded — block_width past 16384 fires a soft
    warning in both packers; and a deliberately pathological
    single-block corpus (every doc in one block) still packs correctly
    (the bound is a cost statement, not a correctness limit)."""
    import warnings

    import pytest as _pytest

    from miletos_spark.pipeline.packing import (
        pack_bins_ffd,
        pack_bins_nosplit,
    )

    docs = spark.createDataFrame(
        [("en", i, 30 + (i % 5)) for i in range(600)],
        "lang string, doc_id long, n_tokens long",
    )
    with _pytest.warns(UserWarning, match="occupancy"):
        pack_bins_nosplit(docs, capacity=100, block_width=100_000)
    with _pytest.warns(UserWarning, match="occupancy"):
        pack_bins_ffd(docs, capacity=100, block_width=100_000)
    # no warning at the documented operating point
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pack_bins_nosplit(docs, capacity=100, block_width=1024)

    # pathological: one block of 600 docs — correct, just quadratic
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = pack_bins_nosplit(
            docs, capacity=100, block_width=1_000_000
        ).collect()
    assert len(out) == 600
    assert len({r["block"] for r in out}) == 1
    # every non-final bin could not have accepted its successor's doc
    by_bin = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        by_bin.setdefault(r["bin"], []).append(r)
    for b, rows in by_bin.items():
        fill = rows[-1]["fill_after"]
        assert fill <= 100
        if b + 1 in by_bin:
            nxt = by_bin[b + 1][0]["n_tokens"]
            assert fill + nxt > 100, b


def test_assign_splits_clustered_follows_incremental_clusters(
    spark, tmp_path
):
    """Composition with the LANDED incremental cluster table (the
    maintenance path a production corpus actually runs): after an
    appended edge batch MERGES two clusters, re-running
    `assign_splits_clustered` against the updated landed table gives
    the merged cluster ONE split (keyed on the new, smaller
    representative) — leakage-safety survives cluster maintenance, and
    the moved docs are exactly the members whose representative
    changed."""
    from miletos_spark.pipeline.landing import (
        land_cluster_index,
        update_cluster_index,
    )
    from miletos_spark.pipeline.sampling import assign_splits_clustered

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(60)], "doc_id long, text string"
    )
    path = str(tmp_path / "clusters")

    def edges(pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    v0 = land_cluster_index(spark, edges([(5, 6), (20, 21)]), path, n_buckets=4)
    comp0 = spark.read.parquet(v0).select("node", "component")
    s0 = {
        r["doc_id"]: r["split"]
        for r in assign_splits_clustered(docs, comp0).collect()
    }
    assert s0[5] == s0[6] and s0[20] == s0[21]

    # append merges {5,6} with {20,21} via a bridging near-dup pair
    v1 = update_cluster_index(spark, path, edges([(6, 20)]), "b1", n_buckets=4)
    comp1 = spark.read.parquet(v1).select("node", "component")
    s1 = {
        r["doc_id"]: r["split"]
        for r in assign_splits_clustered(docs, comp1).collect()
    }
    merged = {s1[d] for d in (5, 6, 20, 21)}
    assert len(merged) == 1
    # everyone outside the merged component is untouched
    for d in range(60):
        if d not in (5, 6, 20, 21):
            assert s1[d] == s0[d], d
    # the merged split is the representative's (min id = 5) own split
    assert s1[20] == s0[5]


def test_annealed_run_order_equals_per_epoch_weighted(spark):
    """Annealed run schedule (r13): (a) BIT-IDENTICAL to independent
    per-epoch weighted_epoch_order calls under each epoch's weights,
    with global_step = epoch·N + rank; (b) the final upweighted epoch
    front-loads its group (mean rank strictly below the others');
    (c) duplicate (epoch, group) rows and non-positive weights raise;
    (d) dict sugar == table form."""
    import pytest as _pytest

    from miletos_spark.pipeline.packing import (
        annealed_run_order,
        weighted_epoch_order,
    )

    seqs = spark.createDataFrame(
        [("en" if b % 2 else "de", b) for b in range(40)],
        "lang string, seq_bin long",
    )
    spec = {0: {}, 1: {"en": 2.0}, 2: {"en": 8.0, "de": 2.0}}
    rows = [
        (e, g, w) for e, gw in spec.items() for g, w in gw.items()
    ]
    wdf = spark.createDataFrame(
        rows, "epoch int, lang string, weight double"
    )
    got = annealed_run_order(
        seqs, seed=11, n_epochs=3, weights_by_epoch=wdf, bucket_count=4
    )
    key = lambda r: (r["epoch"], r["seq_bin"], r["serve_key"],  # noqa: E731
                     r["rank"], r["global_step"])
    got_rows = sorted(map(key, got.collect()))
    n = seqs.count()
    want = []
    for e in range(3):
        o = weighted_epoch_order(
            seqs, seed=11, epoch=e, weights=spec[e], bucket_count=4
        )
        want += [
            (e, r["seq_bin"], r["serve_key"], r["rank"], e * n + r["rank"])
            for r in o.collect()
        ]
    assert got_rows == sorted(want)

    # (b) anneal front-loading in epoch 2 (en x8 vs de x2)
    e2 = [r for r in got.collect() if r["epoch"] == 2]
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(
        [r["rank"] for r in e2 if r["lang"] == "en"]
    ) < mean([r["rank"] for r in e2 if r["lang"] == "de"])

    # (c) guards
    dup = spark.createDataFrame(
        [(1, "en", 2.0), (1, "en", 3.0)],
        "epoch int, lang string, weight double",
    )
    with _pytest.raises(ValueError, match="duplicate"):
        annealed_run_order(seqs, 11, 3, dup)
    with _pytest.raises(ValueError, match="strictly positive"):
        annealed_run_order(
            seqs, 11, 3, {1: {"en": -1.0}}
        )
    with _pytest.raises(ValueError, match="strictly positive"):
        annealed_run_order(seqs, 11, 3, {}, default_weight=0.0)

    # (d) dict sugar == table form
    got2 = sorted(
        map(key, annealed_run_order(
            seqs, seed=11, n_epochs=3, weights_by_epoch=spec,
            bucket_count=4,
        ).collect())
    )
    assert got2 == got_rows


def test_land_order_generalizes_to_weighted_and_curriculum(
    spark, tmp_path
):
    """r13 refactor: ANY rank-carrying order lands through `land_order`
    with the per-shard bounds side table — the landed-resume machinery
    is no longer exclusive to the uniform epoch order. Weighted and
    curriculum orders land, shard lists resolve from metadata, and
    shard-local resume returns exactly the unserved suffix."""
    from miletos_spark.pipeline.packing import (
        curriculum_order,
        land_order,
        resume_from_landed,
        shards_for_resume,
        weighted_epoch_order,
    )

    seqs = spark.createDataFrame(
        [("en" if b % 2 else "de", b, float(b % 7)) for b in range(32)],
        "lang string, seq_bin long, score double",
    )
    for tag, order in (
        (
            "w",
            weighted_epoch_order(
                seqs.drop("score"), seed=3, epoch=1, weights={"en": 3.0},
                bucket_count=4,
            ),
        ),
        (
            "c",
            curriculum_order(
                seqs, seed=3, epoch=0, score_col="score", n_stages=2,
                bucket_count=4,
            ),
        ),
    ):
        order = order.withColumn(
            "shard", (F.col("rank") / 8).cast("long")
        )
        p = str(tmp_path / tag)
        land_order(spark, order, p, stats={"kind": tag})
        assert shards_for_resume(p, 0) == ["0", "1", "2", "3"]
        assert shards_for_resume(p, 24) == ["3"]
        got = sorted(
            (r["rank"], r["seq_bin"])
            for r in resume_from_landed(spark, p, 20).collect()
        )
        want = sorted(
            (r["rank"], r["seq_bin"])
            for r in order.filter(F.col("rank") >= 20).collect()
        )
        assert got == want, tag


def test_annealed_run_lands_and_resumes_at_global_step(spark, tmp_path):
    """Composition: the annealed schedule's epochs land per-epoch
    through the generic `land_order` and `resume_run_from_landed`
    resumes the run at a global step — boundary steps included —
    identically to the computed `resume_run_at_step`. This is the
    deployment shape: a data-card anneal run whose resume is pure
    metadata arithmetic."""
    from miletos_spark.pipeline.packing import (
        annealed_run_order,
        land_order,
        resume_run_at_step,
        resume_run_from_landed,
    )

    seqs = spark.createDataFrame(
        [("en" if b % 2 else "de", b) for b in range(16)],
        "lang string, seq_bin long",
    )
    spec = {1: {"en": 4.0}}
    order = annealed_run_order(
        seqs, seed=9, n_epochs=2, weights_by_epoch=spec, bucket_count=4
    )
    paths = []
    for e in range(2):
        ep = order.filter(F.col("epoch") == e).withColumn(
            "shard", (F.col("rank") / 4).cast("long")
        )
        p = str(tmp_path / f"ep{e}")
        land_order(spark, ep, p, stats={"epoch": e})
        paths.append(p)
    shard_order = order.withColumn(
        "shard", (F.col("rank") / 4).cast("long")
    )
    for step in (0, 15, 16, 17, 31):
        want = sorted(
            (r["global_step"], r["seq_bin"])
            for r in resume_run_at_step(shard_order, step).collect()
        )
        got = sorted(
            (r["global_step"], r["seq_bin"])
            for r in resume_run_from_landed(spark, paths, step).collect()
        )
        assert got == want, step


def test_assign_splits_clustered_rejects_bad_cluster_tables(spark):
    """ADVICE r13: a duplicate (node, component) row — plausible from a
    stale or badly-merged landed cluster table — silently DUPLICATES
    corpus rows through the left join; a NULL node never equi-joins so
    its membership silently vanishes. Both now raise up front,
    mirroring the weights-table guard."""
    import pytest as _pytest

    from miletos_spark.pipeline.sampling import assign_splits_clustered

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "doc_id long, text string"
    )
    dup = spark.createDataFrame(
        [(3, 3), (3, 3), (4, 3)], "node long, component long"
    )
    with _pytest.raises(ValueError, match="duplicate node"):
        assign_splits_clustered(docs, dup)
    # distinct components for one node is still a duplicate node
    conflicting = spark.createDataFrame(
        [(3, 3), (3, 4)], "node long, component long"
    )
    with _pytest.raises(ValueError, match="duplicate node"):
        assign_splits_clustered(docs, conflicting)
    withnull = spark.createDataFrame(
        [(None, 3), (4, 3)], "node long, component long"
    )
    with _pytest.raises(ValueError, match="NULL node"):
        assign_splits_clustered(docs, withnull)
    # a clean table still assigns every row exactly once
    ok = spark.createDataFrame(
        [(3, 3), (4, 3)], "node long, component long"
    )
    out = assign_splits_clustered(docs, ok).collect()
    assert len(out) == 10
    split_of = {r["doc_id"]: r["split"] for r in out}
    assert split_of[3] == split_of[4]


def test_annealed_run_order_rejects_null_weight_keys(spark):
    """ADVICE r13: count_distinct drops NULL-containing tuples, so a
    duplicate (epoch, NULL-group) weight row used to pass the
    duplicate guard and then silently never join (default_weight).
    NULL epoch/group weight rows now raise outright."""
    import pytest as _pytest

    from miletos_spark.pipeline.packing import annealed_run_order

    seqs = spark.createDataFrame(
        [("en", b) for b in range(8)], "lang string, seq_bin long"
    )
    for rows in (
        [(None, "en", 2.0), (None, "en", 3.0)],  # the reported dupe
        [(1, None, 2.0)],                         # any NULL key at all
    ):
        wdf = spark.createDataFrame(
            rows, "epoch int, lang string, weight double"
        )
        with _pytest.raises(ValueError, match="NULL"):
            annealed_run_order(seqs, 11, 2, wdf)


def test_curriculum_order_stratified_stages_per_group(spark):
    """STRATIFIED curriculum (r14, VERDICT r13 Missing #2): with
    partition_cols, stage = each group's OWN score-quantile slice.
    Skewed two-lang corpus (en dominates 4:1 AND has globally higher
    scores): the GLOBAL staging starves de out of stage 0 entirely,
    while the stratified staging gives every stage exactly each lang's
    own quartile counts. Also pinned: partition_cols=() stays
    bit-identical to the unstratified form, and per-group stage
    populations are exact (±1)."""
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.packing import curriculum_order

    # en: 32 docs, scores 100..131 (all above every de score)
    # de: 8 docs, scores 0..7
    rows = [("en", b, 100.0 + b) for b in range(32)] + [
        ("de", b, float(b)) for b in range(8)
    ]
    seqs = spark.createDataFrame(rows, "lang string, seq_bin long, sc double")

    glob = curriculum_order(
        seqs, seed=5, epoch=0, score_col="sc", n_stages=4,
        key_cols=("lang", "seq_bin"), bucket_count=8,
    )
    g = glob.groupBy("lang", "stage").count().collect()
    g_of = {(r["lang"], r["stage"]): r["count"] for r in g}
    # global quartiles: stage 0 = top 10 scores = all en
    assert g_of.get(("de", 0), 0) == 0
    # de's 8 docs all land in the bottom stage
    assert g_of.get(("de", 3), 0) == 8

    strat = curriculum_order(
        seqs, seed=5, epoch=0, score_col="sc", n_stages=4,
        key_cols=("lang", "seq_bin"), bucket_count=8,
        partition_cols=("lang",),
    )
    s = strat.groupBy("lang", "stage").count().collect()
    s_of = {(r["lang"], r["stage"]): r["count"] for r in s}
    # every stage gets exactly each lang's own quartile: en 8, de 2
    for st in range(4):
        assert s_of[("en", st)] == 8, (st, s_of)
        assert s_of[("de", st)] == 2, (st, s_of)
    # within a group, higher scores still front-load: de stage s holds
    # exactly its own s-th quantile slice
    de_stage = {}
    for r in strat.filter("lang = 'de'").collect():
        de_stage.setdefault(r["stage"], set()).add(r["sc"])
    assert de_stage == {
        0: {7.0, 6.0}, 1: {5.0, 4.0}, 2: {3.0, 2.0}, 3: {1.0, 0.0}
    }
    # ranks are a permutation of 0..N-1, stage-major
    ranks = sorted(r["rank"] for r in strat.collect())
    assert ranks == list(range(40))
    by_rank = {r["rank"]: r["stage"] for r in strat.collect()}
    assert [by_rank[i] for i in range(40)] == sorted(
        by_rank[i] for i in range(40)
    )
    # default partition_cols=() unchanged: bit-identical to the r13 form
    again = curriculum_order(
        seqs, seed=5, epoch=0, score_col="sc", n_stages=4,
        key_cols=("lang", "seq_bin"), bucket_count=8, partition_cols=(),
    )
    key = lambda r: (r["lang"], r["seq_bin"], r["stage"], r["rank"])  # noqa: E731
    assert sorted(map(key, again.collect())) == sorted(
        map(key, glob.collect())
    )


def test_curriculum_run_order_equals_per_epoch_and_resumes(spark):
    """r14 (VERDICT r13 stretch #7): the flat-E curriculum schedule is
    BIT-IDENTICAL to per-epoch curriculum_order calls (same seed), its
    global_step is dense over [0, E*N), resume_run_at_step returns
    exactly the unserved suffix, stages hold in EVERY epoch, and the
    within-stage permutation differs between epochs (the reshuffle).
    Stratified composition (partition_cols) goes through the same
    seam."""
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.packing import (
        curriculum_order,
        curriculum_run_order,
        resume_run_at_step,
    )

    rows = [("en", b, 100.0 + b) for b in range(12)] + [
        ("de", b, float(b)) for b in range(4)
    ]
    seqs = spark.createDataFrame(rows, "lang string, seq_bin long, sc double")
    E, N = 3, 16
    got = curriculum_run_order(
        seqs, seed=11, n_epochs=E, score_col="sc", n_stages=4,
        key_cols=("lang", "seq_bin"), bucket_count=8,
    )
    key = lambda r: (  # noqa: E731
        r["epoch"], r["lang"], r["seq_bin"], r["score_q"], r["stage"],
        r["rank"], r["global_step"],
    )
    got_rows = sorted(map(key, got.collect()))
    want = []
    for e in range(E):
        ep = curriculum_order(
            seqs, seed=11, epoch=e, score_col="sc", n_stages=4,
            key_cols=("lang", "seq_bin"), bucket_count=8,
        )
        want.extend(
            (e, r["lang"], r["seq_bin"], r["score_q"], r["stage"],
             r["rank"], e * N + r["rank"])
            for r in ep.collect()
        )
    assert got_rows == sorted(want)
    # dense global steps; stage-major within every epoch
    steps = sorted(r[6] for r in got_rows)
    assert steps == list(range(E * N))
    by_step = {r[6]: r[4] for r in got_rows}
    for e in range(E):
        stages = [by_step[e * N + i] for i in range(N)]
        assert stages == sorted(stages), e
    # epochs reshuffle: within-stage orders differ somewhere
    perm = {
        e: [
            (r[1], r[2]) for r in sorted(got_rows, key=lambda x: x[6])
            if r[0] == e
        ]
        for e in range(E)
    }
    assert perm[0] != perm[1] or perm[1] != perm[2]
    # resume at an arbitrary mid-run step
    res = sorted(
        r["global_step"] for r in resume_run_at_step(got, 21).collect()
    )
    assert res == list(range(21, E * N))
    # stratified flat-E == stratified per-epoch
    got_s = curriculum_run_order(
        seqs, seed=11, n_epochs=2, score_col="sc", n_stages=2,
        key_cols=("lang", "seq_bin"), bucket_count=8,
        partition_cols=("lang",),
    )
    want_s = []
    for e in range(2):
        ep = curriculum_order(
            seqs, seed=11, epoch=e, score_col="sc", n_stages=2,
            key_cols=("lang", "seq_bin"), bucket_count=8,
            partition_cols=("lang",),
        )
        want_s.extend(
            (e, r["lang"], r["seq_bin"], r["stage"], r["rank"])
            for r in ep.collect()
        )
    key_s = lambda r: (  # noqa: E731
        r["epoch"], r["lang"], r["seq_bin"], r["stage"], r["rank"]
    )
    assert sorted(map(key_s, got_s.collect())) == sorted(want_s)
