"""Text-analysis operators over a `documents(doc_id, text, lang, ...)`
table: token counting, quality scoring, language-ID heuristic, document
fingerprinting. All pure `pyspark.sql.functions` column expressions —
JVM-side, whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic (public common-word lists; enough for a ratio signal).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "den", "mit", "nicht"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "que", "por"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count; empty string → 0."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count word pieces + digit runs +
    punctuation marks (a regex proxy for subword tokenizers)."""
    pieces = F.split(F.trim(text), r"(?=[^\w\s])|\s+")
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0))


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-scoring features: lengths, token stats, punctuation /
    digit / whitespace / uppercase ratios, mean word length."""
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = token_count(t)
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        toks.alias("n_tokens"),
        F.when(toks > 0, non_ws / toks).alias("mean_word_len"),
        F.when(
            n_chars > 0,
            F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")) / n_chars,
        ).alias("punct_ratio"),
        F.when(n_chars > 0, F.length(F.regexp_replace(t, r"[^0-9]", "")) / n_chars).alias(
            "digit_ratio"
        ),
        F.when(n_chars > 0, F.length(F.regexp_replace(t, r"[^A-Z]", "")) / n_chars).alias(
            "upper_ratio"
        ),
    )


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-ratio language heuristic: score each language by the
    fraction of tokens that are in its stopword list; argmax wins.
    Returns (id, lang_pred, lang_score). Unknown/empty → 'und'."""
    toks = F.transform(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: F.regexp_replace(w, r"[^\p{L}]", ""),
    )
    n = F.size(toks)
    # closure factory, not a default-arg lambda — pyspark derives lambda
    # arity from the Python signature, so default args break HOFs
    def contains_fn(ws):
        return lambda w: F.array_contains(ws, w)

    scores = []
    for lang, words in STOPWORDS.items():
        wl = F.array(*[F.lit(s) for s in words])
        hits = F.size(F.filter(toks, contains_fn(wl)))
        scores.append(
            F.struct((hits / F.greatest(n, F.lit(1))).alias("score"), F.lit(lang).alias("lang"))
        )
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["score"].alias("lang_score"),
    )


def doc_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality scoring (Rae et al. 2021 rule
    family): BPE-ish subword token count, English stopword ratio,
    symbol-to-char ratio, and the composite keep/drop flag a training
    corpus filter would apply. Pure column expressions (codegen'd);
    the flag thresholds are the public Gopher-ish defaults scaled to
    the short synthetic docs."""
    t = F.col(text_col)
    toks = token_count(t)
    bpe = bpe_ish_token_count(t)
    words = F.split(F.lower(F.trim(t)), r"\s+")
    sw = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    n_chars = F.length(t)
    non_word = F.length(F.regexp_replace(t, r"[\w\s]", ""))
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    mean_wl = F.when(toks > 0, non_ws / toks).otherwise(F.lit(0.0))
    stop_ratio = stop_hits / F.greatest(toks, F.lit(1))
    symbol_ratio = F.when(n_chars > 0, non_word / n_chars).otherwise(F.lit(0.0))
    quality_ok = (
        (toks >= 5)
        & (mean_wl >= 2.0) & (mean_wl <= 12.0)
        & (stop_hits >= 1)
        & (symbol_ratio < 0.3)
    )
    return df.select(
        F.col(id_col),
        bpe.alias("n_tokens_bpe"),
        stop_ratio.alias("stop_ratio"),
        symbol_ratio.alias("symbol_ratio"),
        quality_ok.alias("quality_ok"),
    )


def vocab_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary statistics (the tokenizer-training precursor):
    explode lowercased whitespace tokens, count term and document
    frequency per token. One explode + one map-side-combinable groupBy
    — the canonical corpus-scale shuffle, |vocab| keys."""
    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ).alias("token")
    return (
        df.select(F.col(id_col), toks)
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(
            F.count("*").alias("term_freq"),
            F.countDistinct(id_col).alias("doc_freq"),
        )
    )


def doc_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Rolling-hash document fingerprint: hash each k-gram, keep the
    minimum (a 1-hash MinHash — a compact content id robust to
    whitespace changes). Returns (id, fingerprint).

    ``hash_fn='xxhash64'`` (default, fastest, BIGINT) or ``'md5hex'``
    (first 16 hex chars of md5 as STRING — portable across engines, so
    a DuckDB oracle computes the identical fingerprint).

    The normalized string is projected to a real attribute first; see
    `miletos_spark.pipeline.dedup.shingle_array` for why (interpreted
    higher-order functions re-evaluate inlined expressions per element).
    """
    normed = df.select(
        F.col(id_col),
        F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("_norm"),
    )
    nn = F.length(F.col("_norm"))
    idx = F.sequence(F.lit(1), F.greatest(nn - (k - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.substr(F.col("_norm"), i, F.lit(k)))
    if hash_fn == "md5hex":
        hashed = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
    else:
        hashed = F.transform(grams, F.xxhash64)
    return normed.select(
        F.col(id_col), F.array_min(hashed).alias("fingerprint")
    )


def doc_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 §A1.1, the family
    doc_quality's length/symbol rules don't cover): the fraction of
    CHARACTERS inside duplicated lines, and the fraction of word
    bigrams taken by the single most frequent bigram — high values mark
    boilerplate/spam that survives per-token filters. Explode + keyed
    aggregation only (per-doc keys, embarrassingly parallel)."""
    t = F.trim(F.col(text_col))
    words = F.filter(
        F.split(F.lower(t), r"\s+"), lambda w: F.length(w) > 0
    )
    # sequence(0, stop) flips to a DESCENDING [0, -1] when stop < 0
    # (Spark infers step -1), so the 1-word doc needs an explicit
    # empty-array branch, not a clamped stop
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 2),
            lambda i: F.concat_ws(" ", F.element_at(words, i + 1),
                                  F.element_at(words, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.filter(F.split(t, r"\n"), lambda l: F.length(F.trim(l)) > 0)
    # _spread stance (search/bls.py): the per-row bigram/line array
    # construction is an interpreted HOF, and a one-file corpus scan
    # would compute it all on a single core. Pinned by a local
    # checkpoint (both aggregates below read it), which is freed once
    # the returned frame is unreachable, where a cache would outlive
    # the call
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(par).select(
        F.col(id_col), lines.alias("_lines"), bigrams.alias("_bigrams")
    ).localCheckpoint(eager=True)

    ln = (
        base.select(id_col, F.explode("_lines").alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count("*").alias("c"), F.length("line").alias("len"))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c") * F.col("len")).alias("_tot_chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("len"))
                .otherwise(F.lit(0))
            ).alias("_dup_chars"),
            F.sum("c").alias("n_lines"),
        )
    )
    bg = (
        base.select(id_col, F.explode("_bigrams").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("_top_bg"), F.sum("c").alias("_n_bg"))
    )
    ids = base.select(id_col)
    return (
        ids.join(ln, id_col, "left")
        .join(bg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce(
                F.col("_dup_chars")
                / F.greatest(F.col("_tot_chars"), F.lit(1)),
                F.lit(0.0),
            ).alias("dup_line_frac"),
            F.coalesce(
                F.col("_top_bg") / F.greatest(F.col("_n_bg"), F.lit(1)),
                F.lit(0.0),
            ).alias("top_bigram_frac"),
        )
    )


# PII scrubbing (the pre-training redaction pass): pattern order
# matters — EMAIL first (an address swallows the digits/dots an IP or
# phone pattern would otherwise half-match inside it), then the
# all-digit shapes from most to least specific. Patterns are kept to
# the RE2-compatible subset (no lookarounds/backrefs) so the same
# strings drive Java regex (Spark) and RE2 (DuckDB oracle) identically
# on ASCII text.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Redact emails / SSNs / phone numbers / IPv4s, replacing each
    match with a typed placeholder token, and count what was removed.
    Counts are taken SEQUENTIALLY on the progressively-scrubbed text
    (each count is exactly the number of replacements that pattern
    performed, never a double-count of overlapping shapes).

    Pure column expressions — one codegen'd scan at any corpus size.
    Returns (id, text_scrubbed, n_email, n_ssn, n_phone, n_ipv4)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        cur.alias("text_scrubbed"),
        *counts,
    )


# Fixed weights for the linear quality classifier below: the shape of a
# fastText/CCNet-style quality model (positive on length-in-range and
# word-length, negative on symbol/digit/caps excess). Real deployments
# swap in trained weights; the Spark seam — featurize, dot-product,
# threshold, all in one codegen'd scan — is identical.
QUALITY_WEIGHTS: dict[str, float] = {
    "bias": -0.8,
    "f_len": 3.0,
    "f_word": 1.0,
    "punct_ratio": -8.0,
    "digit_ratio": -6.0,
    "upper_ratio": -2.0,
}


def quality_logit(
    t: Column, weights: dict[str, float] | None = None
) -> Column:
    """The quality classifier's linear logit as a bare Column (usable
    inline on batch AND streaming DataFrames — a streaming filter
    cannot route through the projecting DataFrame form)."""
    w = dict(QUALITY_WEIGHTS, **(weights or {}))
    toks = token_count(t)
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    n_chars = F.length(t)
    f_len = F.least(toks, F.lit(256)).cast("double") / F.lit(256.0)
    f_word = (
        F.least(
            F.when(toks > 0, non_ws / toks).otherwise(F.lit(0.0)),
            F.lit(12.0),
        )
        / F.lit(12.0)
    )
    punct = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")) / n_chars,
    ).otherwise(F.lit(0.0))
    digit = F.when(
        n_chars > 0, F.length(F.regexp_replace(t, r"[^0-9]", "")) / n_chars
    ).otherwise(F.lit(0.0))
    upper = F.when(
        n_chars > 0, F.length(F.regexp_replace(t, r"[^A-Z]", "")) / n_chars
    ).otherwise(F.lit(0.0))
    return (
        F.lit(w["bias"])
        + F.lit(w["f_len"]) * f_len
        + F.lit(w["f_word"]) * f_word
        + F.lit(w["punct_ratio"]) * punct
        + F.lit(w["digit_ratio"]) * digit
        + F.lit(w["upper_ratio"]) * upper
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Model-based quality filter (the classifier stage of CCNet /
    fastText-filter pipelines) as a pure column expression: bounded
    length and word-length features plus the symbol/digit/caps ratios,
    one fixed-weight dot product, keep = logit > 0.

    The checked output is the LINEAR logit, not sigmoid(logit): the
    features are exact int/int divisions and the dot product a fixed
    left-to-right chain of correctly-rounded IEEE ops, so the logit is
    bit-identical in any engine — while exp() is only ~1-ulp
    reproducible across libms. Monotonicity makes the two thresholds
    equivalent (sigmoid(x) > 0.5 <=> x > 0).

    Returns (id, logit, keep)."""
    logit = quality_logit(F.col(text_col), weights)
    return df.select(
        F.col(id_col),
        logit.alias("logit"),
        (logit > 0).alias("keep"),
    )


# Model tables above this many entries shuffle-join instead of
# broadcasting (a few hundred MB of (gram, count) rows — past the point
# where per-executor broadcast copies are cheaper than one shuffle).
LM_BROADCAST_THRESHOLD = 2_000_000


def _lm_join(big: DataFrame, model: DataFrame, keys, broadcast: bool):
    """Left-join a token stream against an LM count table, either
    broadcast (small model) or shuffle (model too large — e.g. the
    self-vocab of a 100 TB corpus, hundreds of millions of types, which
    would OOM the driver as a broadcast). The shuffle path keys on the
    gram; hot function words skew the join, which AQE's skew-join
    splitting handles — unlike a window, a shuffled join never needs
    one key in one task."""
    return big.join(F.broadcast(model) if broadcast else model, keys, "left")


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
    broadcast: bool | None = None,
    broadcast_threshold: int = LM_BROADCAST_THRESHOLD,
) -> DataFrame:
    """Statistical language-model quality scoring (the CCNet/KenLM
    perplexity-filter seam, reduced to its distributed skeleton): score
    each document by its add-one-smoothed unigram log-likelihood,
    token probabilities p(t) = (cnt(t)+1) / (N+V) under `vocab`
    (a (tok, cnt) table; default: counted from the corpus itself —
    self-perplexity). Production swaps the unigram table for real
    KenLM n-gram shards; the plan — tokenize, join the model table,
    per-doc sum — is the same.

    The model-table join is SIZE-GATED: `broadcast=None` counts the
    vocab (one cheap agg job, which also yields N and V as literals)
    and broadcasts only under `broadcast_threshold` entries; above it —
    or with `broadcast=False` — the same plan runs as a shuffle join
    keyed on the token (AQE skew-splittable on hot function words).
    Heaps' law keeps a word-level vocab broadcastable for a long time,
    but the self-vocab of a 100 TB web corpus or a char-noise crawl
    does cross the line, and that must degrade to a shuffle, not a
    driver OOM.

    Returns (id, n_tokens, logprob) — logprob = Σ ln p(t), higher is
    more in-distribution; filter on logprob / n_tokens."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("tok"),
    ).filter(F.length("tok") > 0)
    if vocab is None:
        vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("v_size"),
    ).first()
    n_total, v_size = int(tot["n_total"]), int(tot["v_size"])
    if broadcast is None:
        broadcast = v_size <= broadcast_threshold
    denom = F.lit(n_total + v_size)
    scored = _lm_join(toks, vocab, "tok", broadcast).select(
        F.col(id_col),
        F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)) / denom
        ).alias("lp"),
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("lp").alias("logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    model: DataFrame | None = None,
    broadcast: bool | None = None,
    broadcast_threshold: int = LM_BROADCAST_THRESHOLD,
) -> DataFrame:
    """Bigram LM scoring with stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the web-scale
    scheme chosen precisely because its counts are mergeable
    map-side-combinable aggregates, no discounting pass): per token,

        ln p(t_i | t_{i-1}) = ln( c(t_{i-1} t_i) / c(t_{i-1}) )   seen
                            = ln alpha + ln p1(t_i)               backoff

    with p1 the add-one-smoothed unigram model (doc-initial tokens
    score as p1 directly; c(t_{i-1}) is the raw unigram count). Counts
    come from `model` — a corpus DataFrame(id, text) the tables are
    trained on (the CCNet shape: score the crawl under a reference
    corpus's model; default: `df` itself — self-perplexity, where
    every bigram is by construction seen and backoff never fires).
    Tokens and their predecessors come from ONE array projection
    (`arrays_zip` of the token array with its shift — no self-join, no
    per-row array carry), then two count aggs and three left joins,
    each SIZE-GATED broadcast-vs-shuffle like `unigram_logprob`
    (bigram vocabs cross the broadcast line far sooner than word
    vocabs).

    Returns (id, n_tokens, n_bigram_hits, n_backoff, logprob)."""
    import math

    def _zipped(src: DataFrame) -> DataFrame:
        arr = src.select(
            F.col(id_col),
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: F.length(t) > 0,
            ).alias("_t"),
        ).filter(F.size("_t") > 0)
        n = F.size("_t")
        shifted = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(F.col("_t"), 1, n - 1),
        )
        return (
            arr.select(
                F.col(id_col), F.col("_t").alias("cur"),
                shifted.alias("prv"),
            )
            .select(
                id_col, F.explode(F.arrays_zip("prv", "cur")).alias("pc")
            )
            .select(
                id_col,
                F.col("pc.prv").alias("prv"),
                F.col("pc.cur").alias("cur"),
            )
        )

    zipped = _zipped(df)
    train = zipped if model is None else _zipped(model)
    uni = train.groupBy("cur").agg(F.count("*").alias("c1"))
    bi = (
        train.filter(F.col("prv").isNotNull())
        .groupBy("prv", "cur")
        .agg(F.count("*").alias("c2"))
    )
    tot = uni.agg(
        F.sum("c1").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("v_size"),
    ).first()
    n_total, v_size = int(tot["n_total"]), int(tot["v_size"])
    if broadcast is None:
        broadcast = v_size <= broadcast_threshold
    denom = F.lit(n_total + v_size)
    uni_cur = uni.select(F.col("cur"), F.col("c1").alias("c_cur"))
    uni_prv = uni.select(
        F.col("cur").alias("prv"), F.col("c1").alias("c_prv")
    )
    j = _lm_join(zipped, uni_cur, "cur", broadcast)
    j = _lm_join(j, uni_prv, "prv", broadcast)
    j = _lm_join(j, bi, ["prv", "cur"], broadcast)
    p1 = F.log((F.coalesce(F.col("c_cur"), F.lit(0)) + F.lit(1)) / denom)
    lp = (
        F.when(F.col("prv").isNull(), p1)
        .when(
            F.col("c2").isNotNull(),
            F.log(F.col("c2") / F.col("c_prv")),
        )
        .otherwise(F.lit(math.log(alpha)) + p1)
    )
    scored = j.select(
        F.col(id_col),
        lp.alias("lp"),
        F.col("c2").isNotNull().cast("long").alias("hit"),
        (F.col("prv").isNotNull() & F.col("c2").isNull())
        .cast("long")
        .alias("bkoff"),
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("hit").alias("n_bigram_hits"),
        F.sum("bkoff").alias("n_backoff"),
        F.sum("lp").alias("logprob"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows (the
    RAG / context-window ingestion primitive): chunk i covers tokens
    [i*step, i*step + chunk_tokens) with step = chunk_tokens - overlap,
    the final chunk may be short, empty documents yield no chunks.

    One codegen'd scan + explode — no shuffle, no UDF: the token array
    is projected to a real attribute once (the interpreted-HOF
    re-evaluation trap, see `doc_fingerprint`), starts come from
    `sequence`, and each chunk is a `slice` + `array_join`.

    Returns (id, chunk_idx, start_tok, n_tok_chunk, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_t"),
    ).select(
        id_col,
        F.filter("_t", lambda t: F.length(t) > 0).alias("_t"),
    )
    n = F.size("_t")
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step)
    )
    chunks = toks.filter(n > 0).select(
        id_col,
        F.col("_t"),
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    piece = F.slice(F.col("_t"), F.col("start_tok") + 1, chunk_tokens)
    return chunks.select(
        id_col,
        "chunk_idx",
        "start_tok",
        F.size(piece).alias("n_tok_chunk"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# Frozen BPE merge table (Sennrich et al. 2016), trained offline by
# `tools/train_bpe.py` on the sf0.01 documents sample — 64 merges,
# checked in as a literal the way a tokenizer.json ships with a model.
# FROZEN on purpose: the distributed encoder below and its DuckDB
# oracle replay must be byte-identical, and a frozen table is what
# makes token-mass accounting reproducible across engines and rounds.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ('e', 'r'),
    ('i', 'n'),
    ('o', 'w'),
    ('o', 'r'),
    ('s', 't'),
    ('m', 'er'),
    ('a', 't'),
    ('l', 'u'),
    ('p', 'a'),
    ('pa', 'r'),
    ('o', 'in'),
    ('j', 'oin'),
    ('s', 'h'),
    ('h', 'a'),
    ('ha', 'sh'),
    ('r', 'ow'),
    ('c', 'h'),
    ('b', 'at'),
    ('bat', 'ch'),
    ('s', 'c'),
    ('sc', 'a'),
    ('sca', 'n'),
    ('u', 'st'),
    ('ust', 'o'),
    ('usto', 'mer'),
    ('o', 'lu'),
    ('olu', 'm'),
    ('olum', 'n'),
    ('c', 'ustomer'),
    ('c', 'olumn'),
    ('t', 'er'),
    ('l', 'ter'),
    ('i', 'lter'),
    ('f', 'ilter'),
    ('s', 'm'),
    ('sm', 'a'),
    ('sma', 'l'),
    ('smal', 'l'),
    ('s', 'l'),
    ('sl', 'ow'),
    ('mer', 'g'),
    ('merg', 'e'),
    ('v', 'e'),
    ('ve', 'c'),
    ('vec', 't'),
    ('vect', 'or'),
    ('or', 'd'),
    ('ord', 'er'),
    ('l', 'in'),
    ('lin', 'e'),
    ('t', 'a'),
    ('ta', 'b'),
    ('tab', 'l'),
    ('tabl', 'e'),
    ('d', 'at'),
    ('dat', 'a'),
    ('u', 'p'),
    ('g', 'g'),
    ('a', 'gg'),
    ('v', 'a'),
    ('va', 'lu'),
    ('valu', 'e'),
    ('k', 'e'),
    ('ke', 'y'),
)


# Unit/word delimiters for the BPE string encoding: ASCII control
# chars that cannot appear in whitespace-split word text.
BPE_UNIT = "\x1f"
BPE_WORD = "\x1e"


def bpe_render(text: Column, merges=BPE_MERGES) -> Column:
    """BPE-encode to a delimited unit stream, entirely in JVM string
    expressions (no UDF, no shuffle): lowercase, whitespace-split,
    wrap every char as \x1f c \x1f, join words with \x1e, then apply
    each frozen merge as ONE literal `replace` of
    "\x1f a \x1f\x1f b \x1f" -> "\x1f ab \x1f". Because every unit
    carries its OWN delimiter pair, adjacent merge sites never share
    characters — a single left-to-right non-overlapping replace is
    exactly one BPE merge-rule pass (the pair cannot be recreated by
    its own merge), and word boundaries (\x1e) can never be crossed.
    DuckDB's `replace` has identical semantics, so the oracle replays
    the chain byte-for-byte.

    Input text is stripped of the two delimiter control chars first
    (U+001F/U+001E cannot be legitimate document text, but a crawl that
    DID carry them would otherwise forge unit boundaries).

    MERGE-COUNT BOUND: the chain is one `replace` pass — and one
    codegen expression node — PER MERGE RULE, i.e. O(|merges|·|doc|)
    work per row. That is the right trade for the frozen ~90-rule
    table (pure JVM, byte-replayable by the DuckDB oracle) but is
    pathological at a production 32k-merge vocab, where it would also
    blow the 64 KB codegen method limit. The production-scale path is
    `bpe_encode_production` below: per-word lowest-rank-pair merging,
    O(1) in merge-table size per lookup, equality-tested against this
    chain."""
    safe = F.regexp_replace(text, f"[{BPE_UNIT}{BPE_WORD}]", "")
    words = F.filter(
        F.split(F.lower(F.trim(safe)), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    unitized = F.transform(
        words,
        lambda w: F.regexp_replace(
            w, "(.)", BPE_UNIT + "$1" + BPE_UNIT
        ),
    )
    s = F.array_join(unitized, BPE_WORD)
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(f"{BPE_UNIT}{a}{BPE_UNIT}{BPE_UNIT}{b}{BPE_UNIT}"),
            F.lit(f"{BPE_UNIT}{a}{b}{BPE_UNIT}"),
        )
    return s


def bpe_token_count(text: Column, merges=BPE_MERGES) -> Column:
    """Subword token count under the frozen merge table: half the
    number of unit delimiters left after the merge chain."""
    s = bpe_render(text, merges)
    return (
        (F.length(s) - F.length(F.replace(s, F.lit(BPE_UNIT), F.lit(""))))
        / 2
    ).cast("int")


def bpe_tokens(text: Column, merges=BPE_MERGES) -> Column:
    """The BPE token array itself (split the rendered stream on
    delimiter runs). array_join(bpe_tokens(t), ' ') round-trips the
    non-whitespace characters of `lower(t)` in order."""
    return F.filter(
        F.split(bpe_render(text, merges), f"[{BPE_UNIT}{BPE_WORD}]+"),
        lambda t: F.length(t) > 0,
    )


# Frozen BPE alphabet (tools/train_bpe.py, same training sample as
# BPE_MERGES): single-char tokens get ids 1..|alphabet| in sorted
# order, merged tokens follow in merge-table order, 0 = OOV (a char
# the tokenizer never saw — digits/punct here, exercising the same
# unk-token path a production tokenizer ships).
BPE_ALPHABET: tuple[str, ...] = (
    'a', 'b', 'c', 'd', 'e', 'f', 'g', 'h', 'i', 'j', 'k', 'l',
    'm', 'n', 'o', 'p', 'q', 'r', 's', 't', 'u', 'v', 'w', 'y',
)


def bpe_vocab() -> "dict[str, int]":
    """token -> id under the frozen (alphabet, merges) pair; 0 is
    reserved for OOV. A pure function of the two frozen literals, so
    Spark and any oracle derive the identical mapping."""
    toks = list(BPE_ALPHABET) + [a + b for a, b in BPE_MERGES]
    return {t: i + 1 for i, t in enumerate(toks)}


def bpe_token_ids(text: Column, merges=BPE_MERGES) -> Column:
    """array<int> of frozen-vocab token ids (0 = OOV): the actual
    trainer handoff — `bpe_tokens` mapped through a literal map, all
    JVM-side."""
    vocab = bpe_vocab()
    m = F.create_map(
        *[x for t, i in vocab.items() for x in (F.lit(t), F.lit(i))]
    )
    return F.transform(
        bpe_tokens(text, merges),
        lambda t: F.coalesce(F.element_at(m, t), F.lit(0)),
    )


#: word-separator token id and the byte-fallback id base for the
#: LOSSLESS id scheme (`bpe_token_ids_lossless`): in-vocab tokens keep
#: their `bpe_vocab` ids (1..~115), 999 separates words, and an
#: out-of-vocab unit — always a single character, since merge rules
#: only ever combine in-vocab tokens — expands to one id PER UTF-8
#: BYTE, 1000+byte (ids 1000..1255: the GPT-2 / SentencePiece
#: byte_fallback scheme — any Unicode input stays losslessly
#: representable with a FIXED 256-entry fallback range).
BPE_SEP_ID = 999
BPE_BYTE_BASE = 1000


def _utf8_byte_ids(t: Column) -> Column:
    """array<int> of BPE_BYTE_BASE+byte ids for the UTF-8 bytes of a
    (short) string — pure JVM: hex(encode(·)) then one id per hex
    pair. Used only for OOV units, which are single characters
    (≤4 bytes), so the per-element hex re-evaluation is bounded."""
    h = F.hex(F.encode(t, "UTF-8"))
    return F.transform(
        F.sequence(F.lit(1), (F.length(h) / F.lit(2)).cast("int")),
        lambda i: (
            F.lit(BPE_BYTE_BASE)
            + F.conv(F.substr(h, i * 2 - 1, F.lit(2)), 16, 10).cast("int")
        ),
    )


def bpe_token_ids_lossless(text: Column, merges=BPE_MERGES) -> Column:
    """LOSSLESS token ids: the production answer to OOV is byte
    fallback (GPT-2 tokenizes raw bytes; SentencePiece ships
    `byte_fallback`), not an unk sink — so unlike `bpe_token_ids`
    (id 0 = unk, decode-lossy) this scheme keeps every character:
    an OOV unit expands to its UTF-8 bytes as 1000+byte ids and word
    boundaries become an explicit separator id, making
    `bpe_decode_ids` an exact inverse on the normalized text (lower,
    whitespace-collapsed) for ANY Unicode input — r9 closes the
    ASCII-only bound the r8 scheme documented (codepoint ids above
    the 256-entry range broke the decode contract silently on
    non-Latin-1 text).

    On pure-ASCII text the id stream is bit-identical to the r8
    scheme (1-byte UTF-8 == codepoint), so the frozen-corpus oracle
    history carries over unchanged.

    Returns array<int>; empty text → empty array."""
    s = bpe_render(text, merges)
    words = F.filter(
        F.split(s, BPE_WORD), lambda w: F.length(w) > 0
    )
    vocab = bpe_vocab()
    m = F.create_map(
        *[x for t, i in vocab.items() for x in (F.lit(t), F.lit(i))]
    )

    def word_ids(w: Column) -> Column:
        units = F.filter(
            F.split(w, f"{BPE_UNIT}+"), lambda t: F.length(t) > 0
        )
        return F.flatten(
            F.transform(
                units,
                lambda t: F.coalesce(
                    F.when(
                        F.element_at(m, t).isNotNull(),
                        F.array(F.element_at(m, t)),
                    ),
                    _utf8_byte_ids(t),
                ),
            )
        )

    with_sep = F.transform(
        words, lambda w: F.concat(word_ids(w), F.array(F.lit(BPE_SEP_ID)))
    )
    flat = F.flatten(with_sep)
    # drop the trailing separator (empty doc → empty array, no slice)
    return F.when(F.size(flat) > 0, F.slice(flat, 1, F.size(flat) - 1)) \
        .otherwise(F.array().cast("array<int>"))


def bpe_decode_ids(ids: Column) -> Column:
    """Exact inverse of `bpe_token_ids_lossless`: every id maps to a
    HEX BYTE STRING (vocab tokens and the separator via
    hex(encode(·)), byte-fallback ids via their byte value), the hex
    is concatenated ONCE and decoded as UTF-8 at the end — so a
    multi-byte character whose bytes span several consecutive
    fallback ids reassembles exactly (decoding id-by-id could never
    do this). Pure JVM expressions; decode(encode(t)) equals the
    normalized text — the driver row's oracle checks that md5 against
    an INDEPENDENT SQL normalization, so the round-trip is the
    checked contract."""
    vocab = bpe_vocab()
    import binascii

    rm_hex = F.create_map(
        *[
            x
            for t, i in vocab.items()
            for x in (
                F.lit(i),
                F.lit(binascii.hexlify(t.encode("utf-8")).decode().upper()),
            )
        ]
    )
    hexes = F.transform(
        ids,
        lambda i: F.when(i == BPE_SEP_ID, F.lit("20"))
        .when(
            i >= BPE_BYTE_BASE,
            F.lpad(F.conv((i - BPE_BYTE_BASE).cast("string"), 10, 16), 2, "0"),
        )
        .otherwise(F.element_at(rm_hex, i)),
    )
    return F.decode(F.unhex(F.array_join(hexes, "")), "UTF-8")


def bpe_encode_production(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges=BPE_MERGES,
    out_col: str = "tokens",
) -> DataFrame:
    """Merge-count-bounded BPE encoder: the production-scale apply path
    for LARGE merge tables, where the `bpe_render` replace chain's
    O(|merges|·|doc|) cost and one-codegen-node-per-rule shape break
    down (see its docstring).

    Per word: repeatedly merge the LOWEST-RANK adjacent pair present,
    all occurrences left-to-right non-overlapping — the GPT-2 encode
    loop. This is provably equal to applying the rules sequentially
    (one global pass per rule, which is what the replace chain does):
    a pair of rank j can only have its constituent tokens created by
    rules < j, and merging two adjacent tokens never creates NEW
    adjacency of an already-existing token pair — so when the chain's
    pass j runs, every (a_j, b_j) adjacency that will ever exist is
    already present. Equality is unit-tested against `bpe_tokens` on
    the frozen table AND on freshly trained larger tables.

    Cost per word is O(L^2) in word length L with O(1) dict lookups in
    merge-table size; the table ships to executors once as a closure
    (at 32k merges, ~1 MB — broadcast territory, same as a shipped
    tokenizer.json). Runs as an Arrow-batched `mapInPandas` stage with
    a per-batch word cache (natural-language word frequency is Zipfian,
    so the cache hit rate dominates); no shuffle, no grouping.

    Returns (id_col, out_col) with out_col the space-joined token
    stream — identical contract to
    `array_join(bpe_tokens(text), ' ')`."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    pairs_by_rank = list(merges)
    schema = f"{id_col} long, {out_col} string"

    def encode(it):
        import re

        import pandas as pd

        # parity with bpe_render: strip the delimiter control chars,
        # split on JAVA \s (ASCII whitespace only — Python's \s and
        # str.split() are unicode-aware and would diverge on \xa0)
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        cache: dict[str, str] = {}

        def enc_word(word: str) -> str:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                a, b = pairs_by_rank[best]
                ab = a + b
                out = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        out.append(ab)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            res = " ".join(syms)
            # bounded: a high-cardinality partition (adversarial or
            # non-Zipfian text) must not grow the Arrow worker's dict
            # without limit; clear-on-overflow refills the Zipf head
            # within a few hundred rows, so the hit-rate argument holds
            if len(cache) >= 1 << 16:
                cache.clear()
            cache[word] = res
            return res

        def enc_doc(text: str) -> str:
            safe = text.replace(BPE_UNIT, "").replace(BPE_WORD, "")
            return " ".join(
                enc_word(w) for w in ws.split(safe.lower()) if w
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: pdf[text_col].map(enc_doc),
                }
            )

    return df.select(id_col, text_col).mapInPandas(encode, schema=schema)


def trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    model: DataFrame | None = None,
    broadcast: bool | None = None,
    broadcast_threshold: int = LM_BROADCAST_THRESHOLD,
) -> DataFrame:
    """Trigram stupid backoff (the full Brants et al. 2007 chain):

        S(w | u v) = c(u v w) / c(u v)        trigram seen
                   = alpha * S(w | v)          else
        S(w | v)   = c(v w) / c(v)             bigram seen
                   = alpha * p1(w)             else

    with p1 the add-one unigram model; doc-initial tokens fall through
    to the shorter contexts naturally (null history). Counts come from
    `model` (default: self). One array projection builds (prv2, prv,
    cur) via two shifts — no self-joins on the token stream — then
    five size-gated left joins against the count tables (uni×2 keys,
    bi×2 keys, tri), each broadcast-vs-shuffle like `unigram_logprob`.

    Returns (id, n_tokens, n_trigram_hits, n_bigram_backoff,
    n_unigram_backoff, logprob)."""
    import math

    def _zipped3(src: DataFrame) -> DataFrame:
        arr = src.select(
            F.col(id_col),
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: F.length(t) > 0,
            ).alias("_t"),
        ).filter(F.size("_t") > 0)
        n = F.size("_t")
        sh1 = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(F.col("_t"), 1, n - 1),
        )
        # arrays_zip pads to the LONGEST array, so sh2 must be exactly
        # length n: a 1-token doc gets ONE null, not the 2-null prefix
        # (which would zip a phantom (null, null, null) row)
        null_s = F.lit(None).cast("string")
        sh2 = (
            F.when(
                n >= 3,
                F.concat(
                    F.array(null_s, null_s),
                    F.slice(F.col("_t"), 1, n - 2),
                ),
            )
            .when(n == 2, F.array(null_s, null_s))
            .otherwise(F.array(null_s))
        )
        return (
            arr.select(
                F.col(id_col),
                F.col("_t").alias("cur"),
                sh1.alias("prv"),
                sh2.alias("prv2"),
            )
            .select(
                id_col,
                F.explode(F.arrays_zip("prv2", "prv", "cur")).alias("pc"),
            )
            .select(
                id_col,
                F.col("pc.prv2").alias("prv2"),
                F.col("pc.prv").alias("prv"),
                F.col("pc.cur").alias("cur"),
            )
        )

    zipped = _zipped3(df)
    train = zipped if model is None else _zipped3(model)
    uni = train.groupBy("cur").agg(F.count("*").alias("c1"))
    bi = (
        train.filter(F.col("prv").isNotNull())
        .groupBy("prv", "cur")
        .agg(F.count("*").alias("c2"))
    )
    tri = (
        train.filter(F.col("prv2").isNotNull())
        .groupBy("prv2", "prv", "cur")
        .agg(F.count("*").alias("c3"))
    )
    tot = uni.agg(
        F.sum("c1").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("v_size"),
    ).first()
    n_total, v_size = int(tot["n_total"]), int(tot["v_size"])
    if broadcast is None:
        broadcast = v_size <= broadcast_threshold
    denom = F.lit(n_total + v_size)
    uni_cur = uni.select(F.col("cur"), F.col("c1").alias("c_cur"))
    uni_prv = uni.select(
        F.col("cur").alias("prv"), F.col("c1").alias("c_prv")
    )
    bi_ctx = bi.select(
        F.col("prv").alias("prv2"),
        F.col("cur").alias("prv"),
        F.col("c2").alias("c_ctx2"),
    )
    j = _lm_join(zipped, uni_cur, "cur", broadcast)
    j = _lm_join(j, uni_prv, "prv", broadcast)
    j = _lm_join(j, bi, ["prv", "cur"], broadcast)
    j = _lm_join(j, bi_ctx, ["prv2", "prv"], broadcast)
    j = _lm_join(j, tri, ["prv2", "prv", "cur"], broadcast)
    p1 = F.log((F.coalesce(F.col("c_cur"), F.lit(0)) + F.lit(1)) / denom)
    ln_a = F.lit(math.log(alpha))
    s_bi = F.when(
        F.col("c2").isNotNull(), F.log(F.col("c2") / F.col("c_prv"))
    ).otherwise(ln_a + p1)
    lp = (
        F.when(F.col("prv").isNull(), p1)
        .when(F.col("prv2").isNull(), s_bi)
        .when(
            F.col("c3").isNotNull(),
            F.log(F.col("c3") / F.col("c_ctx2")),
        )
        .otherwise(ln_a + s_bi)
    )
    tri_hit = (
        F.col("prv2").isNotNull() & F.col("c3").isNotNull()
    ).cast("long")
    bi_bk = (
        F.col("prv2").isNotNull()
        & F.col("c3").isNull()
        & F.col("c2").isNotNull()
    ).cast("long")
    uni_bk = (
        F.col("prv").isNotNull() & F.col("c2").isNull()
    ).cast("long")
    scored = j.select(
        F.col(id_col),
        lp.alias("lp"),
        tri_hit.alias("th"),
        bi_bk.alias("bb"),
        uni_bk.alias("ub"),
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("th").alias("n_trigram_hits"),
        F.sum("bb").alias("n_bigram_backoff"),
        F.sum("ub").alias("n_unigram_backoff"),
        F.sum("lp").alias("logprob"),
    )


# ---------------------------------------------------------------------------
# Quality filter cascade with per-rule attrition (the funnel report):
# Gopher-family rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) applied
# in a declared order with FIRST-FAILING-RULE attribution — the
# observability layer every production curation pipeline runs before
# committing to thresholds ("rule 3 deleted 40% of German" is a bug you
# want to see in the report, not in the trained model). Beyond-reference
# addition (no miletos counterpart).
#
# 100 TB shape: ONE stateless scan computes every per-doc stat and the
# first-failing rule (pure column expressions + per-doc HOFs, no
# shuffle), then one map-side-combinable aggregate reduces to a single
# row of drop counters; the per-rule funnel rows are expressions over
# that row. No second pass per rule — the naive form is R scans.
# ---------------------------------------------------------------------------


def funnel_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Per-doc stats feeding the funnel rules: whitespace token count,
    mean word length (non-ws chars / tokens), English stopword
    fraction, and the most-frequent-token share (Gopher's repetition
    family, unigram form). The token array is projected to a real
    attribute BEFORE the HOF stats (the CollapseProject re-evaluation
    trap — inlined, the split would re-run per distinct element).

    The top-token count is LINEAR per doc: sort the token array once
    and fold run lengths (max run == max count on a sorted array) —
    the previous array_distinct × filter spelling was O(distinct·n)
    per row, quadratic on real long crawl docs (ADVICE r10). The
    _spread stance (search/bls.py) applies for the same reason as
    doc_repetition: a one-file corpus scan would otherwise run every
    per-row HOF on a single core before the first exchange. Batch
    inputs are repartitioned to the session parallelism; streaming
    inputs keep their micro-batch partitioning (repartition would add
    a per-batch shuffle for a stateless scan)."""
    t = F.col(text_col)
    keep = list(keep_cols)
    if not df.isStreaming:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    base = df.select(
        F.col(id_col),
        *keep,
        t.alias("_text"),
        F.array_sort(
            F.filter(
                F.split(F.lower(F.trim(t)), r"\s+"),
                lambda w: F.length(w) > 0,
            )
        ).alias("_w"),
    )
    n = F.size("_w")
    sw = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(F.col("_w"), lambda w: F.array_contains(sw, w)))
    # max run length on the sorted array == max token count; one O(n)
    # fold, no distinct-element rescan
    top = F.aggregate(
        F.col("_w"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(acc["prev"] == w, acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"] == w, acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    non_ws = F.length(F.regexp_replace(F.col("_text"), r"\s", ""))
    return base.select(
        id_col,
        *keep,
        n.alias("n_tokens"),
        F.when(n > 0, non_ws / n).otherwise(F.lit(0.0)).alias("mean_word_len"),
        (stop_hits / F.greatest(n, F.lit(1))).alias("stop_frac"),
        F.when(n > 0, top / n).otherwise(F.lit(0.0)).alias("top_token_share"),
    )


def default_funnel_rules() -> "list[tuple[str, Column]]":
    """The Gopher-scaled rule cascade (ordered; thresholds scaled to
    the short synthetic docs the same way doc_quality's are). Each
    entry is (name, KEEP predicate over funnel_stats columns)."""
    return [
        ("min_tokens", F.col("n_tokens") >= 20),
        ("max_tokens", F.col("n_tokens") <= 90),
        ("word_len", F.col("mean_word_len") <= 4.9),
        ("stopwords", F.col("stop_frac") >= 0.02),
        ("repetition", F.col("top_token_share") <= 0.15),
    ]


def funnel_dropped_by(
    rules: "list[tuple[str, Column]] | None" = None,
) -> Column:
    """First-failing-rule attribution: the name of the first rule in
    the cascade whose keep predicate fails, else NULL (doc kept)."""
    rules = default_funnel_rules() if rules is None else rules
    expr = F.lit(None).cast("string")
    for name, keep in reversed(rules):
        expr = F.when(~keep, F.lit(name)).otherwise(expr)
    return expr


def quality_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: "list[tuple[str, Column]] | None" = None,
    group_col: str | None = None,
) -> DataFrame:
    """The attrition report: one row per rule with (rule_idx, rule,
    n_in, n_dropped, n_out) under first-failing semantics — rule i's
    input is everything the earlier rules kept, all integers, so the
    report is engine-exact. One scan + one tiny aggregate; the
    per-rule rows are pure expressions over it (no window, no
    per-rule pass).

    ``group_col`` (e.g. "lang") gives the PER-GROUP funnel — the
    question the report exists to answer ("rule 3 deleted 40% of
    German" is a threshold bug you want in the report, not in the
    trained model): same single scan, the aggregate is |groups| rows
    instead of one, and the output carries group_col first."""
    rules = default_funnel_rules() if rules is None else rules
    stats = funnel_stats(
        df, text_col, id_col,
        keep_cols=(group_col,) if group_col else (),
    )
    tag = funnel_dropped_by(rules)
    counters = [
        F.sum((F.col("_dropped_by") == name).cast("long")).alias(f"_d{i}")
        for i, (name, _) in enumerate(rules)
    ]
    tagged = stats.select(
        *((group_col,) if group_col else ()), tag.alias("_dropped_by")
    )
    if group_col:
        agg = tagged.groupBy(group_col).agg(
            F.count("*").alias("_n_total"), *counters
        )
    else:
        agg = tagged.agg(F.count("*").alias("_n_total"), *counters)
    rows = []
    for i, (name, _) in enumerate(rules):
        n_in = F.col("_n_total") - sum(
            (F.col(f"_d{j}") for j in range(i)), F.lit(0)
        )
        rows.append(
            F.struct(
                F.lit(i).alias("rule_idx"),
                F.lit(name).alias("rule"),
                n_in.cast("long").alias("n_in"),
                F.col(f"_d{i}").cast("long").alias("n_dropped"),
                (n_in - F.col(f"_d{i}")).cast("long").alias("n_out"),
            )
        )
    exploded = F.explode(F.array(*rows)).alias("_r")
    if group_col:
        return agg.select(group_col, exploded).select(group_col, "_r.*")
    return agg.select(exploded).select("_r.*")


def apply_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: "list[tuple[str, Column]] | None" = None,
) -> DataFrame:
    """The filter half: rows of ``df`` surviving the whole cascade
    (same one-scan stats; keep = no rule fails)."""
    rules = default_funnel_rules() if rules is None else rules
    stats = funnel_stats(df, text_col, id_col)
    kept = stats.filter(funnel_dropped_by(rules).isNull()).select(id_col)
    return df.join(kept, id_col, "left_semi")
