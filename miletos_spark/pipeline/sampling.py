"""Deterministic corpus sampling for training-data mixing.

Temperature-based mixture reweighting (the Pile / Gopher recipe: group
probabilities are flattened with an exponent alpha < 1 so rare
languages / sources are upsampled relative to their natural share)
implemented as a pure column-expression filter — no RNG, no shuffle
beyond one tiny group-count aggregate that is broadcast back.

The per-row keep decision is a deterministic hash threshold:
``u(doc_id) = md5(doc_id)[:8] / 2**32`` gives an exact dyadic rational
in [0, 1) that any engine reproduces bit-for-bit, so the sample is
stable across runs, engines, and cluster sizes (the property an
incremental 100 TB curation pipeline needs: re-running never churns
the sampled set). Reference scope: the corpus-curation ops are
beyond-reference additions (no miletos counterpart); the deterministic
hash-thinning idiom mirrors the posterior subsample hash thinning
(plans/driver_queries.py T5).

Scale notes: the only aggregation is one count per group (|groups| ~
hundreds of languages/sources at worst) joined back with an explicit
broadcast; the keep filter is whole-stage-codegen'd and applied at
scan time, so the sampled write streams at full parallelism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TWO_32 = 4294967296.0  # 2**32; u = first-8-hex-nibbles / 2**32


def md5_u32(col: "Column | str") -> Column:
    """The first 8 hex nibbles of md5(col) as a long in [0, 2**32):
    the one hash key behind every deterministic sample, split, bucket
    and serving permutation. Any engine with md5 replays it exactly
    (DuckDB oracle: `_sql_md5_32`)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash_uniform(id_col: Column) -> Column:
    """Deterministic uniform in [0, 1): `md5_u32(id)` as an exact
    32-bit dyadic rational."""
    return md5_u32(id_col.cast("string")) / F.lit(TWO_32)


def bucketed_rank(
    df: DataFrame,
    restart: Sequence[str],
    buckets: Sequence[str],
    order: "Sequence[Column | str]",
    rank: str = "rank",
    total: str | None = None,
) -> DataFrame:
    """The 0-based rank of each row within ``restart``, in
    (``buckets``, ``order``) order, without a global sort: count rows
    per (restart, buckets), broadcast each bucket's cumulative offset,
    and add it to a ``row_number()`` inside the bucket. Every window
    partition holds one bucket, so no task sorts more than a bucket;
    at 100 TB pick a bucket count of about rows / 10M.

    The rank equals a full sort's ``row_number() - 1`` as long as the
    buckets are a monotone function of ``order`` (equal sort keys land
    in the same bucket) and ``order`` is a total order. Callers keep
    that true by deriving the buckets from the leading sort key, and
    by ending ``order`` with columns that identify a row uniquely:
    with duplicate keys, row_number would pair the other columns with
    ranks arbitrarily, and the result would stop being a function of
    the input.

    Returns ``df`` + ``rank`` (long), and + ``total`` (the row count of
    the row's ``restart`` group) when ``total`` names a column."""
    R, K = list(restart), list(buckets)
    counts = df.groupBy(*R, *K).agg(F.count("*").alias("_c"))
    before = (
        Window.partitionBy(*R)
        .orderBy(*K)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("_c").over(before), F.lit(0)).alias("_off")
    offs = [*R, *K, off]
    if total is not None:
        offs.append(F.sum("_c").over(Window.partitionBy(*R)).alias(total))
    within = Window.partitionBy(*R, *K).orderBy(*order)
    return (
        df.join(F.broadcast(counts.select(*offs)), [*R, *K])
        .withColumn(
            rank,
            (F.row_number().over(within) + F.col("_off") - 1).cast("long"),
        )
        .drop("_off")
    )


def group_keep_fractions(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    keep_frac: float = 0.3,
) -> DataFrame:
    """Per-group keep fraction for temperature-``alpha`` mixing:

        f_g = min(1, keep_frac * (N / N_g) ** (1 - alpha))

    alpha=1 keeps the natural mixture (f_g = keep_frac everywhere);
    alpha=0 equalizes groups; alpha=0.5 (the default, and the pinned
    registry value) makes the exponent 0.5 so the whole recipe is
    sqrt/div/mul — all IEEE correctly-rounded, hence bit-identical in
    Spark and the DuckDB oracle. The fraction is rounded to 6 decimals
    BEFORE thresholding in both engines (memory: quantize-vs-round
    ties), so the kept set is engine-exact.

    Returns (group_col, n_grp, keep_frac_grp)."""
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_grp"))
    total = counts.agg(F.sum("n_grp").alias("n_total"))
    expo = 1.0 - alpha
    ratio = F.col("n_total").cast("double") / F.col("n_grp")
    factor = F.sqrt(ratio) if expo == 0.5 else F.pow(ratio, F.lit(expo))
    return counts.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_grp",
        F.round(
            F.least(F.lit(1.0), F.lit(keep_frac) * factor), 6
        ).alias("keep_frac_grp"),
    )


def mixture_sample(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    keep_frac: float = 0.3,
) -> DataFrame:
    """Deterministically sample ``df`` to a temperature-``alpha``
    mixture over ``group_col``: keep a row iff its hash uniform falls
    below the group's keep fraction. Returns the kept rows with
    ``n_grp`` / ``keep_frac_grp`` attached (the plan is scan → one
    tiny agg → broadcast hash join → codegen filter)."""
    fracs = group_keep_fractions(df, group_col, alpha=alpha, keep_frac=keep_frac)
    u = hash_uniform(F.col(id_col))
    return (
        df.join(F.broadcast(fracs), group_col)
        .withColumn("u", u)
        .filter(F.col("u") < F.col("keep_frac_grp"))
        .drop("u")
    )


def assign_splits(
    df: DataFrame,
    weights: "Sequence[tuple[str, int]]" = (
        ("train", 8), ("val", 1), ("test", 1),
    ),
    id_col: str = "doc_id",
    group_col: str | None = None,
    bucket_count: int | None = None,
) -> DataFrame:
    """Deterministic train/val/test split assignment (the dataset-
    versioning primitive every training pipeline needs: a document's
    split must never change when the corpus grows or the job reruns).

    Two modes sharing one integer-exact rule:

    - ``group_col=None`` (the 100 TB default): split by the md5 hash
      uniform alone — pure codegen scan, no shuffle, and membership is
      a function of the id only, so it is stable under corpus growth
      (new docs slot into splits without moving old ones).
    - ``group_col`` given (exact stratified mode): rank rows within
      each stratum by (hash, id) and cut the ranking at integer
      boundaries, giving EXACT per-stratum proportions. Plain form:
      one window per stratum — a per-stratum SORT in one task, fine
      while strata are small. ``bucket_count=B`` ranks through
      `bucketed_rank` instead, bucketed by the hash value itself
      (order-preserving), with the same ranks. At 100 TB a lang
      stratum is billions of rows: use B ~ rows/10M.

    Weights are INTEGERS (e.g. 8/1/1 = 80/10/10): boundaries are pure
    integer comparisons (`rank * W <= n * cum_w`, no float fraction
    anywhere), so the assignment is bit-identical in any engine — a
    0.96 * n float boundary would tie at whole numbers.

    Returns ``df`` + a ``split`` column."""
    names = [n for n, _ in weights]
    cums, acc = [], 0
    for _, w in weights:
        acc += w
        cums.append(acc)
    total = acc

    if group_col is None:
        # rank-free form of the same rule: u*W < cum_w (u is a 32-bit
        # dyadic rational, W a small int — the product is exact)
        u32 = md5_u32(F.col(id_col).cast("string"))
        expr = F.lit(names[-1])
        for name, cum in zip(names[:-1][::-1], cums[:-1][::-1]):
            expr = F.when(
                u32 * total < F.lit(cum * 4294967296), F.lit(name)
            ).otherwise(expr)
        return df.withColumn("split", expr)

    out = df
    if bucket_count is None:
        w = Window.partitionBy(group_col).orderBy(
            hash_uniform(F.col(id_col)), F.col(id_col)
        )
        r = F.row_number().over(w)
        n = F.count("*").over(Window.partitionBy(group_col))
    else:
        B = int(bucket_count)
        work = df.withColumn("_u", hash_uniform(F.col(id_col))).withColumn(
            "_bkt", F.least(F.floor(F.col("_u") * B), F.lit(B - 1)).cast("int")
        )
        out = bucketed_rank(
            work, [group_col], ["_bkt"], ["_u", id_col], rank="_r", total="_n"
        )
        r, n = F.col("_r") + 1, F.col("_n")
    expr = F.lit(names[-1])
    for name, cum in zip(names[:-1][::-1], cums[:-1][::-1]):
        expr = F.when(r * total <= n * cum, F.lit(name)).otherwise(expr)
    out = out.withColumn("split", expr)
    return out if bucket_count is None else out.drop("_u", "_bkt", "_r", "_n")


def _checked_cluster_reps(
    clusters: DataFrame, id_col: str, fn_name: str
) -> DataFrame:
    """(node, component) -> (id_col, _rep) with a DUPLICATE-NODE guard:
    `connected_components` output is clean, but the API docstrings
    explicitly invite landed/merged cluster tables, where a
    stale or badly-merged append can repeat a node — and a repeated
    node silently DUPLICATES corpus rows through the left join. One
    cheap aggregate (count vs count_distinct, mirroring the
    weights-table guard at packing.py `_weights_table`) raises instead.
    NULL nodes are rejected too: they never equi-join, so the row's
    membership would silently vanish."""
    rep = clusters.select(
        F.col("node").cast("long").alias(id_col),
        F.col("component").cast("long").alias("_rep"),
    )
    row = rep.agg(
        F.count("*").alias("_n"),
        F.count_distinct(id_col).alias("_nd"),
        F.count_if(F.col(id_col).isNull()).alias("_nnull"),
    ).first()
    if row["_nnull"]:
        raise ValueError(
            f"{fn_name}: cluster rows with NULL node — NULL keys never "
            "equi-join, so the membership would silently vanish"
        )
    if row["_n"] != row["_nd"]:
        raise ValueError(
            f"{fn_name}: duplicate node rows in the cluster table — "
            "the join would duplicate corpus rows"
        )
    return rep


def assign_splits_clustered(
    df: DataFrame,
    clusters: DataFrame,
    weights: "Sequence[tuple[str, int]]" = (
        ("train", 8), ("val", 1), ("test", 1),
    ),
    id_col: str = "doc_id",
) -> DataFrame:
    """LEAKAGE-SAFE split assignment: the per-doc `assign_splits` hash
    can land two NEAR-DUPLICATE documents (same MinHash/semantic
    cluster) in different splits, leaking
    training content into val/test — the classic eval-inflation bug.
    The fix is a composition of pieces the engine already has: split by
    the md5 hash of the cluster REPRESENTATIVE (the minimum doc id of
    the connected component — exactly the `component` label
    `dedup.connected_components` / the landed incremental cluster table
    emit), so every member of a cluster shares one split by
    construction; documents in no cluster hash their own id, which is
    BIT-IDENTICAL to plain `assign_splits` — adding cluster information
    only ever moves clustered docs, never reshuffles the rest.

    Stability under corpus growth: a doc's split changes only if its
    cluster REPRESENTATIVE changes (a new smaller-id member joins its
    component) — the unavoidable minimum for the no-straddling
    guarantee; singletons keep the per-doc stability of
    `assign_splits`.

    ``clusters``: a (node, component) table over the clustered subset
    (both castable to long). Plan shape at 100 TB: one keyed equi-join
    against the cluster table (near-dup members are a small fraction of
    the corpus — AQE broadcasts when it fits) followed by the pure
    codegen hash-split scan; no window, no global sort.

    Returns ``df`` + a ``split`` column."""
    rep = _checked_cluster_reps(clusters, id_col, "assign_splits_clustered")
    work = df.join(rep, id_col, "left").withColumn(
        "_rep", F.coalesce(F.col("_rep"), F.col(id_col).cast("long"))
    )
    return assign_splits(work, weights=weights, id_col="_rep").drop("_rep")


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling", arXiv:2302.03169):
# select raw-corpus documents whose hashed-n-gram distribution looks
# like a TARGET corpus, by importance weights under two bag-of-hashed-
# n-grams models. Beyond-reference addition (no miletos counterpart);
# the curation tier's "pick data that looks like the good data" step.
#
# 100 TB shape: ONE n-gram explode + count pass per corpus reduced to
# an m-row bucket table (m is a constant, default 64 — the paper uses
# 10k; both are broadcast-sized), then scoring the raw corpus is a
# broadcast hash join + map-side sum — no shuffle wider than the
# per-doc aggregate. Selection is a top-k (TakeOrderedAndProject:
# per-partition partial top-k, no global sort). Everything is
# engine-exact up to ln (quantized before ranking, the tfidf stance).
# ---------------------------------------------------------------------------


def _md5_bucket(col: Column, m: int) -> Column:
    """Deterministic n-gram -> bucket in [0, m): `md5_u32` mod m —
    replayed by the DuckDB oracle as `_sql_md5_32 % m`."""
    return F.pmod(md5_u32(col), F.lit(m))


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 64,
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Explode each document into its unigram+bigram hash buckets
    (one row per n-gram INSTANCE — counts, not presence). Tokens and
    bigrams come from one array projection (the `bigram_logprob`
    shifted-slice idiom: no self-join); docs with no tokens emit no
    rows. Returns (id_col, *keep_cols, bucket)."""
    keep = list(keep_cols)
    arr = df.select(
        F.col(id_col),
        *keep,
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: F.length(t) > 0,
        ).alias("_t"),
    ).filter(F.size("_t") > 0)
    n = F.size("_t")
    uni = arr.select(id_col, *keep, F.explode("_t").alias("_g"))
    big = (
        arr.filter(n >= 2)
        .select(
            id_col,
            *keep,
            F.explode(
                F.zip_with(
                    F.slice(F.col("_t"), 1, n - 1),
                    F.slice(F.col("_t"), 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("_g"),
        )
    )
    grams = uni.unionByName(big)
    return grams.select(
        id_col, *keep, _md5_bucket(F.col("_g"), m_buckets).alias("bucket")
    )


def dsir_bucket_logratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 64,
) -> DataFrame:
    """The m-row importance model: per bucket b,

        logratio(b) = ln((ct_b + 1) / (Ct + m)) - ln((cr_b + 1) / (Cr + m))

    with ct/cr the bucket's n-gram counts in the target/raw corpus and
    Ct/Cr the corpus totals (add-one smoothing keeps every bucket
    finite). Buckets unseen in both corpora still get a row, so the
    scoring join never drops an n-gram. Returns (bucket, logratio) —
    m rows, broadcast-sized by construction."""
    spark = target.sparkSession
    tc = (
        hashed_ngram_buckets(target, text_col, id_col, m_buckets)
        .groupBy("bucket").agg(F.count("*").alias("ct"))
    )
    rc = (
        hashed_ngram_buckets(raw, text_col, id_col, m_buckets)
        .groupBy("bucket").agg(F.count("*").alias("cr"))
    )
    allb = spark.range(m_buckets).select(F.col("id").alias("bucket"))
    joined = (
        allb.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        # pin the m-row count table (repo lineage-pinning convention):
        # every downstream reference (totals, ratios, the scoring
        # broadcast) would otherwise re-trigger BOTH full gram scans —
        # at 100 TB that is corpus passes, not plan nodes
        .localCheckpoint(eager=True)
    )
    tot = joined.agg(
        F.sum("ct").alias("tot_t"), F.sum("cr").alias("tot_r")
    )
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "ct",
        "cr",
        (
            F.log((F.col("ct") + 1).cast("double"))
            - F.log((F.col("tot_t") + m_buckets).cast("double"))
            - F.log((F.col("cr") + 1).cast("double"))
            + F.log((F.col("tot_r") + m_buckets).cast("double"))
        ).alias("logratio"),
    )


def dsir_select(
    raw: DataFrame,
    target: "DataFrame | None",
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 64,
    model: "DataFrame | None" = None,
) -> DataFrame:
    """Importance-resample ``k`` raw documents toward the target
    distribution: per-doc log-weight = sum of its n-gram buckets'
    logratios, then Gumbel top-k (Plackett-Luce sampling WITHOUT
    replacement proportional to softmax of the log-weights — the
    paper's resampling step, derandomized): the Gumbel noise is
    g = -ln(-ln(u)) with u the md5 hash uniform of the doc id, so the
    selection is a pure function of the corpus and reproducible in the
    DuckDB oracle. Ranking uses the QUANTIZED key (then id) — the
    tfidf quantize-then-rank stance, since ln is only ~1-ulp portable.

    Returns the k selected raw rows with (logw_q, key_q) attached,
    ordered by (key_q desc, id). Pass a prebuilt (bucket, logratio)
    ``model`` (e.g. `landing.dsir_logratios_from_landed`) to skip the
    two-corpus fit — `target` is ignored then.

    Scan budget: target 1×, raw 2× (model counts + scoring) — the
    gram explode is a pure scan+project, cheaper to recompute than to
    materialize corpus-sized; the m-row model itself is pinned
    (localCheckpoint in dsir_bucket_logratios) so no reference
    re-triggers a corpus pass."""
    from miletos_spark.functions.scalars import quantize

    if model is None:
        model = dsir_bucket_logratios(
            target, raw, text_col, id_col, m_buckets
        )
    # Scoring is the PACKED-MODEL FOLD (shared with the streaming
    # deployment): the m-row model collapses to one broadcast row and
    # each raw doc folds its grams through the array — no explode, no
    # groupBy, no score⋈raw self-join (the first form's SortMergeJoin
    # re-shuffled the whole raw corpus on doc_id just to re-attach its
    # own aggregate). One raw scan straight into the top-k.
    packed = dsir_pack_model(model)
    # Floor u at 2^-32: u = 0 (md5 prefix all-zero, p = 2^-32) would
    # make ln(u) null in Spark and an ERROR in DuckDB — the floor is
    # identical in both engines, so the key stays engine-exact.
    u = F.greatest(
        hash_uniform(F.col(id_col)), F.lit(1.0 / TWO_32)
    )
    keyed = (
        raw.withColumn(
            "_t",
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: F.length(t) > 0,
            ),
        )
        .crossJoin(F.broadcast(packed))
        .withColumn("_logw", dsir_logw_fold("_t", "lr_arr", m_buckets))
        .withColumn("_g", -F.log(-F.log(u)))
        .select(
            "*",
            quantize(F.col("_logw"), 6).alias("logw_q"),
            quantize(F.col("_logw") + F.col("_g"), 6).alias("key_q"),
        )
        .drop("_t", "lr_arr", "_logw", "_g")
    )
    return keyed.orderBy(F.col("key_q").desc(), id_col).limit(k)


def corpus_drift(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 64,
) -> DataFrame:
    """Corpus drift monitor: per group (source / crawl / time slice),
    the KL divergence of the group's hashed-n-gram distribution from
    the whole corpus's —

        KL(p_g || p) = sum_b p_gb * ( ln p_gb - ln p_b )

    over the same add-one-smoothed m-bucket model DSIR uses (every
    bucket contributes, including group-zero buckets: smoothing keeps
    ln finite). The observability twin of `dsir_select`: a spiking
    KL(source) is a crawl gone off-distribution BEFORE it trains.

    ONE gram scan: the global bucket table is the group table
    re-aggregated (sum over groups), not a second corpus pass; the
    per-group model is |groups|×m rows, built by cross-joining the
    distinct groups with the bucket range so zero-count cells exist.
    Returns (group_col, n_grams, kl_q) with kl quantized at 6 (ln
    portability — the tfidf stance)."""
    from miletos_spark.functions.scalars import quantize

    spark = df.sparkSession
    m = m_buckets
    gc = (
        hashed_ngram_buckets(
            df, text_col, id_col, m, keep_cols=(group_col,)
        )
        .groupBy(group_col, "bucket")
        .agg(F.count("*").alias("c_gb"))
        # pin the |groups|x m count table: glob/tot/cells each
        # reference it, and unpinned each reference re-runs the gram
        # scan (the one corpus pass this op is allowed)
        .localCheckpoint(eager=True)
    )
    glob = gc.groupBy("bucket").agg(F.sum("c_gb").alias("c_b"))
    tot = gc.agg(F.sum("c_gb").alias("c_all"))
    groups = gc.select(group_col).distinct()
    cells = (
        groups.crossJoin(
            spark.range(m).select(F.col("id").alias("bucket"))
        )
        .join(gc, [group_col, "bucket"], "left")
        .join(F.broadcast(glob), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            group_col,
            F.coalesce("c_gb", F.lit(0)).alias("c_gb"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
            "c_all",
        )
    )
    gt = cells.groupBy(group_col).agg(
        F.sum("c_gb").alias("c_g")
    )
    p_gb = (F.col("c_gb") + 1).cast("double") / (F.col("c_g") + m).cast("double")
    p_b = (F.col("c_b") + 1).cast("double") / (F.col("c_all") + m).cast("double")
    kl = cells.join(F.broadcast(gt), group_col).groupBy(group_col).agg(
        F.max("c_g").cast("long").alias("n_grams"),
        F.sum(p_gb * (F.log(p_gb) - F.log(p_b))).alias("_kl"),
    )
    return kl.select(
        group_col, "n_grams", quantize(F.col("_kl"), 6).alias("kl_q")
    )


def dsir_pack_model(model: DataFrame) -> DataFrame:
    """Pack the m-row bucket model into ONE row holding the logratio
    array indexed by bucket (the `assign_cells_2l` packed-broadcast
    stance): the streaming scorer cross-joins this single row onto the
    firehose and evaluates per-doc log-weights as a pure per-row fold —
    no explode, no stateful groupBy, no watermark. Returns
    (lr_arr array<double>)."""
    return model.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "logratio"))),
            lambda s: s["logratio"],
        ).alias("lr_arr")
    )


def dsir_logw_fold(tokens_col: str, lr_arr_col: str, m_buckets: int) -> Column:
    """Per-row importance log-weight: fold the doc's unigram+bigram
    stream through the packed logratio array (element_at is 1-based).
    `tokens_col` must be a REAL attribute (the HOF re-evaluation trap);
    empty token arrays fold to 0.0 — the same null-model stance as
    `dsir_select`'s left-join coalesce."""
    t = F.col(tokens_col)
    n = F.size(t)
    grams = F.concat(
        t,
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.aggregate(
        grams,
        F.lit(0.0),
        lambda acc, g: acc
        + F.element_at(
            F.col(lr_arr_col), (_md5_bucket(g, m_buckets) + 1).cast("int")
        ),
    )
