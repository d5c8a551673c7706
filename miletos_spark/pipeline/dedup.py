"""Deduplication operators over a `documents(doc_id, text, ...)` table.

Exact dedup is a hash-groupBy (one shuffle on a 128-bit digest — at
100 TB this is the canonical map-side-combine pattern). Near-dup comes
in three flavors mirroring standard large-corpus practice:

- MinHash + LSH: shingle → k minhashes → band into b buckets →
  self-join on (band, bucket-hash) → candidate pairs. The join key is
  the band hash, so the shuffle is on small keys and candidate
  verification happens only within buckets (no all-pairs blowup).
- SimHash: 64-bit fingerprint; near-dups share most bits — banded
  equality join on 4×16-bit chunks finds ≤k-bit-distance candidates.
- N-gram Jaccard: exact verification kernel for candidate pairs.

Every bucketed self-join goes through `pairs_by_key` (direct join, or
block-decomposed when a bucket is hot), and identical members collapse
before the join (`fp_member_pairs`), so replica hubs cost output-sized
work.

All hashing uses xxhash64/crc32 (Spark built-ins, JVM-side); no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Group identical texts by md5 digest; keep the lowest id as the
    canonical representative. Returns (text_hash, n_dups, keep_id)."""
    txt = F.col(text_col)
    if normalize:
        txt = F.lower(F.regexp_replace(txt, r"\s+", " "))
    return (
        df.select(F.md5(txt).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def shingle_array(
    df: DataFrame, text_col: str = "text", k: int = 5, distinct: bool = True
) -> DataFrame:
    """Add a character-k-gram shingle array column (distinct by
    default; pass distinct=False when the consumer dedups itself —
    array_distinct is O(len²) string compares in interpreted HOF mode).

    Two projections on purpose: the normalized string must be a real
    attribute before the per-position lambda references it. Inlined (one
    withColumn) the lower+regexp_replace would re-run once per shingle
    position — len(text)× the work — because CollapseProject substitutes
    the expression into the lambda body and higher-order functions are
    interpreted (CodegenFallback), with no cross-lambda subexpression
    elimination."""
    normed = df.withColumn(
        "_norm", F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )
    n = F.length(F.col("_norm"))
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.substr(F.col("_norm"), i, F.lit(k)))
    if distinct:
        sh = F.array_distinct(sh)
    return normed.withColumn("shingles", sh).drop("_norm")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 9,
    num_hashes: int = 32,
    partitions: int | None = None,
) -> DataFrame:
    """MinHash signature per document. Returns (id, sig ARRAY<BIGINT>).

    Cost model: string hashing dominates, so each shingle is xxhash64'd
    exactly ONCE; the `num_hashes` families are derived by affine mixing
    (universal hashing), which is a multiply-add per shingle instead of
    a rehash. The whole signature is ONE `F.aggregate` pass over the
    shingle-hash array with an array<long> accumulator — Catalyst's
    projection collapse would otherwise inline the (O(len²)
    array_distinct) shingle expression once per hash family. All
    JVM-side: no shuffle until the LSH band join.

    Small inputs arrive as one parquet task; `partitions` (default
    defaultParallelism) spreads the CPU-bound projection first.
    """
    import random

    # Universal hashing ((a*h + b) mod p, p = 2^31-1): the modular wrap
    # is what de-correlates the families — a plain affine map is
    # monotonic and every slot would pick the same argmin shingle.
    # 32-bit domain keeps products under 2^63 (Spark 4 ANSI mode throws
    # on long overflow).
    MERSENNE = (1 << 31) - 1
    rng = random.Random(42)
    params = [
        (rng.randrange(1, MERSENNE), rng.randrange(MERSENNE))
        for _ in range(num_hashes)
    ]
    ab = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params]
    )
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    # NON-distinct shingles on purpose: min over duplicates equals min
    # over the distinct set, and array_distinct is O(len²) string
    # compares in interpreted HOF mode — the dominant cost here.
    normed = df.repartition(partitions).select(
        F.col(id_col),
        F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("_norm"),
    )
    nn = F.length(F.col("_norm"))
    idx = F.sequence(F.lit(1), F.greatest(nn - (k - 1), F.lit(1)))
    with_sh = normed.withColumn(
        "shingles", F.transform(idx, lambda i: F.substr(F.col("_norm"), i, F.lit(k)))
    )
    h = F.transform(
        "shingles", lambda s: F.xxhash64(s).bitwiseAND(F.lit(0xFFFFFFFF))
    )
    init = F.array_repeat(F.lit(MERSENNE).cast("long"), num_hashes)
    sig = F.aggregate(
        h,
        init,
        lambda acc, hv: F.zip_with(
            acc,
            ab,
            lambda m, p: F.least(m, F.pmod(hv * p["a"] + p["b"], F.lit(MERSENNE))),
        ),
    )
    return with_sh.select(F.col(id_col), sig.alias("sig"))


def lsh_bands(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    num_hashes: int | None = None,
) -> DataFrame:
    """Explode a MinHash signature table into (id, band, bhash) — the
    LSH join-key table. Shared by the compute-on-read path and the
    write-time landing job (`pipeline.landing.land_dedup_index`), which
    persists it partitioned by band. Pass `num_hashes` explicitly for
    STREAMING inputs — the default probes the signature width with a
    `.first()`, which is illegal on an unstarted stream."""
    n = (
        num_hashes
        if num_hashes is not None
        else sigs.select(F.size("sig")).first()[0]
    )
    rows_per_band = n // bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bhash")


# Rows per block when a hot bucket's self-join is block-decomposed
# (`pairs_by_key`).
PAIR_BLOCK = 128
# Largest LSH band bucket joined as raw rows (`lsh_pairs_from_bands`);
# collapsing identical documents first costs four more Spark jobs
# (+0.5 s on the 40k-row sf0.1 band table, 4 cores).
HUB_BUCKET = 16


def _max_bucket(rows: DataFrame, key_cols: list[str]) -> int:
    """Row count of the largest `key_cols` bucket (one job)."""
    return (
        rows.groupBy(*key_cols)
        .agg(F.count("*").alias("_c"))
        .agg(F.max("_c").alias("m"))
        .first()["m"]
    ) or 0


def pairs_by_key(
    rows: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """Every unordered pair of rows sharing `key_cols` — the bucketed
    self-join under every near-duplicate pair generator. Returns the
    key columns plus `{c}_a` and `{c}_b` per payload column.

    Pair order: the FIRST payload column orders each pair,
    `{p}_a < {p}_b`, so a pair appears once per shared key and rows
    that tie on it never pair.

    Cutover: when no bucket holds more than `PAIR_BLOCK` rows the
    answer is one direct keyed self-join. Otherwise the join is
    block-decomposed: rows are numbered into blocks of `PAIR_BLOCK`
    within their bucket in payload order, the left side is repeated
    for every partner block at or after its own, and the join key
    becomes (key, partner block), so no task ever holds a hot
    bucket's whole pair set. Both branches return the same rows.

    `max_bucket` is the largest bucket's row count when it is known
    (a landed index's write-time stat); construction then runs no
    job. With None, one probe job runs at construction, and `rows`
    should be pinned by the caller: the probe and both join sides
    read it."""
    from pyspark.sql import Window

    p0 = payload_cols[0]

    def side(df: DataFrame, s: str, *extra: str) -> DataFrame:
        return df.select(
            *key_cols, *extra,
            *[F.col(c).alias(f"{c}_{s}") for c in payload_cols],
        )

    if max_bucket is None:
        max_bucket = _max_bucket(rows, key_cols)
    if max_bucket <= PAIR_BLOCK:
        pairs = side(rows, "a").join(side(rows, "b"), key_cols)
    else:
        w = Window.partitionBy(*key_cols).orderBy(p0)
        blocked = rows.withColumn(
            "_blk",
            F.floor((F.row_number().over(w) - 1) / PAIR_BLOCK).cast("int"),
        )
        nblk = blocked.groupBy(*key_cols).agg(
            (F.max("_blk") + 1).alias("_nb")
        )
        left = blocked.join(nblk, key_cols).withColumn(
            "_pb", F.explode(F.sequence(F.col("_blk"), F.col("_nb") - 1))
        )
        right = blocked.withColumn("_pb", F.col("_blk"))
        pairs = (
            side(left, "a", "_pb")
            .join(side(right, "b", "_pb"), [*key_cols, "_pb"])
            .drop("_pb")
        )
    return pairs.filter(F.col(f"{p0}_a") < F.col(f"{p0}_b"))


def fp_member_pairs(
    members: DataFrame,
    near: DataFrame,
    max_class: int | None = None,
) -> DataFrame:
    """Expand a near relation over DISTINCT fingerprints back into
    member pairs — the collapse → near join → expansion shape that
    keeps every fingerprint join hub-safe.

    `members` has one row per member: its fingerprint `fp` and its
    payload columns (all the others). `near` is (fp_a, fp_b, *dist)
    over distinct fingerprints, each unordered pair once. Returns
    `{c}_a`, `{c}_b` per payload column plus near's `dist` columns:
    every pair of members whose fingerprints are identical (dist 0) or
    near, ordered by the first payload column as in `pairs_by_key`
    (ties never pair).

    Identical fingerprints pair within their class through
    `pairs_by_key` (`max_class`, the largest class, is its
    `max_bucket`); near ones through two keyed member joins. Join work
    is quadratic only in distinct near fingerprints; every expansion
    row is an output row."""
    payload_cols = [c for c in members.columns if c != "fp"]
    p0 = payload_cols[0]
    dist = [c for c in near.columns if c not in ("fp_a", "fp_b")]
    zero = pairs_by_key(members, ["fp"], payload_cols, max_class).select(
        *[f"{c}_{s}" for s in "ab" for c in payload_cols],
        *[F.lit(0).cast(near.schema[c].dataType).alias(c) for c in dist],
    )
    x = members.select(
        F.col("fp").alias("fp_a"),
        *[F.col(c).alias(f"{c}_x") for c in payload_cols],
    )
    y = members.select(
        F.col("fp").alias("fp_b"),
        *[F.col(c).alias(f"{c}_y") for c in payload_cols],
    )
    x_first = F.col(f"{p0}_x") < F.col(f"{p0}_y")

    def pick(c: str, first: str, second: str) -> "F.Column":
        return F.when(x_first, F.col(f"{c}_{first}")).otherwise(
            F.col(f"{c}_{second}")
        )

    cross = (
        near.join(x, "fp_a")
        .join(y, "fp_b")
        .filter(F.col(f"{p0}_x") != F.col(f"{p0}_y"))
        .select(
            *[pick(c, "x", "y").alias(f"{c}_a") for c in payload_cols],
            *[pick(c, "y", "x").alias(f"{c}_b") for c in payload_cols],
            *dist,
        )
    )
    return zero.unionByName(cross)


def lsh_pairs_from_bands(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs from an (id, band, bhash) table: every distinct
    (id_a, id_b), id_a < id_b, sharing at least one (band, bhash)
    bucket. Works identically on the landed band table and a freshly
    exploded one.

    Hub-safe: once a bucket exceeds `HUB_BUCKET` rows, documents with
    identical band-hash vectors form one class, keyed on the vector
    itself (a hash of the vector could merge two classes that share no
    band). Only the distinct vectors enter the band join
    (`pairs_by_key`), and member pairs expand through
    `fp_member_pairs`. Two classes share a band exactly when all their
    members do, so the pair set equals the raw-row band join, while k
    replicas cost k² rows instead of bands·k². Below the cutover the
    raw rows join directly: at most `HUB_BUCKET` join rows per band
    row, without the collapse's extra shuffle stages.

    `max_bucket` is the largest (band, bhash) bucket's row count, as
    `landing.land_dedup_index` records it; it bounds both the class
    sizes and the distinct-vector buckets. With None it is probed at
    construction, so an expensive `banded` should be pinned first."""
    if max_bucket is None:
        max_bucket = _max_bucket(banded, ["band", "bhash"])
    rows = banded.select(F.col(id_col).alias("id"), "band", "bhash")
    if max_bucket <= HUB_BUCKET:
        return (
            pairs_by_key(rows, ["band", "bhash"], ["id"], max_bucket)
            .select("id_a", "id_b")
            .distinct()
        )
    members = rows.groupBy("id").agg(
        F.array_sort(F.collect_set(F.struct("band", "bhash"))).alias("fp")
    )
    class_bands = (
        members.select("fp")
        .distinct()
        .select("fp", F.explode("fp").alias("_bb"))
        .select("fp", "_bb.band", "_bb.bhash")
    )
    near = (
        pairs_by_key(class_bands, ["band", "bhash"], ["fp"], max_bucket)
        .select("fp_a", "fp_b")
        .distinct()
    )
    return fp_member_pairs(members, near, max_bucket)


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
) -> DataFrame:
    """LSH: split the signature into `bands` rows-per-band chunks; docs
    sharing any band chunk are candidates. Returns distinct (id_a, id_b)
    with id_a < id_b (`lsh_pairs_from_bands`: hub-safe on replicas).
    The band table is pinned: the bucket-size probe and the join both
    read it, and it carries the signature work."""
    banded = lsh_bands(sigs, id_col=id_col, bands=bands)
    return lsh_pairs_from_bands(
        banded.localCheckpoint(eager=True), id_col=id_col
    )


def simhash_64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: for each bit position,
    sum +1/−1 votes weighted by token hash bits; fingerprint bit = sign.

    Pure column expressions: token array → per-bit vote via
    aggregate(); no UDF, no shuffle.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    h = F.transform(toks, lambda t: F.xxhash64(t))
    d = df.select(F.col(id_col), h.alias("_h"))

    # ONE aggregate with a 64-long vote-vector accumulator (the
    # `simhash_md5`/`minhash_signatures` pattern) — NOT 64 separate
    # folds: that shape re-walks the token array per bit (64x compute)
    # and its expression tree overflows the JVM 64KB codegen method
    # limit, dropping the whole stage to interpreted eval.
    idx = F.array(*[F.lit(i) for i in range(64)])
    masks = F.array(*[
        F.lit(-(2**63) if bit == 63 else (1 << bit)).cast("long")
        for bit in range(64)
    ])
    votes = F.aggregate(
        F.col("_h"),
        F.array_repeat(F.lit(0), 64),
        # bit test via the mask array: element_at is 1-based; bitwiseAND
        # is a Column method (F.shiftright mis-dispatches inside HOF
        # lambdas). Bit 63's mask is long.min in two's complement.
        lambda acc, x: F.zip_with(
            acc, idx,
            lambda v, j: v + F.when(
                x.bitwiseAND(F.element_at(masks, j + F.lit(1))) != 0, 1
            ).otherwise(-1),
        ),
    )
    dv = d.select(F.col(id_col), votes.alias("_v"))
    fp = F.lit(0).cast("long")
    for bit in range(64):
        mask = -(2**63) if bit == 63 else (1 << bit)
        fp = fp + F.when(
            F.col("_v")[bit] > 0, F.lit(mask).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return dv.select(F.col(id_col), fp.alias("simhash"))


HEX_DIGITS = "0123456789abcdef"


def simhash_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash_hex",
) -> DataFrame:
    """64-bit SimHash as a 16-hex-char STRING, token hash = md5 prefix.

    The md5hex trick (same as `doc_fingerprint`): DuckDB can compute the
    identical token hashes, so — unlike the xxhash64 `simhash_64` — the
    fingerprints themselves are oracle-checkable. All derivation is
    integer arithmetic (nibble extraction, vote counts, sign), so
    engine parity is exact by construction, no float rounding anywhere.

    Single pass: one md5 per token (projected to a real attribute
    first — the HOF-inlining trap), then ONE aggregate with a 64-long
    vote-vector accumulator (the `minhash_signatures` pattern).
    """
    from pyspark.sql import Column

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hx = F.transform(toks, lambda t: F.substring(F.md5(t), 1, 16))
    d = df.select(F.col(id_col), hx.alias("_hx"))

    idx = F.array(*[F.lit(i) for i in range(64)])

    def nibble_of(h: Column, j: Column) -> Column:
        # hex char at position j div 4 (1-based), as its 0-15 value
        ch = h.substr(F.lit(1) + F.floor(j / 4).cast("int"), F.lit(1))
        return F.call_function("instr", F.lit(HEX_DIGITS), ch) - F.lit(1)

    def bit_of(h: Column, j: Column) -> Column:
        # bit j%4 of the nibble; 2^(j%4) over {1,2,4,8} is float-exact
        p = F.pow(F.lit(2.0), (j % 4).cast("double"))
        return F.floor(nibble_of(h, j) / p).cast("int") % 2

    votes = F.aggregate(
        F.col("_hx"),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc, idx, lambda v, j: v + bit_of(h, j) * 2 - 1
        ),
    )
    dv = d.select(F.col(id_col), votes.alias("_v"))

    # hex assembly generated as SQL text, parsed in ONE F.expr (r14,
    # the `landing._argmin_cell_expr` lesson): the Column spelling was
    # ~250 py4j round-trips of flat driver-side construction tax per
    # invocation. Parsed tree ≡ the old one (CASE WHEN over the 0-based
    # `_v[i]` subscript, substr over the hex alphabet) — fingerprints
    # bit-identical (asserted in tests).
    chars = []
    for n in range(16):
        nib = " + ".join(
            f"(CASE WHEN _v[{4 * n + j}] > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(4)
        )
        chars.append(f"substr('{HEX_DIGITS}', ({nib}) + 1, 1)")
    fp = F.expr("concat(" + ", ".join(chars) + ")")
    return dv.select(F.col(id_col), fp.alias(out_col))


def simhash_hamming(a: "F.Column", b: "F.Column") -> "F.Column":
    """Exact Hamming distance between two 16-hex-char fingerprints:
    per 16-bit band, parse hex (conv), XOR, popcount (bit_count) — four
    compact JVM-side terms. The previous 64-term substr/floor spelling
    was correct but its expression tree, inlined into the join stage's
    filter AND projection, overflowed the 64KB codegen method limit and
    dropped the whole banded join to interpreted eval. (The DuckDB
    oracle keeps its own arithmetic spelling; only the integer result
    must agree.)"""
    total = None
    for n in range(4):
        ia = F.conv(F.substring(a, 1 + 4 * n, 4), 16, 10).cast("long")
        ib = F.conv(F.substring(b, 1 + 4 * n, 4), 16, 10).cast("long")
        term = F.bit_count(ia.bitwiseXOR(ib))
        total = term if total is None else total + term
    return total


def fp_bands(df: DataFrame, fp_col: str = "fp") -> DataFrame:
    """`df` with each row repeated once per 16-bit band of its
    16-hex-char fingerprint `fp_col`, adding (band, chunk). By
    pigeonhole, two fingerprints at Hamming ≤ 3 agree exactly on at
    least one of the 4 bands, so a band-equality join is a lossless
    candidate generator at that cut."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(fp_col, 1 + 4 * b, 4).alias("chunk"),
            )
            for b in range(4)
        ]
    )
    return df.select(*df.columns, F.explode(bands).alias("_bb")).select(
        *df.columns, "_bb.band", "_bb.chunk"
    )


def banded_fp_pairs_distinct(
    fps: DataFrame,
    fp_col: str = "fp",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Hamming-near pairs among the DISTINCT 16-hex-char fingerprints
    of `fps`: the `fp_bands` band join through `pairs_by_key`, then the
    exact 64-bit Hamming verify. Identical fingerprints enter once, so
    k replicas of one hash make one row, not a k² bucket. Returns
    (fp_a, fp_b, hamming) with fp_a < fp_b and
    1 ≤ hamming ≤ max_hamming.

    `max_bucket` is `pairs_by_key`'s, counted over distinct
    fingerprints (`landing.band_bucket_stats`' `max_bucket_distinct`).
    With None the distinct table is pinned, since the probe and both
    join sides read it."""
    d = fps.select(F.col(fp_col).alias("fp")).distinct()
    if max_bucket is None:
        d = d.localCheckpoint(eager=True)
    cands = (
        pairs_by_key(fp_bands(d), ["band", "chunk"], ["fp"], max_bucket)
        .select("fp_a", "fp_b")
        .dropDuplicates(["fp_a", "fp_b"])
    )
    return cands.withColumn(
        "hamming", simhash_hamming(F.col("fp_a"), F.col("fp_b"))
    ).filter(F.col("hamming") <= max_hamming)


def simhash_band_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs via the banded Hamming join promised at
    the top of this module: fingerprints split into 4 × 16-bit bands
    (`fp_bands`), the band-equality join over distinct fingerprints is
    lossless at Hamming ≤ 3 (`banded_fp_pairs_distinct`), and matches
    expand back to documents through `fp_member_pairs`, so identical
    boilerplate fingerprints never form a quadratic bucket. Returns
    (id_a, id_b, hamming), id_a < id_b — the same pair set as banding
    raw rows."""
    # Repartition the raw rows BEFORE the fingerprint HOF: a compact
    # corpus arrives as one scan partition and would hash on one core.
    par = df.sparkSession.sparkContext.defaultParallelism
    fps = simhash_md5(
        df.repartition(par), text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    members = fps.select(
        F.col("simhash_hex").alias("fp"), F.col(id_col).alias("id")
    )
    near = banded_fp_pairs_distinct(members, "fp", max_hamming)
    return fp_member_pairs(members, near)


def near_dup_pairs_bruteforce(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 9,
) -> DataFrame:
    """Exact all-pairs character-k-gram Jaccard ≥ threshold — the
    ground-truth near-dup detector (the verification oracle for the
    MinHash-LSH scale path). Returns (id_a, id_b, jaccard).

    NOT a nested-loop O(n²): inverted-index counting join — explode
    shingles, equi-join on the shingle, count common shingles per pair,
    then jaccard = common / (|A| + |B| − common). Pairs sharing zero
    shingles never materialize and every expression stays codegen-able.
    Cost is Σ_shingle freq²; on vocabulary-limited corpora this is the
    fastest exact strategy because the join only COUNTS (never
    materializes per-pair shingle arrays). For boilerplate-light
    corpora with a long-tail vocabulary, `near_dup_pairs_prefix`
    (PPJoin prefix filtering) prunes far harder — measured on the
    driver corpus (27k-token vocabulary, max shingle frequency 3825/5000
    docs) counting wins 32 s vs 135 s at sf0.1, because prefix
    filtering still admits millions of candidates that then each pay an
    array-intersection. Pick by corpus shape."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh = shingle_array(df, text_col=text_col, k=k).select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("sz")
    )
    tok = sh.select(
        F.col(id_col), F.col("sz"), F.explode("shingles").alias("tok")
    )
    a = tok.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "tok"
    )
    b = tok.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "tok"
    )
    common = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 9,
) -> DataFrame:
    """Exact near-dup pairs via PPJoin-style prefix filtering. Tokens
    get a global canonical order (ascending corpus frequency, rarest
    first); if J(A,B) ≥ t the prefixes of size |X| − ⌈t·|X|⌉ + 1 must
    share a token, so the candidate join runs only on prefix tokens —
    excluding hot shingles from the join key. Candidates are then
    verified exactly on the full shingle sets.

    The right strategy when the vocabulary is long-tailed (web text,
    code): prefixes are nearly unique and candidates ≈ true pairs. See
    `near_dup_pairs_bruteforce` for the corpus-shape tradeoff."""
    from pyspark.sql import Window

    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh = shingle_array(df, text_col=text_col, k=k).select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("sz")
    )
    tok = sh.select(
        F.col(id_col), F.col("sz"), F.explode("shingles").alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("_freq"))
    w = Window.partitionBy(id_col).orderBy(F.col("_freq").asc(), F.col("tok").asc())
    prefix = (
        tok.join(freq, "tok")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("sz") - F.ceil(threshold * F.col("sz")) + 1)
        .select(id_col, "sz", "tok")
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "tok"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "tok"
    )
    cands = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    scored = ngram_jaccard_pairs(df, cands, text_col=text_col, id_col=id_col, k=k)
    # checkpoint barrier before thresholding: the filter would otherwise
    # migrate into the hash join as a CodegenFallback condition
    scored = scored.localCheckpoint(eager=True)
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 9,
) -> DataFrame:
    """Exact Jaccard similarity on character-k-gram sets for candidate
    (id_a, id_b) pairs: |A∩B| / |A∪B| via array_intersect/array_union.
    The candidate table is the small side — broadcast both lookups."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # pinned once (r15): the shingle table feeds BOTH join lookups, and
    # unpinned each side re-ran the per-doc k-gram transform +
    # array_distinct (O(len²) interpreted HOF string compares — the
    # dominant per-row cost) over every candidate doc. 10×-volume A/B:
    # the verify pass dropped ~2× (see SCALE.md r15).
    sh = shingle_array(df, text_col=text_col, k=k).select(
        F.col(id_col), F.col("shingles")
    ).localCheckpoint(eager=True)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def token_ngram_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Exploded (id, md5(token n-gram)) rows — the unit of train/eval
    decontamination (the GPT-3/PaLM procedure: flag a training doc
    when it shares verbatim token n-grams with a benchmark document).

    Tokens are projected to a real attribute BEFORE the per-position
    lambda (the CollapseProject re-evaluation trap — see
    shingle_array); documents shorter than n contribute nothing, and
    each document's gram set is array_distinct'd before the explode so
    downstream joins count windows, not repetitions. md5 keeps the
    hash engine-portable for the oracle; at 100 TB swap xxhash64 in
    (same shape, 8-byte keys) the way simhash_64 does vs simhash_md5.
    """
    toked = df.select(
        id_col,
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
            " ",
        ).alias("_toks"),
    ).filter(F.size("_toks") >= n)
    idx = F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice("_toks", i, n)))
    )
    return toked.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram")
    )


def decontaminate(
    corpus_grams: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-corpus-document contamination summary against an eval-set
    gram table (columns: gram, eval_id): distinct matched n-grams and
    distinct benchmark docs hit. The eval side is the small one by
    construction (benchmarks are thousands of docs, the corpus is the
    100 TB side) — broadcast it so the corpus explode never shuffles
    before its per-doc aggregate."""
    return (
        corpus_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_hits"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def decontamination_report(
    hits: DataFrame,
    suites: DataFrame,
    doc_tokens: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """CONTAMINATION REPORT (r14, VERDICT r13 Missing #5) — the number
    a data card actually prints, per eval SUITE: which benchmark was
    hit, by how many training documents, what token mass a removal
    would delete, and the hit rate against the suite's size (the
    `pack_bins_report` analog for the decontamination tier; the decon
    family emits flagged pairs, this makes them actionable).

    ``hits``: (``id_col``, eval_id) flagged train-doc/eval-doc pairs —
    the unified seam every decon flavor already produces (the n-gram
    join's match pairs, `semantic_decontaminate`'s (id, eval_id,
    cos_sim) rows, the indexed form's output). Duplicates are fine
    (deduped here). ``suites``: an (eval_id, suite) membership table;
    each eval doc belongs to exactly ONE suite — duplicate or NULL
    eval_ids raise (a repeated row would double-count every matched
    pair in that suite, the same silent-duplication class as the
    cluster/weights guards). ``doc_tokens``: optional (``id_col``,
    n_tokens) for the removed-token-mass column; a train doc matched
    by two suites counts its mass in both (the per-suite view is the
    point — each benchmark owner sees their own damage).

    Suites with ZERO hits still appear (n=0, rate 0.0) — absence of
    contamination is the report's good news, not a missing row.

    100 TB shape: suites and the deduped hit pairs are benchmark-sized
    (broadcast); the only corpus-scale input is ``hits`` itself, which
    arrives pre-filtered to matches (bounded by contamination, not
    corpus size). One distinct + two tiny groupBys.

    Returns (suite, n_eval_docs, n_eval_docs_hit, hit_rate,
    n_train_docs, tokens_removed)."""
    chk = suites.agg(
        F.count("*").alias("_n"),
        F.count_distinct("eval_id").alias("_nd"),
        F.count_if(F.col("eval_id").isNull()).alias("_nnull"),
    ).first()
    if chk["_nnull"]:
        raise ValueError(
            "decontamination_report: suite rows with NULL eval_id — "
            "NULL keys never equi-join, the membership would vanish"
        )
    if chk["_n"] != chk["_nd"]:
        raise ValueError(
            "decontamination_report: duplicate eval_id rows in the "
            "suites table — every matched pair in that suite would "
            "double-count"
        )
    sized = suites.groupBy("suite").agg(
        F.count("*").alias("n_eval_docs")
    )
    pairs = (
        hits.select(id_col, "eval_id")
        .distinct()
        .join(F.broadcast(suites), "eval_id")
    )
    per = pairs.groupBy("suite").agg(
        F.count_distinct("eval_id").alias("n_eval_docs_hit"),
        F.count_distinct(id_col).alias("n_train_docs"),
    )
    agg_cols = ["n_eval_docs_hit", "n_train_docs"]
    if doc_tokens is not None:
        tok = (
            pairs.select("suite", id_col)
            .distinct()
            .join(doc_tokens, id_col)
            .groupBy("suite")
            .agg(F.sum("n_tokens").cast("long").alias("tokens_removed"))
        )
        per = per.join(tok, "suite", "left")
        agg_cols.append("tokens_removed")
    out = sized.join(per, "suite", "left").fillna(0, agg_cols)
    return out.select(
        "suite",
        "n_eval_docs",
        "n_eval_docs_hit",
        (
            F.col("n_eval_docs_hit") / F.col("n_eval_docs")
        ).alias("hit_rate"),
        "n_train_docs",
        *(["tokens_removed"] if doc_tokens is not None else []),
    )


def _union_find(edges: list) -> dict:
    """Driver-side union-find with min-label roots (path compression +
    union-by-min): the small-graph twin of the distributed star loop.
    Returns {node: min reachable id} for every node incident to an
    edge."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Distributed connected components over an undirected edge list via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", ACM SoCC 2014) — the dedup
    CLUSTERING step: near-dup PAIRS (LSH or exact) become groups with a
    canonical representative, so "keep one per group" is a groupBy, not
    a union-find on the driver.

    Pure DataFrame ops — each round is two keyed aggregations and two
    joins, no collect of anything graph-sized; converges in O(log²)
    rounds (2–4 in practice on near-dup graphs). Label monotonicity
    makes the (count, Σu, Σv) signature a safe fixpoint test. Returns
    (node, component) for every node incident to an edge, component =
    the minimum node id reachable."""
    e = (
        pairs.select(
            F.col(src_col).cast("long").alias("u"),
            F.col(dst_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # scale-adaptive cutover (same stance as the GP dense/state-space
    # switch, model/statespace.py): below `driver_threshold` DISTINCT
    # edges the alternating-star rounds are pure fixed overhead
    # (~10 scheduled shuffles per round for a graph that fits in one
    # task), so collect the BOUNDED edge list and union-find on the
    # driver — identical (node, min-id) output, measured ~5.4 s → ~0.2 s
    # on the 256-edge sf0.1 corpus graph. Above it (or with
    # driver_threshold=0, as the distributed-path tests pin) the star
    # loop runs with nothing driver-sized ever collected.
    if driver_threshold:
        # ONE job, not a count + a collect (r14): collect threshold+1
        # rows — if they all fit, that WAS the whole edge list
        head = e.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            comp = _union_find([(r["u"], r["v"]) for r in head])
            import numpy as np
            import pandas as pd

            # Arrow-backed local relation (r14): createDataFrame(list)
            # builds a Python-RDD-backed frame, and EVERY downstream
            # action on it pays a Python-runner round-trip per parent
            # slice (the `_write_local_table` trap) — in 4+ query paths
            # that consume these components via joins. The pandas/Arrow
            # path crosses the boundary ONCE at creation; rows/schema
            # identical.
            items = sorted(comp.items())
            pdf = pd.DataFrame(
                {
                    "node": np.fromiter(
                        (n for n, _ in items), dtype="int64", count=len(items)
                    ),
                    "component": np.fromiter(
                        (c for _, c in items), dtype="int64", count=len(items)
                    ),
                }
            )
            return pairs.sparkSession.createDataFrame(
                pdf, "node long, component long"
            )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # large-star: every neighbor larger than u links to u's min
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient (big → small); every small neighbor and u
        # itself link to the minimum small neighbor
        d = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        dj = d.join(mins2, "u")
        # localCheckpoint, not cache: each round references the prior
        # round's frame twice, so an un-truncated logical plan doubles
        # per iteration and the ANALYZER (not execution) goes
        # exponential by round 3 — checkpointing cuts the lineage so
        # every round starts from a materialized leaf
        e = (
            dj.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(dj.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = tuple(
            e.agg(
                F.count("*"), F.sum("u"), F.sum("v")
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternating-star rounds — the edge set is still moving, so "
            "labels would be WRONG (overlapping clusters), not merely "
            "approximate; raise max_iter"
        )
    out = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # roots have no outgoing star edge: they are their own component
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .join(e.select(F.col("u").alias("node")).distinct(), "node", "anti")
        .select("node", F.col("node").alias("component"))
    )
    return out.union(roots)


def dedup_keep_best(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """QUALITY-CANONICAL dedup survivors (r14, VERDICT r13 Missing #1):
    keep the BEST member of each near-dup cluster, not the minimum-id
    one. Every other dedup path in this module keeps the min id — an
    arbitrary crawl-order artifact that systematically discards better
    copies (the re-crawl that fixed the truncation, the mirror without
    the boilerplate). Production curation keeps the highest-QUALITY
    member; this is the composition of pieces the engine already
    computes — clusters from `connected_components` (or the landed
    incremental table) and a per-doc score from the quality funnel
    (`text.quality_logit`) or a trained probe (`classifier`).

    Representative = argmax over the cluster of (quantized score, then
    MIN id as the deterministic tie-break); singletons keep themselves.
    The score is QUANTIZED at ``decimals`` before the argmax (the
    quantize-then-rank stance, functions/scalars.quantize), so the
    decision is integer-exact and replayable cross-engine; NULL scores
    rank below every real score.

    100 TB plan shape: the argmax runs on a COLUMN-PRUNED (id, score)
    scan semi-joined to the cluster members (near-dup members are a
    small fraction of the corpus), as ONE struct-max groupBy — map-side
    partial aggregation, no window, no global sort. The output pass is
    a single full scan with two cluster-sized joins (members and
    per-component representatives — AQE broadcasts both when they
    fit). The cluster table goes through the same duplicate/NULL-node
    guard as `assign_splits_clustered` (a repeated node would silently
    duplicate corpus rows).

    Returns ``df``'s columns + (``representative``, ``kept``);
    ``filter(kept)`` is the curated corpus, the full frame is the
    audit trail (who survived, on whose behalf a row was dropped)."""
    from miletos_spark.functions.scalars import quantize
    from miletos_spark.pipeline.sampling import _checked_cluster_reps

    rep = _checked_cluster_reps(clusters, id_col, "dedup_keep_best")
    qs = F.coalesce(
        quantize(F.col(score_col).cast("double"), decimals),
        F.lit(float("-inf")),
    )
    scored = df.select(
        F.col(id_col), qs.alias("_qs")
    ).join(rep, id_col, "inner")
    best = (
        scored.groupBy("_rep")
        .agg(
            F.max(
                F.struct(
                    F.col("_qs").alias("s"),
                    (-F.col(id_col).cast("long")).alias("ni"),
                    F.col(id_col).alias("kid"),
                )
            ).alias("_b")
        )
        .select("_rep", F.col("_b.kid").alias("_keep_id"))
    )
    out = (
        df.join(rep, id_col, "left")
        .join(best, "_rep", "left")
        .select(
            *df.columns,
            F.coalesce(F.col("_keep_id"), F.col(id_col)).alias(
                "representative"
            ),
            (
                F.coalesce(F.col("_keep_id"), F.col(id_col))
                == F.col(id_col)
            ).alias("kept"),
        )
    )
    return out


def bloom_positions(
    df: DataFrame,
    key_col: str,
    n_bits: int = 65536,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter build as a DataFrame of DISTINCT set bit positions
    (a position row per hash per key, deduped): the incremental-crawl
    dedup primitive — land the seen-set's bloom once, check each new
    batch against it for the cost of a semi-join on ≤ n_bits rows
    instead of a join against the full corpus. n_bits rows bound the
    state regardless of corpus size (the classic space/fp tradeoff)."""
    hashes = F.array(*[
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ])
    return (
        df.select(F.explode(hashes).alias("pos"))
        .distinct()
    )


def bloom_membership(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str,
    id_col: str,
    n_bits: int = 65536,
    n_hashes: int = 4,
) -> DataFrame:
    """Check probe keys against a bloom position set: (id, maybe_seen).
    maybe_seen is TRUE iff ALL n_hashes positions are set — no false
    negatives by construction; false positives at the bloom's fp rate.
    The probe is deduped on (id, key) first: a batch carrying the same
    row twice (the premise of a dedup feed) would otherwise double its
    hit count past the == n_hashes test and turn a SEEN key into a
    false negative."""
    probe = probe.select(id_col, key_col).distinct()
    hashes = F.array(*[
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ])
    pos = probe.select(id_col, F.explode(hashes).alias("pos"))
    hits = (
        pos.join(bloom, "pos", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("_n_hit"))
    )
    return probe.select(id_col).join(hits, id_col, "left").select(
        id_col,
        (F.coalesce(F.col("_n_hit"), F.lit(0)) == n_hashes).alias("maybe_seen"),
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Line-level exact dedup across the whole corpus (the C4 /
    RefinedWeb repeated-boilerplate pass): explode each document into
    lines, keep only the globally FIRST occurrence of every distinct
    (normalized) line — first = smallest (id, line_no) — and reassemble
    each document from its surviving lines in original order.

    Plan: posexplode → one shuffle keyed on the line digest, where a
    partial-aggregable `min(struct(id, line_no, line))` picks the
    winner. NOT a `row_number` window: a window partition is one task,
    and the most common boilerplate line (empty string, cookie banner)
    — exactly the content this operator exists to find — lands millions
    of occurrences in one sorted partition at corpus scale. The
    min-struct agg needs no per-key sort and map-side-combines the hot
    key down to one row per input partition before the shuffle (skew
    probe: tests/test_dedup_strategies.py::test_dedup_lines_hot_key).
    Then one groupBy(id) to rebuild. No joins back to the corpus, no
    driver state.

    Returns (id, text_clean, n_lines_orig, n_lines_kept); documents
    whose every line was someone else's boilerplate come back with
    n_lines_kept = 0 and an empty text_clean."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_no", "line"
        ),
    )
    norm = F.lower(F.trim(F.col("line"))) if normalize else F.col("line")
    keyed = lines.withColumn("line_key", F.xxhash64(norm))
    # (id, line_no) is unique, so the struct min IS the first occurrence
    # — the trailing `line` field rides along and never breaks a tie.
    kept = (
        keyed.groupBy("line_key")
        .agg(F.min(F.struct(id_col, "line_no", "line")).alias("_w"))
        .select(
            F.col(f"_w.{id_col}").alias(id_col),
            F.col("_w.line_no").alias("line_no"),
            F.col("_w.line").alias("line"),
        )
    )
    totals = lines.groupBy(id_col).agg(
        F.count("*").alias("n_lines_orig")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_lines_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_lines_orig",
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias(
                "n_lines_kept"
            ),
        )
    )


def _gram_positions(
    df: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    """(id, pos, h): xxhash64 of every `min_len`-char window (1-based
    pos). O(total chars) rows, 8-byte keys; docs shorter than `min_len`
    yield no rows."""
    t = F.col(text_col)
    n = F.length(t)
    idx = F.when(
        n >= min_len, F.sequence(F.lit(1), n - (min_len - 1))
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col(id_col),
        F.explode(idx).alias("pos"),
        t.alias("_t"),
    ).select(
        id_col,
        "pos",
        F.xxhash64(F.substring(F.col("_t"), F.col("pos"), min_len)).alias(
            "h"
        ),
    )


def _non_canonical_grams(grams: DataFrame, id_col: str) -> DataFrame:
    """(id, pos) of every gram occurrence that is NOT the globally
    first (min (id, pos)) occurrence of its hash. Skew-safe: a
    partial-aggregable groupBy(h) + an AQE-skew-splittable join — never
    a row_number window over the hash (a hot boilerplate gram would
    serialize into one sorted window partition)."""
    firsts = (
        grams.groupBy("h")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct(id_col, "pos")).alias("_first"),
        )
        .filter(F.col("_cnt") >= 2)
        .select("h", "_first")
    )
    return (
        grams.join(firsts, "h")
        .filter(
            (F.col(id_col) != F.col(f"_first.{id_col}"))
            | (F.col("pos") != F.col("_first.pos"))
        )
        .select(id_col, "pos")
    )


def exact_substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
) -> DataFrame:
    """Exact-substring duplicate detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    suffix-array method's Spark-shaped equivalent): every `min_len`-char
    window that occurs more than once in the corpus marks a duplicated
    span; the globally FIRST occurrence (min (id, pos)) is the kept
    canonical copy and every other occurrence is a removal candidate.
    Overlapping/adjacent duplicate windows merge into maximal spans via
    the sorted-interval union (a per-doc window pass, no interval
    explosion).

    Plan: one explode to (id, pos, xxhash64-of-window) — O(total chars)
    rows, 8-byte keys (an md5 hex string key is 4× the shuffle bytes
    for the same identity; at ~1e12 grams the 64-bit birthday estimate
    is ~3e4 colliding pairs ≈ 1e-8 of grams spuriously marked — noise
    for a dedup pass) — then a `groupBy(h)` computing (count,
    min(struct(id, pos))) and a join of the grams against the dup-only
    hashes. NOT a `row_number` window over the hash: the most common
    20-gram (license headers, whitespace runs) — exactly what this
    operator hunts — would land millions of occurrences in one sorted
    window partition; the min-struct agg map-side-combines the hot key
    and the join side is AQE-skew-splittable. Finally one shuffle keyed
    on the doc (span merge; per-doc partitions are doc-length-bounded).
    No suffix array is materialized; the hash groupBy IS the duplicate
    lookup, which is the piece of the suffix-array method that needs to
    distribute at 100 TB.

    Returns one row per document: (id, n_dup_grams, n_dup_spans,
    dup_chars) — zeros for clean documents. `dup_chars` is the exact
    length of the union of this doc's non-canonical duplicated
    windows, i.e. how many characters the removal pass would cut."""
    from pyspark.sql import Window

    grams = _gram_positions(df, text_col, id_col, min_len)
    dups = _non_canonical_grams(grams, id_col)
    wd = Window.partitionBy(id_col).orderBy("pos")
    spans = dups.select(
        id_col,
        "pos",
        F.lead("pos").over(wd).alias("nxt"),
        F.lag("pos").over(wd).alias("prv"),
    )
    agg = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_grams"),
        F.sum(
            F.when(
                F.col("prv").isNull()
                | (F.col("pos") - F.col("prv") > min_len),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_dup_spans"),
        F.sum(
            F.when(F.col("nxt").isNull(), min_len).otherwise(
                F.least(F.col("nxt") - F.col("pos"), F.lit(min_len))
            )
        ).cast("long").alias("dup_chars"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022 §3 —
    the reference point of `exact_substring_dup_spans`): cut every
    non-canonical duplicated window from each document and emit the
    cleaned text. The globally first occurrence (min (id, pos)) of each
    `min_len`-gram survives; every other occurrence's `min_len`-char
    window is cut, with overlapping/adjacent windows merged into
    maximal spans first so each span is removed exactly once.

    Plan: the detection stages of `exact_substring_dup_spans` (explode
    → skew-safe groupBy(h) + join), then per-doc span merge (gap >
    min_len starts a new span; running-sum span ids over a doc-bounded
    window), then ONE collect of each doc's merged spans (bounded by
    len(text)/1 spans, in practice a handful) and a JVM-side
    `F.aggregate` fold that stitches the kept slices back together —
    no UDF, no per-char explode.

    Returns (id, text_clean, n_chars_cut, n_spans_cut); clean documents
    come back unchanged with zeros."""
    from pyspark.sql import Window

    grams = _gram_positions(df, text_col, id_col, min_len)
    dups = _non_canonical_grams(grams, id_col)
    wd = Window.partitionBy(id_col).orderBy("pos")
    flagged = dups.select(
        id_col,
        "pos",
        F.when(
            F.lag("pos").over(wd).isNull()
            | (F.col("pos") - F.lag("pos").over(wd) > min_len),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    ).withColumn(
        "_span",
        F.sum("_new").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = flagged.groupBy(id_col, "_span").agg(
        F.min("pos").alias("start"),
        (F.max("pos") + F.lit(min_len)).alias("end"),  # exclusive
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("start", "end"))
        ).alias("_spans"),
        F.count("*").cast("long").alias("n_spans_cut"),
    )
    t = F.col(text_col)
    stitched = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit("").alias("acc"), F.lit(1).alias("nxt")),
        lambda a, s: F.struct(
            F.concat(
                a["acc"], F.substring(t, a["nxt"], s["start"] - a["nxt"])
            ).alias("acc"),
            s["end"].alias("nxt"),
        ),
        lambda a: F.concat(
            a["acc"], F.substring(t, a["nxt"], F.length(t) - a["nxt"] + 1)
        ),
    )
    # explicit exchange before stitching the spans back onto their own
    # source lineage: when `df` is a UNION whose branches each end
    # hash-partitioned on the id (e.g. a semi-joined union feed), Spark
    # propagates the branches' claimed partitioning through the Union
    # while the physical RDD has the SUM of their partition counts —
    # the ensuing self-join zips 2N vs N partitions and throws
    # (reproduced under AQE-off/no-broadcast; tests/test_determinism).
    # The repartition count is deliberately DIFFERENT from the claimed
    # count: a same-(key, count) repartition is elided as redundant,
    # which re-exposes the lying claim.
    ps = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    out = (
        df.select(id_col, text_col)
        .repartition(2 * ps, id_col)
        .join(per_doc, id_col, "left")
    )
    clean = F.when(F.col("_spans").isNull(), t).otherwise(stitched)
    return out.select(
        F.col(id_col),
        clean.alias("text_clean"),
        (F.length(t) - F.length(clean)).cast("long").alias("n_chars_cut"),
        F.coalesce("n_spans_cut", F.lit(0)).alias("n_spans_cut"),
    )
