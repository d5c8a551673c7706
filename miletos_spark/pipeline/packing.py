"""Sequence packing: assign documents to fixed-capacity training
context windows (concat-and-chunk, the GPT-style grouping where the
token stream is concatenated in a deterministic order and split every
``capacity`` tokens).

The bin a document starts in is a pure function of the running token
offset, so packing is a keyed window prefix sum — no driver loop, no
Python in the hot path, and the whole layout is reproducible from the
table alone (the property a resumable 100 TB tokenize-and-pack job
needs). Documents are packed WITHIN a (lang, source) shard: that is
how training mixtures are materialized in practice (each shard is
packed independently so mixing weights stay adjustable), and it keeps
every window partition bounded by a shard, not the corpus. For a
single shard too large for one task, the distributed two-pass prefix
sum used by gap sessionization (operators/sessionize.py) applies
unchanged; the registry query uses the keyed window form.

Beyond-reference addition (no miletos counterpart); part of the
training-data pipeline suite alongside dedup/sampling/quality.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from miletos_spark.pipeline.sampling import TWO_32, bucketed_rank, md5_u32


def running_offsets(
    df: DataFrame,
    token_col: str = "n_tokens",
    group_cols: Sequence[str] = ("lang", "source"),
    id_col: str = "doc_id",
    bucket_width: int | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """The packing layout's first pass, shared by `pack_chunks` and the
    streaming packer's per-micro-batch leg: the EXCLUSIVE running token
    offset per row within each group, ordered by ``id_col``.

    ``bucket_width=W`` routes through the distributed two-pass prefix
    sum (local windows inside (group, floor(id / W)) buckets +
    cumulative bucket offsets joined back — the gap-sessionization
    trick): id-bucketing is order-preserving and the sums are exact
    integer arithmetic, so the result is BIT-IDENTICAL to the plain
    window while no single task ever sorts a whole group.

    ``carry_cols`` names extra input columns carried through
    verbatim (they ride the row, never the aggregates) — the streaming
    packer uses it to land the dedup key alongside the layout in ONE
    write instead of a second projection job. Returns
    (group cols, id, tokens, start_off, *carry_cols)."""
    carry = [str(c) for c in carry_cols]
    n = F.col(token_col).cast("long")
    if bucket_width is None:
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        start = (F.sum(n).over(w) - n).alias("start_off")
        return df.select(
            *group_cols, id_col, n.alias(token_col), start, *carry
        )
    gcols = list(group_cols)
    bkt = F.floor(F.col(id_col) / F.lit(int(bucket_width)))
    dfb = df.select(
        *gcols, id_col, n.alias(token_col), *carry
    ).withColumn("_pkt", bkt)
    wloc = (
        Window.partitionBy(*gcols, "_pkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = dfb.withColumn(
        "_loc", F.sum(token_col).over(wloc) - F.col(token_col)
    )
    summ = dfb.groupBy(*gcols, "_pkt").agg(
        F.sum(token_col).alias("_tot")
    )
    wsum = Window.partitionBy(*gcols).orderBy("_pkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = summ.select(
        *gcols,
        "_pkt",
        F.coalesce(F.sum("_tot").over(wsum), F.lit(0)).alias("_off"),
    )
    # no broadcast hint, same stance as _sessionize_bucketed: the
    # offsets table is groups x (id span / W) rows — let AQE choose
    return (
        local.join(offsets, [*gcols, "_pkt"])
        .withColumn("start_off", F.col("_loc") + F.col("_off"))
        .select(*gcols, id_col, token_col, "start_off", *carry)
    )


def pack_chunks(
    df: DataFrame,
    token_col: str = "n_tokens",
    group_cols: Sequence[str] = ("lang", "source"),
    id_col: str = "doc_id",
    capacity: int = 2048,
    bucket_width: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing: within each group (ordered by
    ``id_col``), a document starting at token offset ``s`` with ``n``
    tokens lands in bin ``floor(s / capacity)`` and straddles
    ``floor((s + n - 1) / capacity) - floor(s / capacity)`` chunk
    boundaries (0 for empty docs). Offsets stay < 2**53 per shard, so
    double-division floor is exact.

    ``bucket_width=W`` routes the running token offset through the
    distributed two-pass prefix sum (the gap-sessionization trick,
    operators/sessionize.py): local sums inside (group,
    floor(id / W)) buckets + broadcast cumulative bucket offsets —
    id-bucketing is order-preserving, and the sums are exact integer
    arithmetic, so the layout is BIT-IDENTICAL to the plain window
    (asserted in tests). Use it when one (lang, source) shard exceeds
    a task (the plain window sorts a whole shard in one task).

    Returns one row per document: group cols, id, tokens, start_bin,
    n_straddle."""
    out = running_offsets(
        df, token_col=token_col, group_cols=group_cols,
        id_col=id_col, bucket_width=bucket_width,
    )
    cap = F.lit(float(capacity))
    start_bin = F.floor(F.col("start_off") / cap)
    end_bin = F.floor((F.col("start_off") + F.col(token_col) - 1) / cap)
    return out.select(
        *group_cols,
        id_col,
        token_col,
        start_bin.alias("start_bin"),
        F.greatest(end_bin - start_bin, F.lit(0)).alias("n_straddle"),
    )


def pack_summary(
    packed: DataFrame,
    token_col: str = "n_tokens",
    group_cols: Sequence[str] = ("lang", "source"),
) -> DataFrame:
    """Per (group, bin) packing layout: how many documents start in
    each context window, their token mass, and how many run over the
    chunk boundary. Integer-only output, hash-exact across engines."""
    return packed.groupBy(*group_cols, "start_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_col).alias("tokens_started"),
        F.sum("n_straddle").alias("n_straddle"),
    )


def _check_pack_block_width(block_width: int, caller: str) -> None:
    """Guard-rail for the no-split packers' O(occupancy²) fold
    constant: the within-block accumulator concat copies
    the assignments array once per element, so a block of occupancy W
    costs ~W²/2 struct copies in the interpreted fold — quadratic in
    OCCUPANCY, not corpus size. Soft warning, not an error: occupancy
    is data-dependent (sparse id spaces keep it far below
    block_width)."""
    import warnings

    if int(block_width) > 16384:
        warnings.warn(
            f"{caller}: block_width={block_width} allows block occupancy "
            "far above ~10^4 — the within-block fold is O(occupancy^2) "
            "(accumulator concat copies per element), so a full block at "
            "this width costs >10^8 struct copies in the interpreted "
            "fold; hold expected occupancy near ~10^3 and scale the "
            "BLOCK COUNT with the corpus, not the width",
            stacklevel=3,
        )


def pack_bins_nosplit(
    df: DataFrame,
    capacity: int = 2048,
    token_col: str = "n_tokens",
    group_cols: Sequence[str] = ("lang",),
    id_col: str = "doc_id",
    block_width: int = 1024,
) -> DataFrame:
    """DOCUMENT-PRESERVING (no-split) packing — the OTHER packing
    discipline real pipelines use alongside concat-and-chunk
    (`pack_chunks`): every document lands WHOLE in exactly one bin
    (SFT/instruction data, where truncating an example corrupts it),
    bins close greedily when the next document would overflow
    ``capacity`` (next-fit, in ``id_col`` order — deterministic, no
    RNG). A document larger than ``capacity`` gets a dedicated
    over-full bin (the caller decides upstream whether to split or
    drop; flagged via ``fill_after > capacity``).

    Greedy packing is INHERENTLY SEQUENTIAL (the bin a document joins
    depends on every prior fill — a prefix fold with resets, which no
    window expresses), so the scalable form is BLOCK-LOCAL next-fit:
    documents bucket by ``floor(id / block_width)`` within their group
    (order-preserving, no window — the `running_offsets` trick), each
    block packs independently, and bins NEVER span blocks. That is
    also what production pipelines actually do (pack within a shard,
    not across the corpus): the price is at most one partially-filled
    bin per block boundary — bounded, measurable waste
    (`pack_bins_report`) — and the payoff is full parallelism plus
    blast-radius containment (reshuffling one block never relayouts
    its neighbors).

    The within-block fold runs as ONE JVM array expression
    (sort_array + F.aggregate over the packed (id, tokens) structs —
    no Python, no UDF): the accumulator carries (bin, fill,
    assignments) and starts at fill = +inf so the first document
    always opens bin 0 — exactly the recursive form the DuckDB oracle
    replays row-by-row. Block occupancy is bounded by ``block_width``
    ids, so the per-row array work is bounded too.

    Returns one row per document: group cols, ``block``, id, tokens,
    ``bin`` (block-local, dense from 0), ``offset`` (token start
    within the bin), ``fill_after`` (bin fill including this doc —
    the over-capacity flag for oversize docs). (group, block, bin) is
    the globally unique bin key.

    COST CONSTANT — O(occupancy²) per block, stated explicitly:
    ``F.concat(acc, array(rec))`` copies the
    assignments array once per element, so a block holding W documents
    pays ~W²/2 struct copies inside the interpreted fold. At the
    default ``block_width=1024`` that is ≤ ~5·10⁵ copies per block —
    negligible next to the scan; at block_width=10⁵ a full block is
    ~5·10⁹ copies and the FOLD, not the shuffle, becomes the wall
    (measured: the 10× scale factor tracks block OCCUPANCY, not id
    width — SCALE.md). Hold expected occupancy near ~10³ and scale the
    block COUNT with the corpus; a soft warning fires above 16384
    (`_check_pack_block_width`)."""
    _check_pack_block_width(block_width, "pack_bins_nosplit")
    C = int(capacity)
    gcols = list(group_cols)
    n = F.col(token_col).cast("long")
    blk = F.floor(F.col(id_col) / F.lit(int(block_width))).cast("long")
    per = df.select(
        *gcols,
        blk.alias("block"),
        F.col(id_col).cast("long").alias(id_col),
        n.alias(token_col),
    )
    packed = per.groupBy(*gcols, "block").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(token_col).alias("n")))
        ).alias("_ds")
    )
    zero = F.struct(
        F.lit(-1).cast("int").alias("bin"),
        F.lit(1 << 62).cast("long").alias("fill"),
        F.expr(
            "CAST(array() AS array<struct<i:bigint,n:bigint,bin:int,off:bigint,fa:bigint>>)"
        ).alias("acc"),
    )

    def step(a, d):
        over = (a["fill"] + d["n"]) > F.lit(C)
        new_bin = F.when(over, a["bin"] + 1).otherwise(a["bin"]).cast("int")
        off = F.when(over, F.lit(0).cast("long")).otherwise(a["fill"])
        fill = F.when(over, d["n"]).otherwise(a["fill"] + d["n"]).cast(
            "long"
        )
        rec = F.struct(
            d["i"].alias("i"), d["n"].alias("n"), new_bin.alias("bin"),
            off.alias("off"), fill.alias("fa"),
        )
        return F.struct(
            new_bin.alias("bin"),
            fill.alias("fill"),
            F.concat(a["acc"], F.array(rec)).alias("acc"),
        )

    folded = packed.select(
        *gcols,
        "block",
        F.explode(F.aggregate("_ds", zero, step)["acc"]).alias("_a"),
    )
    return folded.select(
        *gcols,
        "block",
        F.col("_a.i").alias(id_col),
        F.col("_a.n").alias(token_col),
        F.col("_a.bin").alias("bin"),
        F.col("_a.off").alias("offset"),
        F.col("_a.fa").alias("fill_after"),
    )


def pack_bins_ffd(
    df: DataFrame,
    capacity: int = 2048,
    token_col: str = "n_tokens",
    group_cols: Sequence[str] = ("lang",),
    id_col: str = "doc_id",
    block_width: int = 1024,
) -> DataFrame:
    """FIRST-FIT-DECREASING no-split packing — the QUALITY upgrade
    over `pack_bins_nosplit`'s next-fit: within each block, documents
    place largest-first into the FIRST existing bin with room (a new
    bin only when none fits). Classical guarantee: FFD uses at most
    ~11/9·OPT bins vs next-fit's 2·OPT — on skewed length
    distributions that is the difference between ~half-empty bins and
    near-full ones, and `pack_bins_report` prices the gap exactly
    (tests pin waste(ffd) ≤ waste(next-fit) on every input).

    Same BLOCK-LOCAL discipline and for the same reason (greedy
    packing is an inherently sequential fold; blocks bound both the
    sequential chain and the open-bin state), same oversize handling
    (a doc larger than ``capacity`` fits nothing, so it always opens
    its own over-full bin, and nothing ever joins it), same one-JVM-
    array-expression execution — the accumulator carries the open-bin
    fill vector and each element scans it with an index-aware
    `transform` (O(bins) per doc, bins ≤ block occupancy). The DuckDB
    oracle replays every placement with a recursive CTE carrying the
    same fill list.

    Returns the `pack_bins_nosplit` shape: group cols, ``block``, id,
    tokens, ``bin``, ``offset``, ``fill_after`` — interchangeable
    downstream (same report, same shard writer).

    COST CONSTANT — O(occupancy²) per block, and with a LARGER
    constant than next-fit: the accumulator
    concat costs ~W²/2 struct copies per W-document block (see
    `pack_bins_nosplit`) PLUS the first-fit scan of the open-bin fill
    vector — O(open bins) per element, itself up to W in the
    all-oversize worst case — so FFD's fold is ~2-3× next-fit's at
    equal occupancy (the measured ×2.05 10× factor was occupancy
    growth, not id width). Same guidance: occupancy ≈ 10³, scale block
    COUNT not width; soft warning above 16384."""
    _check_pack_block_width(block_width, "pack_bins_ffd")
    C = int(capacity)
    gcols = list(group_cols)
    n = F.col(token_col).cast("long")
    blk = F.floor(F.col(id_col) / F.lit(int(block_width))).cast("long")
    per = df.select(
        *gcols,
        blk.alias("block"),
        F.col(id_col).cast("long").alias(id_col),
        n.alias(token_col),
    )
    # decreasing-size order with id tiebreak: sort key (-n, id) asc
    packed = per.groupBy(*gcols, "block").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col(token_col)).alias("nneg"),
                    F.col(id_col).alias("i"),
                    F.col(token_col).alias("n"),
                )
            )
        ).alias("_ds")
    )
    zero = F.struct(
        F.expr("CAST(array() AS array<bigint>)").alias("fills"),
        F.expr(
            "CAST(array() AS array<struct<i:bigint,n:bigint,bin:int,off:bigint,fa:bigint>>)"
        ).alias("acc"),
    )

    def step(a, d):
        fits = F.filter(
            F.transform(
                a["fills"],
                lambda f, i: F.when(f + d["n"] <= F.lit(C), i),
            ),
            lambda x: x.isNotNull(),
        )
        has = F.size(fits) > 0
        idx = F.when(has, F.element_at(fits, 1)).otherwise(
            F.size(a["fills"])
        ).cast("int")
        off = F.when(
            has, F.element_at(a["fills"], idx + 1)
        ).otherwise(F.lit(0).cast("long"))
        fa = (off + d["n"]).cast("long")
        new_fills = F.when(
            has,
            F.transform(
                a["fills"],
                lambda f, i: F.when(i == idx, f + d["n"]).otherwise(f),
            ),
        ).otherwise(F.concat(a["fills"], F.array(d["n"])))
        rec = F.struct(
            d["i"].alias("i"), d["n"].alias("n"), idx.alias("bin"),
            off.alias("off"), fa.alias("fa"),
        )
        return F.struct(
            new_fills.alias("fills"),
            F.concat(a["acc"], F.array(rec)).alias("acc"),
        )

    folded = packed.select(
        *gcols,
        "block",
        F.explode(F.aggregate("_ds", zero, step)["acc"]).alias("_a"),
    )
    return folded.select(
        *gcols,
        "block",
        F.col("_a.i").alias(id_col),
        F.col("_a.n").alias(token_col),
        F.col("_a.bin").alias("bin"),
        F.col("_a.off").alias("offset"),
        F.col("_a.fa").alias("fill_after"),
    )


def pack_bins_report(
    packed: DataFrame,
    capacity: int = 2048,
    group_cols: Sequence[str] = ("lang",),
) -> DataFrame:
    """Packing-quality observability for `pack_bins_nosplit` (the
    funnel/mixture-report stance applied to the bin layout): per-group
    bin count, document count, token mass, exactly-measured WASTE
    (unfilled capacity over non-overfull bins) and the overfull-bin
    count (oversize documents). All integers — the block-local
    discipline's cost is a number here, not a guess."""
    C = int(capacity)
    gcols = list(group_cols)
    bins = (
        packed.groupBy(*gcols, "block", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("fill_after").alias("fill"),
        )
    )
    return bins.groupBy(*gcols).agg(
        F.count("*").alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("fill").alias("tokens"),
        F.sum(
            F.when(F.col("fill") <= C, F.lit(C) - F.col("fill")).otherwise(
                F.lit(0)
            )
        ).alias("wasted"),
        F.sum((F.col("fill") > C).cast("long")).alias("overfull_bins"),
    )


def _serve_u32(seed: int, epoch, key_cols: Sequence[str]) -> Column:
    """The serving permutation key ``md5_u32(seed|epoch|key...)``;
    ``epoch`` is an int or an epoch column."""
    ep = epoch if isinstance(epoch, Column) else F.lit(int(epoch))
    return md5_u32(
        F.concat_ws(
            "|",
            F.lit(int(seed)).cast("string"),
            ep.cast("string"),
            *[F.col(c).cast("string") for c in key_cols],
        )
    )


def _shuffle_rank(
    df: DataFrame,
    seed: int,
    epoch,
    key_cols: Sequence[str],
    bucket_count: int,
    restart: Sequence[str] = (),
    major: Sequence[str] = (),
) -> DataFrame:
    """`bucketed_rank` by the seeded permutation (`_serve_u32`, then
    ``key_cols``) within ``restart``, after the ``major`` columns. The
    bucket is the top bits of the key, ``(u32 * B) >> 32``:
    order-preserving and integer-exact."""
    B = int(bucket_count)
    work = df.withColumn("_u32", _serve_u32(seed, epoch, key_cols)).withColumn(
        "_bkt", F.shiftright(F.col("_u32") * B, 32).cast("int")
    )
    return bucketed_rank(
        work, restart, [*major, "_bkt"], ["_u32", *key_cols]
    ).drop("_u32", "_bkt")


def epoch_order(
    seqs: DataFrame,
    seed: int,
    epoch: int,
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    bucket_count: int = 64,
) -> DataFrame:
    """Deterministic training-order serving: assign every packed
    sequence its serving rank for one epoch — the seeded shuffle every
    reproducible pre-training run needs. The permutation key is
    ``u32 = md5(seed|epoch|key...)[:8]`` (`sampling.md5_u32`): an exact
    32-bit integer, so the order is a PURE FUNCTION of (seed, epoch,
    corpus) — same inputs give the bit-identical permutation on any
    cluster, any partitioning, any engine (the DuckDB oracle replays
    it nibble-for-nibble); a different epoch reshuffles completely.

    Ranks come from `sampling.bucketed_rank`, bucketed by the top bits
    of u32, so NO GLOBAL SORT runs. Like every serving order here,
    ``key_cols`` must uniquely identify rows (`bucketed_rank`'s
    precondition): fold a unique id into them (doc_id, or (lang,
    seq_bin) where seq_bin is unique per lang) rather than rely on a
    carried column.

    The (epoch, rank) → (shard, offset) contract: the returned table
    carries every input column plus ``rank`` (0-based, dense over the
    whole corpus), so a trainer resolves any rank range to concrete
    (shard, offset) rows with a FILTER on rank — pushdown-able,
    shard-local, no sort; `resume_from` is that filter. Mid-epoch
    resume at rank r therefore reads only the shards that still have
    unserved sequences.

    Returns ``seqs`` + (``epoch``, ``rank``)."""
    return _shuffle_rank(seqs, seed, epoch, key_cols, bucket_count).withColumn(
        "epoch", F.lit(int(epoch))
    )


# -ln(2^-32) rounded UP at 6 decimals: a strict upper bound on the
# magnitude of any quantized serve key with weight >= w_min
_LN_U_MAX = 22.180711


def _flat_spec(spec, depth: int) -> list:
    """A ``depth``-level nested dict as (key, ..., value) rows."""
    if not depth:
        return [(spec,)]
    return [
        (k, *rest)
        for k, v in spec.items()
        for rest in _flat_spec(v, depth - 1)
    ]


def _weights_table(
    corpus: DataFrame,
    weights,
    keys: Sequence[str],
    default_value: float,
    err_prefix: str,
    err_msg: str,
    integer: bool = False,
) -> "tuple[DataFrame, float]":
    """Normalize a mixture spec keyed by ``keys`` — ``(group,)`` or
    ``("epoch", group)`` — into a broadcastable (*keys, ``_wval``)
    table plus the spec's minimum value (a driver-side constant that
    sizes the rank grid / bounds the copy explosion). The spec is a
    (*keys, value) DataFrame (the scale form: a real data card has
    10³–10⁵ sources, and the value reaches each row by a broadcast
    join, so the plan stays flat) or a dict nested one level per key
    as sugar. ``corpus`` supplies the key types.

    Every value and ``default_value`` must be strictly positive
    (positive integers with ``integer``); keys must be unique and
    non-NULL, since a duplicate would duplicate corpus rows through the
    join and a NULL key never joins. A dict validates in Python (zero
    jobs); a table pays ONE tiny aggregate over its O(|groups|) rows,
    never a corpus pass."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    keys = list(keys)
    cast_t = "long" if integer else "double"

    def bad(w) -> bool:
        return (w < 1 or w != int(w)) if integer else w <= 0

    if bad(default_value):
        raise ValueError(f"{err_prefix}: {err_msg}")
    null_msg = (
        f"{err_prefix}: weight rows with a NULL {'/'.join(keys)} key — "
        "NULL keys never equi-join, so the row would silently fall back "
        "to the default"
    )
    if isinstance(weights, dict):
        rows = _flat_spec(weights, len(keys))
        if any(bad(r[-1]) for r in rows):
            raise ValueError(f"{err_prefix}: {err_msg}")
        if any(k is None for r in rows for k in r[:-1]):
            raise ValueError(null_msg)
        schema = StructType(
            [StructField(k, corpus.schema[k].dataType) for k in keys]
            + [StructField("_wval", LongType() if integer else DoubleType())]
        )
        wdf = corpus.sparkSession.createDataFrame(
            [(*r[:-1], int(r[-1]) if integer else float(r[-1])) for r in rows],
            schema,
        )
        w_min = min([default_value, *(r[-1] for r in rows)])
    else:
        vals = [c for c in weights.columns if c not in keys]
        if len(vals) != 1 or not set(keys) <= set(weights.columns):
            raise ValueError(
                f"{err_prefix}: weights table must have exactly "
                f"({', '.join(keys)}, value) columns, got {weights.columns}"
            )
        wdf = weights.select(*keys, F.col(vals[0]).alias("_wval"))
        any_null = F.col(keys[0]).isNull()
        for k in keys[1:]:
            any_null = any_null | F.col(k).isNull()
        row = wdf.agg(
            F.min("_wval").alias("_mn"),
            F.count("*").alias("_n"),
            F.count_distinct(*keys).alias("_nd"),
            F.count_if(any_null).alias("_nnull"),
            F.max(
                F.abs(
                    F.col("_wval").cast("double")
                    - F.floor(F.col("_wval")).cast("double")
                )
            ).alias("_frac"),
        ).first()
        # before the duplicate check: count_distinct skips NULL tuples
        if row["_nnull"]:
            raise ValueError(null_msg)
        if row["_n"] != row["_nd"]:
            raise ValueError(
                f"{err_prefix}: weights table has duplicate "
                f"({', '.join(keys)}) rows — the join would duplicate "
                "corpus rows"
            )
        mn = row["_mn"]
        # a fractional repeat would be truncated silently by the cast
        if mn is not None and (bad(mn) or integer and (row["_frac"] or 0.0)):
            raise ValueError(f"{err_prefix}: {err_msg}")
        w_min = default_value if mn is None else min(default_value, mn)
    return wdf.select(*keys, F.col("_wval").cast(cast_t)), float(w_min)


def _ares_rank(
    df: DataFrame,
    u32: Column,
    wdf: DataFrame,
    on: Sequence[str],
    default_weight: float,
    w_min: float,
    bucket_count: int,
    key_cols: Sequence[str],
    restart: Sequence[str] = (),
) -> DataFrame:
    """The A-Res serve key and its rank: join the weights ``wdf`` on
    ``on`` (missing keys take ``default_weight``), ``serve_key =
    quantize(ln(u) / w, 6)`` with u = u32 / 2^32 floored at 2^-32
    (F.log(0) is null in Spark and an ERROR in DuckDB), then
    `bucketed_rank` by (-serve_key, key_cols) within ``restart`` on a
    fixed grid over -key ∈ [0, -ln(2^-32) / w_min]. ``w_min`` is a
    constant of the spec, so no corpus pass sizes the grid."""
    from miletos_spark.functions.scalars import quantize

    B = int(bucket_count)
    hi = _LN_U_MAX / w_min
    u = F.greatest(u32 / F.lit(TWO_32), F.lit(2.0 ** -32))
    w = F.coalesce(F.col("_wval"), F.lit(float(default_weight)))
    work = (
        df.join(F.broadcast(wdf), list(on), "left")
        .withColumn("serve_key", quantize(F.log(u) / w, 6))
        .withColumn(
            "_bkt",
            F.least(
                F.greatest(
                    F.floor(-F.col("serve_key") * B / F.lit(hi)),
                    F.lit(0),
                ),
                F.lit(B - 1),
            ).cast("int"),
        )
        .drop("_wval")
    )
    return bucketed_rank(
        work, restart, ["_bkt"], [(-F.col("serve_key")).asc(), *key_cols]
    ).drop("_bkt")


def weighted_epoch_order(
    seqs: DataFrame,
    seed: int,
    epoch: int,
    weights,
    group_col: str = "lang",
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    default_weight: float = 1.0,
    bucket_count: int = 64,
) -> DataFrame:
    """MIXTURE-WEIGHTED deterministic serving order — `epoch_order`
    with per-group sampling weights, the way real pre-training runs
    actually serve (40% web, 30% code, ... in expectation, not a
    uniform permutation). The serve key is the Efraimidis–Spirakis
    A-Res key: rank by u^(1/w) descending — equivalently ln(u)/w
    descending, the monotone form used here because `pow` is not
    correctly-rounded across engines while ln is 1-ulp — which makes
    the whole order a weighted sample WITHOUT replacement: any prefix
    of the stream includes groups with probability proportional to
    their weights, so upweighted groups concentrate early at exactly
    their mixture share (Efraimidis & Spirakis 2006, the weighted
    reservoir key). u is the same md5(seed|epoch|key) dyadic uniform
    as `epoch_order`, and the key is QUANTIZED at 6 decimals before
    ranking (the quantize-then-rank stance: ln is the only non-exact
    op, and both engines rank the identical fixed-point value with the
    identical (key, group, id) tiebreak).

    ``weights`` is a (group, weight) DataFrame or a dict as sugar
    (`_weights_table`); groups absent from the spec take
    ``default_weight``. The weight reaches each row by a broadcast
    join, not a per-group CASE chain, so the plan stays flat at a real
    data card's 10³–10⁵ sources. Returns ``seqs`` + (``serve_key``,
    ``epoch``, ``rank``); rank 0 serves first."""
    wdf, w_min = _weights_table(
        seqs, weights, (group_col,), float(default_weight),
        "weighted_epoch_order", "weights must be strictly positive",
    )
    return _ares_rank(
        seqs, _serve_u32(seed, epoch, key_cols), wdf, (group_col,),
        default_weight, w_min, bucket_count, key_cols,
    ).withColumn("epoch", F.lit(int(epoch)))


def multi_pass_order(
    seqs: DataFrame,
    seed: int,
    repeats,
    group_col: str = "lang",
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    default_repeats: int = 1,
    bucket_count: int = 64,
) -> DataFrame:
    """EPOCHS-PER-SOURCE serving plan — the third mixing discipline
    real data recipes use (alongside the uniform epoch shuffle and the
    A-Res weighted order): source g's sequences are each seen exactly
    ``repeats[g]`` times over the whole run (the "Wikipedia ×3, books
    ×2, web ×1" table every LLM data card publishes). Each sequence
    explodes into its integer copies, the copy index folds into the
    md5 permutation key, and the union ranks as one `epoch_order` — so
    copies of one sequence scatter independently across the run
    instead of clustering, the whole order is a pure function of
    (seed, repeats, corpus), and rank is dense over sum_g r_g·|g| rows.
    Integer-exact end to end (the copy explosion is a sequence(), the
    key is md5) — the oracle replays it with a per-group range join.
    ``repeats`` is a (group, repeats) DataFrame or a dict as sugar
    (`_weights_table`). Returns ``seqs`` + (``pass_idx``, ``rank``)."""
    # default_repeats goes in RAW: an int() here would truncate 2.5 to 2
    # before the integrality check could see it
    rdf, _ = _weights_table(
        seqs, repeats, (group_col,), default_repeats,
        "multi_pass_order", "repeats must be positive integers",
        integer=True,
    )
    r_col = F.coalesce(F.col("_wval"), F.lit(int(default_repeats)))
    copies = (
        seqs.join(F.broadcast(rdf), group_col, "left")
        .withColumn(
            "pass_idx",
            F.explode(F.sequence(F.lit(0), (r_col - 1).cast("int"))),
        )
        .drop("_wval")
    )
    out = epoch_order(
        copies,
        seed=seed,
        epoch=0,
        key_cols=(*key_cols, "pass_idx"),
        bucket_count=bucket_count,
    )
    return out.drop("epoch")


def _curriculum_stages(
    seqs: DataFrame,
    score_col: str,
    n_stages: int,
    key_cols: Sequence[str],
    bucket_count: int,
    partition_cols: Sequence[str],
) -> "tuple[DataFrame, int]":
    """The epoch-INDEPENDENT half of the curriculum disciplines: exact
    score-quantile stage assignment via quantize-then-rank
    (`bucketed_rank` on an order-preserving grid over the quantized
    score, highest score first), per group when ``partition_cols`` is
    set. Shared by `curriculum_order` (one epoch) and
    `curriculum_run_order` (the stage is a pure function of the score,
    so it computes ONCE regardless of E). Returns (seqs + (score_q,
    stage), n_total)."""
    from miletos_spark.functions.scalars import quantize

    if n_stages < 1:
        raise ValueError("curriculum_order: n_stages must be >= 1")
    B, S = int(bucket_count), int(n_stages)
    P = [str(c) for c in partition_cols]
    sq = quantize(F.col(score_col), 6)
    # ascending fixed-point sort key: -score serves best-first
    work = seqs.withColumn("score_q", sq).withColumn("_sk", -sq)
    # Pinned once: the bounds aggregate, the bucket counts and the
    # ranking join all read this frame, and the caller's serve rank
    # reads the staged result twice more. Unpinned, each of them
    # re-runs the upstream score scan (for the curriculum rows, the
    # 5-regex quality logit over the whole corpus). The pinned
    # projection is narrow (keys + quantized score).
    work = work.localCheckpoint(eager=True)
    st = work.agg(
        F.min("_sk").alias("_lo"),
        F.max("_sk").alias("_hi"),
        F.count("*").alias("_n"),
    ).first()
    if not st["_n"]:
        raise ValueError("curriculum_order: empty corpus")
    lo, hi, n_total = float(st["_lo"]), float(st["_hi"]), int(st["_n"])
    span = max(hi - lo, 1e-12)
    # order-preserving grid: floor of a monotone map of the quantized key
    work = work.withColumn(
        "_sbkt",
        F.least(
            F.greatest(
                F.floor((F.col("_sk") - F.lit(lo)) / F.lit(span) * B),
                F.lit(0),
            ),
            F.lit(B - 1),
        ).cast("int"),
    )
    staged = bucketed_rank(
        work, P, ["_sbkt"], ["_sk", *key_cols], rank="_srank",
        total="_gn" if P else None,
    )
    # the stage denominator is the group's size when stratified
    denom = F.col("_gn") if P else F.lit(n_total)
    # Not pinned: both callers read `staged` twice (serve counts and
    # ranking join), but an eager checkpoint here measured slower
    # (min-over-3 3.31/2.91/2.55 vs 3.03/2.80/2.42 s): re-running the
    # stage window over the pinned `work` is cheaper than a second
    # materialization job.
    return (
        staged.withColumn(
            "stage", F.floor(F.col("_srank") * S / denom).cast("int")
        ).drop("_sk", "_sbkt", "_srank", "_gn"),
        n_total,
    )


def curriculum_order(
    seqs: DataFrame,
    seed: int,
    epoch: int,
    score_col: str,
    n_stages: int = 4,
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    bucket_count: int = 64,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """CURRICULUM-STAGED serving order — the fourth mixing discipline
    real data recipes use (alongside the uniform shuffle, the A-Res
    weighted order, and epochs-per-source): serve by QUALITY-QUANTILE
    STAGES — stage s holds exactly the s-th ``1/n_stages`` quantile
    slice of the corpus by ``score_col``, highest first, stages serve
    in order, and WITHIN a stage the order is the same seeded
    md5(seed|epoch|key) permutation as `epoch_order` (so each stage is
    internally an unbiased shuffle — staging only reorders BETWEEN
    quality bands). This is the data-card "anneal"/staging pattern:
    high-quality data front-loads; for epoch-DEPENDENT mixture
    annealing, compose `weighted_epoch_order` with a per-epoch weights
    table instead — staging and weighting are orthogonal disciplines.

    Integer/fixed-point exact end to end: the score is quantized at 6
    decimals BEFORE ranking (quantize-then-rank), the stage comes from
    the exact score rank (`bucketed_rank` on an order-preserving score
    grid), and ``stage = floor(score_rank · n_stages / N)``, so stage
    populations are EXACT quantile counts (they differ by at most 1).
    The serve rank is a second `bucketed_rank`, bucketed on (stage,
    u32-grid). Neither runs a global sort.

    One extra corpus pass vs `epoch_order`: a 1-row (min, max, count)
    aggregate sizes the score grid (the score is data, unlike the
    weighted order's w_min which is a spec constant). Returns ``seqs``
    + (``score_q``, ``stage``, ``epoch``, ``rank``); rank 0 serves
    first.

    ``partition_cols`` gives the STRATIFIED curriculum: score rank and
    stage computed WITHIN each group (per-lang / per-source
    quantiles), so a dominant group's score distribution can no longer
    dictate stage composition and starve low-resource groups out of
    the early stages — stage s holds each group's OWN s-th quantile
    slice (per-group populations exact to ±1). The serve rank stays
    the global stage-major permutation, so groups interleave uniformly
    within a stage; for a weighted within-stage mixture, compose with
    `weighted_epoch_order`'s A-Res key instead of the uniform one. The
    score rank just restarts per group (per-group offset tables are
    |groups|·bucket_count rows, still broadcast-sized); the global
    grid bounds are reused, since order preservation is all the grid
    needs."""
    staged, _ = _curriculum_stages(
        seqs, score_col, n_stages, key_cols, bucket_count, partition_cols
    )
    return _shuffle_rank(
        staged, seed, epoch, key_cols, bucket_count, major=("stage",)
    ).withColumn("epoch", F.lit(int(epoch)))


def _epochs(n_epochs: int) -> Column:
    """One row per epoch 0..E-1: an explode, so no shuffle."""
    return F.explode(F.sequence(F.lit(0), F.lit(int(n_epochs) - 1)))


def curriculum_run_order(
    seqs: DataFrame,
    seed: int,
    n_epochs: int,
    score_col: str,
    n_stages: int = 4,
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    bucket_count: int = 64,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """CURRICULUM-STAGED cross-epoch schedule: the staged-curriculum
    data card run as ONE resumable schedule — every epoch serves
    stage-major (stage = exact score-quantile slice, per group with
    ``partition_cols``), each epoch reshuffles WITHIN stages
    independently (the epoch index is folded into the permutation key
    exactly as in `run_order`), and ``global_step = epoch·N + rank``
    so `resume_run_at_step` / `land_order` + `resume_run_from_landed`
    work unchanged.

    FLAT IN E twice over: the stage is a pure function of the score,
    so the quantile assignment computes ONCE regardless of E (shared
    `_curriculum_stages`), and all E·N serve keys rank in ONE
    `bucketed_rank` restarting per epoch, bucketed on (stage, u32
    grid). Bit-identical to per-epoch `curriculum_order` calls with
    the same seed (asserted in tests).

    For the staged-ANNEAL card (stage discipline AND epoch-varying
    mixture), this is the staging half; compose the mixture half by
    feeding `annealed_run_order` stage-derived per-epoch weights when
    mixture should dominate, or use this schedule when staging should
    — the two disciplines order by different keys and cannot both be
    the primary sort. Returns ``seqs`` + (``score_q``, ``stage``,
    ``epoch``, ``rank``, ``global_step``)."""
    if n_epochs < 1:
        raise ValueError("curriculum_run_order: n_epochs must be >= 1")
    staged, n_total = _curriculum_stages(
        seqs, score_col, n_stages, key_cols, bucket_count, partition_cols
    )
    return _shuffle_rank(
        staged.withColumn("epoch", _epochs(n_epochs)), seed, F.col("epoch"),
        key_cols, bucket_count, restart=("epoch",), major=("stage",),
    ).withColumn(
        "global_step",
        (F.col("epoch") * F.lit(n_total) + F.col("rank")).cast("long"),
    )


def epochs_for_budget(
    df: DataFrame,
    weights,
    budget_tokens: int,
    group_col: str = "lang",
    token_col: str = "n_tokens",
    default_weight: float = 1.0,
    max_repeats: int = 16,
) -> DataFrame:
    """DATA-CARD BUDGET SOLVER — the step that produces
    `multi_pass_order`'s repeats table from what a data card actually
    states: target mixture weights and a total token budget. Per
    group: corpus tokens T_g (one aggregate over the corpus), target
    share s_g = w_g / Σw, and the integer epochs-per-source
    ``repeats_g = clamp(round(budget·s_g / T_g), 1, max_repeats)`` —
    the "Wikipedia ×3, books ×2, web ×1" table derived instead of
    hand-written, with the planned token mass (repeats·T_g) emitted so
    the mixture error the integer rounding introduces is a NUMBER.

    Weights: dict or (group, weight) DataFrame, exactly as
    `weighted_epoch_order` (broadcast join, flat plan at 10⁵ sources).
    Deterministic cross-engine: the only non-integer op is the share
    ratio, quantized at 6 decimals before the round — both engines
    clamp the identical fixed-point value. One corpus scan; output is
    O(|groups|) and feeds `multi_pass_order(repeats=...)` directly.

    Returns (group, corpus_tokens, weight, target_share, repeats,
    planned_tokens)."""
    from miletos_spark.functions.scalars import quantize

    wdf, _ = _weights_table(
        df, weights, (group_col,), float(default_weight),
        "epochs_for_budget", "weights must be strictly positive",
    )
    per = df.groupBy(group_col).agg(
        F.sum(F.col(token_col).cast("long")).alias("corpus_tokens")
    )
    withw = per.join(F.broadcast(wdf), group_col, "left").select(
        group_col,
        "corpus_tokens",
        F.coalesce(F.col("_wval"), F.lit(float(default_weight))).alias(
            "weight"
        ),
    )
    tot = withw.agg(F.sum("weight").alias("_tw"))
    share = quantize(F.col("weight") / F.col("_tw"), 6)
    raw = quantize(
        F.lit(int(budget_tokens)) * F.col("target_share")
        / F.col("corpus_tokens"),
        6,
    )
    reps = F.least(
        F.greatest(F.floor(raw + F.lit(0.5)), F.lit(1)),
        F.lit(int(max_repeats)),
    ).cast("int")
    return (
        withw.crossJoin(F.broadcast(tot))
        .withColumn("target_share", share)
        .withColumn("repeats", reps)
        .select(
            group_col,
            "corpus_tokens",
            "weight",
            "target_share",
            "repeats",
            (F.col("repeats") * F.col("corpus_tokens")).alias(
                "planned_tokens"
            ),
        )
    )


def write_serving_shards(
    order: DataFrame,
    path: str,
    rows_per_shard: int = 1024,
    shard_col: str = "serve_shard",
) -> str:
    """Materialize a serving order into sequentially numbered shard
    files — the byte layout a data loader actually streams: shard s
    holds exactly ranks [s·R, (s+1)·R) in rank order, so epoch serving
    is "read shard 0, 1, 2, ..." and resume-at-rank-r starts at shard
    floor(r/R) (pure arithmetic — no metadata lookup needed, unlike
    the corpus-sharded `land_epoch_order` layout where ranks scatter
    across shards). NO global sort: the serving-shard id is
    floor(rank/R) over the already-computed rank, so the write is one
    keyed exchange plus a within-partition sort of ≤R rows per shard.
    Idempotent overwrite (the order is a pure function of its seed
    inputs). Works on any of the three order forms (uniform epoch,
    A-Res weighted, multi-pass). Returns ``path``."""
    out = order.withColumn(
        shard_col,
        F.floor(F.col("rank") / F.lit(int(rows_per_shard))).cast("long"),
    )
    (
        out.repartition(shard_col)
        .sortWithinPartitions("rank")
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .parquet(path)
    )
    return path


def serving_mixture_report(
    order: DataFrame,
    group_col: str = "lang",
    n_slices: int = 10,
) -> DataFrame:
    """Observability for a serving order (the funnel/drift stance
    applied to data mixing): per rank-slice group composition —
    (slice, group, n) with slice = floor(rank·n_slices / N) — the
    report that verifies a weighted order actually delivers its
    mixture at the front of the stream and a uniform order stays flat.
    Integer-exact (one count over the order + a windowless slice
    expression; N rides in from a 1-row broadcast aggregate)."""
    n_total = order.agg(F.count("*").alias("_n"))
    sl = F.least(
        F.floor(F.col("rank") * n_slices / F.col("_n")),
        F.lit(n_slices - 1),
    ).cast("int")
    return (
        order.crossJoin(F.broadcast(n_total))
        .select(sl.alias("slice"), F.col(group_col))
        .groupBy("slice", group_col)
        .agg(F.count("*").alias("n"))
    )


def resume_from(order: DataFrame, rank: int) -> DataFrame:
    """Mid-epoch resume: the sequences still to serve from serving
    position ``rank`` onward — a pure pushdown-able filter on the
    epoch-order table (no sort, no shuffle; against a landed order
    table it prunes at the scan). The shard-locality property: a shard
    whose sequences all rank below ``rank`` is never read."""
    return order.filter(F.col("rank") >= int(rank))


def land_epoch_order(
    spark,
    seqs: DataFrame,
    path: str,
    seed: int,
    epoch: int,
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    shard_col: str = "shard",
    bucket_count: int = 64,
) -> str:
    """Land one epoch's serving order PARTITIONED BY SHARD, with
    per-shard rank bounds persisted in the index stats — the serving
    table a trainer's data loader actually reads. Two properties the
    landing buys over the computed form:

    - resume at rank r touches only shards still holding unserved
      sequences, and the shard list comes from the O(|shards|) stats
      metadata (`shards_for_resume`) — no file is opened to discover
      a shard is already fully served;
    - the rank-range scan is partition-pruned (`resume_from_landed`
      filters on the partition column) plus rank-pushdown inside each
      shard dir — asserted in test_plans.

    Idempotent: the order is a pure function of (seed, epoch, corpus),
    so mode-overwrite rewrites are replay-safe (no fold, no state, so
    no versioned store is needed here). Returns
    ``path``.

    Scale note: the per-shard rank bounds land TWICE — as a PARQUET
    side table (``_bounds/`` inside the dataset root: underscore-
    prefixed, so `spark.read.parquet(path)` ignores it) written
    distributed with NO driver collect, and as the JSON stats dict for
    human inspection, which IS O(|shards|) driver-side and is
    therefore skipped past 10⁵ shards. The resume path
    (`shards_for_resume`) reads the parquet table driver-side via
    pyarrow (no Spark job), so resume has no shard-count ceiling.
    `write_serving_shards` remains the zero-metadata alternative
    (resume shard = pure arithmetic)."""
    order = epoch_order(
        seqs, seed=seed, epoch=epoch, key_cols=key_cols,
        bucket_count=bucket_count,
    )
    return land_order(
        spark, order, path, shard_col=shard_col,
        stats={"seed": int(seed), "epoch": int(epoch)},
        caller="land_epoch_order",
    )


def land_order(
    spark,
    order: DataFrame,
    path: str,
    shard_col: str = "shard",
    stats: "dict | None" = None,
    caller: str = "land_order",
) -> str:
    """Land ANY rank-carrying serving order partitioned by shard, with
    the per-shard rank bounds side table: the one landing seam behind
    the landed-resume machinery (`shards_for_resume`,
    `resume_from_landed`, `resume_run_from_landed`), shared by the
    uniform, weighted, curriculum and annealed orders, which all carry
    the same (``rank``, ``shard_col``) contract. ``order`` must carry
    a dense long ``rank`` and an integer ``shard_col``; ``stats``
    (optional) merges into the human-readable JSON sidecar. Idempotent
    for orders that are pure functions of their inputs (mode-overwrite rewrites
    are replay-safe). Returns ``path``."""
    from miletos_spark.pipeline.landing import write_index_stats

    # the _bounds side table (and resume_from_landed's isin filter)
    # key shards as longs; a non-numeric shard column would cast to
    # NULL and crash later inside _landed_order_bounds with a bare
    # int(None) — reject it here with the real reason
    shard_t = order.schema[shard_col].dataType.typeName()
    if shard_t not in (
        "byte", "short", "integer", "long", "int",
    ):
        raise ValueError(
            f"{caller}: shard column {shard_col!r} must be an "
            f"integer type (got {shard_t}) — the _bounds side table and "
            "shard-local resume key shards numerically"
        )
    (
        order.repartition(shard_col)
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .parquet(path)
    )
    landed = spark.read.parquet(path)
    bounds = landed.groupBy(shard_col).agg(
        F.min("rank").alias("min_rank"), F.max("rank").alias("max_rank")
    )
    bounds.select(
        F.col(shard_col).cast("long").alias("shard"),
        "min_rank",
        "max_rank",
    ).write.mode("overwrite").parquet(os.path.join(path, "_bounds"))
    import pyarrow.dataset as pads

    # metadata-only row count (no driver materialization — at the
    # >10⁵-shard scale this threshold targets, reading the table just
    # to count it would re-introduce the O(|shards|) driver pull)
    n_shards = pads.dataset(
        os.path.join(path, "_bounds"), format="parquet"
    ).count_rows()
    if n_shards <= 100_000:
        tbl = _landed_order_bounds(path)
        write_index_stats(
            path,
            {
                **(stats or {}),
                "shards": {
                    str(s): [int(lo), int(hi)] for s, lo, hi in tbl
                },
            },
            name="_order_stats.json",
        )
    return path


def _landed_order_bounds(path: str) -> "list[tuple[int, int, int]]":
    """The landed order's per-shard (shard, min_rank, max_rank) bounds
    — from the parquet ``_bounds`` side table when present (driver-side
    pyarrow read, no Spark job, no JSON-size ceiling), else from the
    JSON stats (landings from before the side table existed). The ONE
    bounds-resolution seam: `shards_for_resume` and
    `resume_run_from_landed` both go through it, so neither carries a
    JSON-only ceiling."""
    bounds_dir = os.path.join(path, "_bounds")
    if os.path.isdir(bounds_dir):
        import pyarrow.parquet as pq

        tbl = pq.read_table(bounds_dir).to_pydict()
        return [
            (int(s), int(lo), int(hi))
            for s, lo, hi in zip(
                tbl["shard"], tbl["min_rank"], tbl["max_rank"]
            )
        ]
    from miletos_spark.pipeline.landing import read_index_stats

    stats = read_index_stats(path, name="_order_stats.json")
    if stats is None:
        raise ValueError(
            f"land_epoch_order stats missing under {path} — not a landed "
            "order table?"
        )
    return [
        (int(sh), int(lo), int(hi))
        for sh, (lo, hi) in stats["shards"].items()
    ]


def shards_for_resume(path: str, rank: int) -> "list[str]":
    """The shards that still hold unserved sequences at resume rank
    ``rank`` — resolved from the landed order's per-shard rank bounds
    (`_landed_order_bounds`: O(|shards|) metadata, no Spark job, no
    data file opened)."""
    return sorted(
        str(s)
        for s, _, hi in _landed_order_bounds(path)
        if hi >= int(rank)
    )


def resume_from_landed(
    spark,
    path: str,
    rank: int,
    shard_col: str = "shard",
) -> DataFrame:
    """`resume_from` against a LANDED order table: the shard list from
    the stats metadata becomes a partition filter (fully-served shard
    dirs are never scanned — partition pruning, asserted in
    test_plans), and the residual rank filter pushes into the
    surviving shards' row groups."""
    shards = [int(s) for s in shards_for_resume(path, rank)]
    return (
        spark.read.parquet(path)
        .filter(F.col(shard_col).isin(shards))
        .filter(F.col("rank") >= int(rank))
    )


def _run_schedule(seqs: DataFrame, n_epochs: int, rank_epochs) -> DataFrame:
    """Lay E epochs end to end: ``rank_epochs`` ranks ``seqs`` exploded
    over ``epoch`` (restarting per epoch), and ``global_step = epoch·N
    + rank`` with N from a 1-row broadcast count. ``seqs`` is pinned
    first: the count, the bucket counts and the ranking join all read
    it, and it is typically itself an aggregation of a corpus scan."""
    seqs = seqs.localCheckpoint(eager=True)
    n1 = seqs.agg(F.count("*").alias("_n"))
    return (
        rank_epochs(seqs.withColumn("epoch", _epochs(n_epochs)))
        .crossJoin(F.broadcast(n1))
        .withColumn(
            "global_step",
            (F.col("epoch") * F.col("_n") + F.col("rank")).cast("long"),
        )
        .drop("_n")
    )


def run_order(
    seqs: DataFrame,
    seed: int,
    n_epochs: int,
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    bucket_count: int = 64,
) -> DataFrame:
    """CROSS-EPOCH serving schedule: a trainer runs E epochs and
    resumes at a GLOBAL step, not an (epoch, rank) pair — this is the
    composition that turns the per-epoch orders into one run-long
    schedule: epoch e's ranks shift by e·N, so ``global_step = epoch·N
    + rank`` is dense over [0, E·N) and every epoch reshuffles
    independently (the epoch index is folded into each permutation
    key).

    FLAT IN E: ranking each epoch on its own costs 2 shuffles PER
    EPOCH (13 at E=3, PLANS.md). Here the epoch index EXPLODES like
    `multi_pass_order`'s pass_idx (no shuffle), and ALL E·N rows rank
    in ONE `bucketed_rank` restarting per epoch, so the shuffle count
    is CONSTANT in E (pinned flat E=3 vs E=6 in tests/test_plans.py)
    and the ranks are BIT-IDENTICAL to per-epoch `epoch_order` calls.

    At real scale a run's epochs are LANDED one at a time
    (`land_epoch_order` per epoch) and resume goes through
    `resume_run_from_landed`'s pure metadata arithmetic; this composed
    form is the logical schedule and the oracle surface. Returns
    ``seqs`` + (epoch, rank, global_step)."""
    if n_epochs < 1:
        raise ValueError("run_order: n_epochs must be >= 1")
    return _run_schedule(
        seqs,
        n_epochs,
        lambda work: _shuffle_rank(
            work, seed, F.col("epoch"), key_cols, bucket_count,
            restart=("epoch",),
        ),
    )


def annealed_run_order(
    seqs: DataFrame,
    seed: int,
    n_epochs: int,
    weights_by_epoch,
    group_col: str = "lang",
    key_cols: Sequence[str] = ("lang", "seq_bin"),
    default_weight: float = 1.0,
    bucket_count: int = 64,
) -> DataFrame:
    """ANNEALED cross-epoch run schedule, the epoch-dependent mixture:
    a data card's anneal phase changes the MIXTURE over the run — e.g.
    serve uniformly for epochs 0..E-2, then upweight the high-quality
    sources in the final epoch. Epoch e here is an independent
    Efraimidis–Spirakis A-Res weighted order under THAT epoch's
    weights (`weighted_epoch_order` semantics verbatim — any prefix of
    epoch e carries epoch e's mixture in expectation), composed into
    one resumable schedule: ``global_step = epoch·N + rank``
    (`resume_run_at_step` works unchanged).

    FLAT IN E like `run_order`: epochs explode (no shuffle), the weight
    reaches each (row, epoch) copy through ONE broadcast join on
    (epoch, group), and all E·N serve keys rank in one `bucketed_rank`
    restarting per epoch, the -key grid sized by the spec's GLOBAL
    minimum weight. Bit-identical to per-epoch `weighted_epoch_order`
    calls (asserted in tests).

    ``weights_by_epoch``: an (epoch, group, weight) DataFrame — the
    scale form (a data card's anneal table is E·|sources| rows,
    broadcast-sized) — or a {epoch: {group: w}} dict as sugar
    (`_weights_table`). Missing (epoch, group) pairs take
    ``default_weight``. Returns ``seqs`` + (``serve_key``, ``epoch``,
    ``rank``, ``global_step``)."""
    if n_epochs < 1:
        raise ValueError("annealed_run_order: n_epochs must be >= 1")
    keys = ("epoch", group_col)
    wdf, w_min = _weights_table(
        seqs.withColumn("epoch", _epochs(n_epochs)), weights_by_epoch, keys,
        float(default_weight), "annealed_run_order",
        "weights must be strictly positive",
    )
    return _run_schedule(
        seqs,
        n_epochs,
        lambda work: _ares_rank(
            work, _serve_u32(seed, F.col("epoch"), key_cols), wdf, keys,
            default_weight, w_min, bucket_count, key_cols,
            restart=("epoch",),
        ),
    )


def resume_run_at_step(order: DataFrame, step: int) -> DataFrame:
    """Mid-RUN resume on a computed `run_order` table: everything still
    to serve from ``step`` onward — a pure pushdown-able filter (the
    `resume_from` contract lifted to the run)."""
    return order.filter(F.col("global_step") >= int(step))


def resume_run_from_landed(
    spark,
    epoch_paths: "Sequence[str]",
    step: int,
    shard_col: str = "shard",
) -> DataFrame:
    """Resume a multi-epoch run at a global step against LANDED
    per-epoch order tables (`land_epoch_order`, one path per epoch,
    index = epoch number): the corpus size N comes from epoch 0's
    per-shard rank bounds (O(|shards|) metadata — max bound + 1; NO
    Spark job), the in-progress epoch is ``step // N`` resumed
    shard-locally at rank ``step % N`` (`resume_from_landed`:
    fully-served shard dirs partition-pruned), and later epochs ride
    in whole (their scans stay lazy). Fully-served epochs are never
    read at all. Returns the union with ``global_step`` restored."""
    # bounds via the shared seam (parquet _bounds preferred, JSON
    # fallback) — the run-level resume must not re-acquire the JSON
    # ceiling the shard-level one shed
    n = max(hi for _, _, hi in _landed_order_bounds(epoch_paths[0])) + 1
    e0 = min(int(step) // n, len(epoch_paths) - 1)
    rank0 = int(step) - e0 * n
    out = None
    for e in range(e0, len(epoch_paths)):
        part = (
            resume_from_landed(
                spark, epoch_paths[e], rank0 if e == e0 else 0,
                shard_col=shard_col,
            )
            .withColumn(
                "global_step",
                (F.lit(e).cast("long") * n + F.col("rank")).cast("long"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    token_col: str = "n_tokens",
    split_col: str = "split",
    group_cols: Sequence[str] = ("lang",),
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    bins_per_file: int = 64,
) -> DataFrame:
    """Materialize a curated corpus as physical training shards — the
    last mile of the curation stack: documents (already filtered,
    scrubbed, deduped, split-assigned) are packed into fixed-capacity
    token bins per (split, group), bins are grouped into shard files,
    and the table lands partitioned by (split, shard) so a trainer
    reads exactly its split's directories and one shard maps to one
    loader task.

    Within a shard, rows carry (bin, start_bin offset order) so the
    concat order is reproducible; the write itself is a single
    partitioned parquet job — no driver-side loops, no collect. The
    shard key is `floor(start_bin / bins_per_file)` so shard sizes are
    token-bounded (capacity * bins_per_file) regardless of document
    length skew.

    Returns the landed table (read back from `path`)."""
    packed = pack_chunks(
        df.select(*group_cols, split_col, id_col, token_col),
        token_col=token_col,
        group_cols=(split_col, *group_cols),
        id_col=id_col,
        capacity=capacity,
    )
    shard = F.floor(
        F.col("start_bin") / F.lit(float(bins_per_file))
    ).cast("int").alias("shard")
    laid = (
        df.select(*group_cols, split_col, id_col, text_col)
        .join(packed.select(split_col, id_col, "start_bin", token_col), [split_col, id_col])
        .select(
            split_col, *group_cols, id_col, text_col, token_col,
            "start_bin", shard,
        )
    )
    (
        laid.repartition(split_col, "shard")
        .sortWithinPartitions(*group_cols, "start_bin", id_col)
        .write.mode("overwrite")
        .partitionBy(split_col, "shard")
        .parquet(path)
    )
    return df.sparkSession.read.parquet(path)
