"""ANN family: brute-force is ground truth; LSH and IVF approximate it,
and both become exact when probing everything."""

import pytest
from pyspark.sql import functions as F

from miletos_spark.pipeline.similarity import cosine_topk, ivf_topk, lsh_bucket_topk
from miletos_spark.schema import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def query(emb):
    row = emb.orderBy("vec_id").select("embedding").first()
    return [float(x) for x in row["embedding"]]


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_ivf_exhaustive_equals_bruteforce(emb, query):
    exact = _ids(cosine_topk(emb, query, k=10))
    ivf_all = _ids(
        ivf_topk(emb, query, k=10, n_clusters=8, n_probe=8)
    )
    assert ivf_all == exact


def test_ivf_probe_recall(emb, query):
    exact = set(_ids(cosine_topk(emb, query, k=10)))
    approx = set(_ids(ivf_topk(emb, query, k=10, n_clusters=8, n_probe=2)))
    # the query vector's own cell is probed -> its exact top-1 (itself)
    # must be found, and recall should be substantial
    assert len(exact & approx) >= 5


def test_ivf_landed_probe_all_equals_bruteforce(emb, query, spark, sf_dir):
    """The write-time landed IVF index must reproduce brute force when
    every cell is probed, and its partition layout must prune the scan
    (the probed-cells read plans a partition filter on _cell)."""
    from miletos_spark.pipeline.landing import land_ivf_index
    from miletos_spark.pipeline.similarity import ivf_topk_landed

    paths = land_ivf_index(spark, sf_dir, n_clusters=8)
    exact = _ids(cosine_topk(emb, query, k=10))
    landed_all = _ids(
        ivf_topk_landed(spark, paths, query, k=10, n_probe=8)
    )
    assert landed_all == exact
    probe2 = ivf_topk_landed(spark, paths, query, k=10, n_probe=2)
    plan = probe2._jdf.queryExecution().executedPlan().toString()
    assert "_cell" in plan  # pruning predicate reached the scan
    assert len(set(_ids(probe2)) & set(exact)) >= 5


def test_lsh_multiprobe_contains_self(emb, query):
    got = _ids(lsh_bucket_topk(emb, query, k=5, n_planes=8, probe_bits=1))
    exact_top1 = _ids(cosine_topk(emb, query, k=1))[0]
    assert exact_top1 in got


def test_banded_near_dup_finds_planted_pairs_no_crossjoin(emb, spark):
    from pyspark.sql import functions as F

    from miletos_spark.pipeline.similarity import lsh_band_near_dup_pairs

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", v.alias("embedding"))
    planted = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.01)).alias(
            "embedding"
        ),
    )
    pairs = lsh_band_near_dup_pairs(
        base.unionByName(planted), dim=64, threshold=0.9
    )
    # exactly the 10 planted (i, i+1000) pairs; random pairs sit ~0.5
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(i, i + 1000) for i in range(10)}
    # scale contract: candidate generation is a bucketed equi-join,
    # never a cartesian/nested-loop product
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_exact_when_codebook_covers(spark):
    """With a codebook containing EVERY distinct subvector, PQ encoding
    is lossless, so the fixed-order ADC sum must equal the exact
    squared L2 distance — the property that pins the encode + distance-
    table + score machinery independently of codebook quality."""
    import math
    import random

    from miletos_spark.pipeline.similarity import (
        pq_adc_topk,
        pq_subspace_table,
    )

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    subv = pq_subspace_table(df, m=4)
    codebook = subv.select(
        "sub", F.col("vec_id").cast("int").alias("cid"),
        F.col("sv").alias("cent"),
    )
    query = vecs[3][1]
    got = {
        r["vec_id"]: r["adc_d2"]
        for r in pq_adc_topk(subv, codebook, query, m=4, k=20).collect()
    }
    for i, v in vecs:
        exact = sum((a - b) ** 2 for a, b in zip(query, v))
        assert math.isclose(got[i], exact, rel_tol=0, abs_tol=1e-12), i


def test_pq_landed_index_memoizes(spark, sf_dir, tmp_path):
    from miletos_spark.pipeline.landing import land_pq_index

    p1 = land_pq_index(spark, sf_dir, m=8, n_centroids=16)
    p2 = land_pq_index(spark, sf_dir, m=8, n_centroids=16)
    assert p1 == p2
    codes = spark.read.parquet(p1["codes"])
    n_vec = codes.select("vec_id").distinct().count()
    assert codes.count() == n_vec * 8          # m codes per vector
    cb = spark.read.parquet(p1["codebook"])
    assert cb.count() == 8 * 16


def test_ivfpq_landed_probe_consistency_and_pruning(emb, query, spark, sf_dir):
    """IVF-PQ composite index: (1) a pruned 1-probe top-k must report
    the SAME ADC scores the probe-all run assigns those ids (the
    partition-pruned path changes candidates, never scores); (2) the
    probed read plans a partition filter on _cell; (3) the query
    vector finds itself first (its own cell is always probed and its
    residual quantization error is the smallest score)."""
    from miletos_spark.pipeline.landing import land_ivfpq_index
    from miletos_spark.pipeline.similarity import ivfpq_topk_landed

    paths = land_ivfpq_index(spark, sf_dir, n_clusters=4, m=8, n_centroids=16)
    n_vec = emb.count()
    all_scores = {
        r["vec_id"]: r["adc_d2"]
        for r in ivfpq_topk_landed(
            spark, paths, query, m=8, k=n_vec, n_probe=4
        ).collect()
    }
    one = ivfpq_topk_landed(spark, paths, query, m=8, k=10, n_probe=1)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "_cell" in plan
    rows = one.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["adc_d2"] == all_scores[r["vec_id"]]
    qid = emb.orderBy("vec_id").first()["vec_id"]
    assert rows[0]["vec_id"] == qid


def test_ivfpq_landed_index_memoizes(spark, sf_dir):
    """Second land call must short-circuit on the _SUCCESS_INDEX memo
    (no refit, no rewrite) and return identical paths."""
    import os
    import time

    from miletos_spark.pipeline.landing import land_ivfpq_index

    p1 = land_ivfpq_index(spark, sf_dir, n_clusters=4, m=8, n_centroids=16)
    t0 = time.time()
    p2 = land_ivfpq_index(spark, sf_dir, n_clusters=4, m=8, n_centroids=16)
    assert p2 == p1 and time.time() - t0 < 0.5
    assert os.path.exists(p1["codes"]) and os.path.exists(p1["codebook"])


def test_batched_probe_matches_single_query(emb, query, spark, sf_dir):
    """ivfpq_topk_landed_batch with Q=1 must reproduce the single-query
    probe's candidates and ADC scores exactly (the batch form is a
    re-keying of the same plan, not a different algorithm)."""
    from miletos_spark.pipeline.landing import land_ivfpq_index
    from miletos_spark.pipeline.similarity import (
        ivfpq_topk_landed,
        ivfpq_topk_landed_batch,
    )

    paths = land_ivfpq_index(spark, sf_dir, n_clusters=4, m=8, n_centroids=16)
    single = {
        r["vec_id"]: r["adc_d2"]
        for r in ivfpq_topk_landed(
            spark, paths, query, m=8, k=10, n_probe=2
        ).collect()
    }
    queries = spark.createDataFrame(
        [(0, query)], "qid bigint, qvec array<double>"
    )
    batch = ivfpq_topk_landed_batch(
        spark, paths, queries, dim=len(query), m=8, k=10, n_probe=2
    ).collect()
    assert {r["vec_id"]: r["d2"] for r in batch} == single


def test_rerank_recovers_bruteforce_order(emb, query, spark, sf_dir):
    """Exact rerank of an exhaustive candidate set must equal the
    brute-force L2 ranking bit-for-bit — rerank changes which rows are
    scored, never how."""
    from miletos_spark.pipeline.landing import land_ivfpq_index
    from miletos_spark.pipeline.similarity import (
        _l2sq,
        cosine_topk_batch,
        ivfpq_topk_landed_batch,
    )

    n_vec = emb.count()
    paths = land_ivfpq_index(spark, sf_dir, n_clusters=4, m=8, n_centroids=16)
    queries = spark.createDataFrame(
        [(0, query)], "qid bigint, qvec array<double>"
    )
    # probe everything + rerank everything == brute force
    rr = ivfpq_topk_landed_batch(
        spark, paths, queries, dim=len(query), m=8, k=10,
        n_probe=4, rerank=n_vec, vectors=emb,
    ).collect()
    exact = cosine_topk_batch(emb, queries, k=10, metric="l2").collect()
    assert [(r["vec_id"], r["d2"]) for r in rr] == [
        (r["vec_id"], r["d2"]) for r in exact
    ]


def test_batched_exact_matches_cosine_topk(emb, query, spark):
    """cosine_topk_batch(metric='cosine') with one query must equal the
    existing single-query cosine_topk."""
    from miletos_spark.pipeline.similarity import cosine_topk_batch

    queries = spark.createDataFrame(
        [(7, query)], "qid bigint, qvec array<double>"
    )
    got = cosine_topk_batch(emb, queries, k=10, metric="cosine").collect()
    want = cosine_topk(emb, query, k=10).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]


def test_rp_project_jl_distortion_and_topk_overlap(spark, sf_dir):
    """The point of the projection: pairwise geometry survives. On
    real embeddings, (a) squared distances in the projected space stay
    within a generous JL distortion band for most sampled pairs, and
    (b) projected-space top-10 by L2 overlaps the exact full-dim
    top-10 well enough to serve as a candidate-generation stage."""
    import numpy as np

    from miletos_spark.pipeline.similarity import rp_project
    from miletos_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").limit(120).collect()
    X = np.array([[float(x) for x in r["embedding"]] for r in rows])
    proj = rp_project(emb, in_dim=64, out_dim=8).orderBy("vec_id").limit(
        120
    ).collect()
    P = np.array([[r[f"p{j}"] for j in range(8)] for r in proj])

    rng = np.random.RandomState(0)
    ratios = []
    for _ in range(200):
        i, j = rng.randint(0, len(X), 2)
        if i == j:
            continue
        d2 = ((X[i] - X[j]) ** 2).sum()
        p2 = ((P[i] - P[j]) ** 2).sum()
        ratios.append(p2 / d2)
    ratios = np.array(ratios)
    # E[ratio] = 1; at out_dim 8 the spread is wide but centered
    assert 0.8 < ratios.mean() < 1.2
    assert (np.abs(ratios - 1) < 1.0).mean() > 0.9

    # deterministic exactness: the Spark fold equals the numpy matmul
    # with the identical seeded matrix (quantized like the query does).
    # NOTE: no ranking-preservation claim here on purpose — random
    # 64-d embeddings are near-equidistant (concentration of measure),
    # so nearest-neighbor order among them is noise no projection
    # could preserve; the JL guarantee is the distortion band above.
    from miletos_spark.pipeline.similarity import rademacher_matrix

    R = np.array(rademacher_matrix(64, 8, 42))
    want = X @ R.T
    assert np.abs(P - want).max() < 1e-9


def test_hash_embed_mean_pool_exact(spark):
    """The embed-and-pool reduction: pooled vector equals the exact
    per-dimension mean of the chunk vectors; single-chunk docs pool to
    their own vector; determinism across calls."""
    from miletos_spark.pipeline.similarity import hash_embed, mean_pool

    rows = [(0, "alpha beta"), (0, "gamma delta"), (1, "solo chunk")]
    df = spark.createDataFrame(rows, "doc_id long, chunk_text string")
    emb = hash_embed(df, dim=4)
    vecs = {}
    for r in emb.collect():
        vecs.setdefault(r["doc_id"], []).append(r["emb"])
    pooled = {r["doc_id"]: r for r in mean_pool(emb, dim=4).collect()}
    for d, vs in vecs.items():
        want = [sum(v[j] for v in vs) / len(vs) for j in range(4)]
        assert pooled[d]["emb"] == want
        assert pooled[d]["n_chunks"] == len(vs)
    # hash embedder is deterministic and component values are in range
    again = {tuple(r["emb"]) for r in hash_embed(df, dim=4).collect()}
    assert again == {tuple(v) for vs in vecs.values() for v in vs}
    for vs in vecs.values():
        for v in vs:
            assert all(-0.5 <= x < 0.5 for x in v)


def test_semantic_dedup_2l_recovers_planted_any_quantizer(spark):
    """The two-level (coarse->fine) path must recover every planted
    near-dup under ADVERSARIAL random quantizers at both levels (the
    Voronoi-boundary intersection argument applied twice), drop
    nothing else, and keep the candidate join an equi-join on
    (super, fine)."""
    import numpy as np

    from miletos_spark.pipeline.similarity import (
        semantic_dedup_drops,
        semantic_dedup_pairs_2l,
    )

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(80)]
    base = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    planted = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    allv = base.unionByName(planted)
    for k_c, k_f in ((2, 2), (3, 4), (1, 8)):
        coarse = spark.createDataFrame(
            [
                (s, [float(x) for x in rng.standard_normal(64)])
                for s in range(k_c)
            ],
            "super int, center array<double>",
        )
        fine = spark.createDataFrame(
            [
                (s, j, [float(x) for x in rng.standard_normal(64)])
                for s in range(k_c)
                for j in range(k_f)
            ],
            "super int, fine int, center array<double>",
        )
        pairs = semantic_dedup_pairs_2l(
            allv, coarse, fine, threshold=0.9, n_probe=2
        )
        drops = semantic_dedup_drops(pairs)
        got = {(r["dropped_id"], r["kept_id"]) for r in drops.collect()}
        assert got == {(i + 1000, i) for i in range(10)}, (k_c, k_f, got)
        # scale contract: no unbounded cross join anywhere; the only
        # nested-loop shape is the bounded 1-ROW packed-coarse
        # broadcast, which appears textually once per REFERENCE to
        # the cached assignment lineage (left/right of the block
        # join + the nblk agg = 3 references; the InMemoryRelation
        # prints its child plan each time but computes once).
        # Candidates arrive via equi-joins on super and on
        # (super, fine, partner-block) only.
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 8


def test_land_ivf2_index_layout_and_assignment(spark, sf_dir):
    """The landed two-level index: coarse has ~sqrt(k) supers, fine has
    >=k cells total keyed by super, every corpus vector lands in
    exactly one (_super, _fine) bucket, and assignment agrees with a
    brute-force nearest-center replay through the PERSISTED tables."""
    import math

    import numpy as np

    from miletos_spark.pipeline.landing import land_ivf2_index

    paths = land_ivf2_index(spark, sf_dir, n_clusters=8, overwrite=True)
    coarse = spark.read.parquet(paths["coarse"]).collect()
    fine = spark.read.parquet(paths["fine"]).collect()
    cells = spark.read.parquet(paths["cells"])
    k_c = math.isqrt(7) + 1
    assert {r["super"] for r in coarse} == set(range(k_c))
    assert len(fine) >= 8 - k_c  # ceil split, minus possible empties
    n_src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert cells.count() == n_src  # top-1 both levels: one bucket each
    # replay: nearest coarse then nearest fine (ties by cell id) in
    # numpy must match the landed assignment for every vector
    cs = {r["super"]: np.array(r["center"]) for r in coarse}
    fs: dict[int, list] = {}
    for r in fine:
        fs.setdefault(r["super"], []).append((r["fine"], np.array(r["center"])))
    for row in cells.collect():
        v = np.array(row["embedding"], dtype=np.float64)
        want_s = min(
            sorted(cs), key=lambda s: (((v - cs[s]) ** 2).sum(), s)
        )
        cands = sorted(fs[want_s])
        want_f = min(cands, key=lambda t: (((v - t[1]) ** 2).sum(), t[0]))[0]
        assert (row["_super"], row["_fine"]) == (want_s, want_f), row["vec_id"]


def test_semantic_dedup_2l_block_join_equals_bruteforce(spark):
    """With a degenerate 1-cell quantizer and >B rows, every pair is
    co-bucketed and the block-decomposed self-join must reproduce the
    brute-force above-threshold pair set EXACTLY (blocks change task
    shapes, never results)."""
    import numpy as np

    from miletos_spark.pipeline.similarity import semantic_dedup_pairs_2l

    rng = np.random.default_rng(5)
    base = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(150)
    ]
    # plant 30 jittered copies so the survivor set is non-trivial
    planted = [
        (i + 500, [x + 0.01 for x in v]) for i, v in base[:30]
    ]
    rows = base + planted
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse = spark.createDataFrame(
        [(0, [0.0] * 16)], "super int, center array<double>"
    )
    fine = spark.createDataFrame(
        [(0, 0, [0.0] * 16)], "super int, fine int, center array<double>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs_2l(
            df, coarse, fine, threshold=0.9, n_probe=2
        ).collect()
    }
    import math

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )

    want = {
        (a, b)
        for i, (a, u) in enumerate(rows)
        for (b, v) in rows[i + 1:]
        if a < b and cos(u, v) > 0.9
    } | {
        (min(a, b), max(a, b))
        for i, (a, u) in enumerate(rows)
        for (b, v) in rows[i + 1:]
        if a > b and cos(u, v) > 0.9
    }
    assert got == want and len(got) >= 30


def test_semantic_decontaminate_exact_flags_planted_only(spark):
    """The broadcast-exact semantic decontamination (VERDICT r11
    Missing #1): every jittered eval copy in the training corpus is
    flagged against exactly its source, clean vectors are untouched,
    the result equals the brute-force cross join, and the plan never
    shuffles the training side (one linear scan + a broadcast)."""
    import numpy as np

    from miletos_spark.pipeline.similarity import (
        cosine_similarity,
        pack_eval_embeddings,
        semantic_decontaminate,
    )

    rng = np.random.default_rng(23)
    ev = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(12)]
    ev_df = spark.createDataFrame(ev, "vec_id long, embedding array<double>")
    clean = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.standard_normal(64)])
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    planted = ev_df.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    train = clean.unionByName(planted)

    packed = pack_eval_embeddings(ev_df)
    got = semantic_decontaminate(train, packed, threshold=0.9)
    rows = {(r["vec_id"], r["eval_id"]) for r in got.collect()}
    assert rows == {(i + 1000, i) for i in range(12)}
    assert got.filter(F.col("cos_sim") < 0.9).count() == 0

    # brute-force equality (same quantized cosine, same threshold)
    from miletos_spark.functions.scalars import quantize

    brute = (
        train.select(F.col("vec_id"), F.col("embedding").alias("_a"))
        .crossJoin(
            ev_df.select(
                F.col("vec_id").alias("eval_id"),
                F.col("embedding").alias("_b"),
            )
        )
        .withColumn("cos_sim", quantize(cosine_similarity("_a", "_b"), 6))
        .filter(F.col("cos_sim") >= 0.9)
        .select("vec_id", "eval_id", "cos_sim")
    )
    key = lambda r: (r["vec_id"], r["eval_id"], r["cos_sim"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, brute.collect()))

    # scale contract: no shuffle of the train side, no cartesian blowup
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_semantic_decontaminate_indexed_recovers_planted_any_quantizer(spark):
    """The landed-index form must recover every planted contamination
    under ADVERSARIAL random quantizers (the top-n_probe Voronoi
    intersection argument — near-identical vectors always share a
    probed (super, fine) bucket), flag nothing clean, and agree with
    the exact form's quantized cosines on the recovered pairs."""
    import numpy as np

    from miletos_spark.pipeline.similarity import (
        assign_cells_2l,
        semantic_decontaminate_indexed,
    )

    rng = np.random.default_rng(31)
    ev = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(15)]
    ev_df = spark.createDataFrame(ev, "vec_id long, embedding array<double>")
    clean = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.standard_normal(64)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    planted = ev_df.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    train = clean.unionByName(planted)
    for k_c, k_f in ((2, 2), (3, 4)):
        coarse = spark.createDataFrame(
            [(s, [float(x) for x in rng.standard_normal(64)])
             for s in range(k_c)],
            "super int, center array<double>",
        )
        fine = spark.createDataFrame(
            [(s, j, [float(x) for x in rng.standard_normal(64)])
             for s in range(k_c) for j in range(k_f)],
            "super int, fine int, center array<double>",
        )
        # landed eval assignment = top-1 probe (what land_ivf2_index does)
        ev_cells = assign_cells_2l(
            ev_df, coarse, fine, "vec_id", "embedding", 1, 1
        ).select(
            F.col("_id").alias("vec_id"),
            F.col("_v").alias("embedding"),
            F.col("super").alias("_super"),
            F.col("fine").alias("_fine"),
        )
        got = semantic_decontaminate_indexed(
            train, coarse, fine, ev_cells, threshold=0.9, n_probe=2
        )
        rows = {(r["vec_id"], r["eval_id"]) for r in got.collect()}
        assert rows == {(i + 1000, i) for i in range(15)}, (k_c, k_f, rows)


def test_stream_semantic_decontaminate_equals_batch_and_zero_state(
    spark, tmp_path
):
    """The streaming twin is the batch expression verbatim: same
    flagged pairs across a 2-file drain, and the plan carries ZERO
    stateful operators (no aggregate, no watermark — state does not
    even grow with contamination volume)."""
    import numpy as np

    from miletos_spark.plans.driver_queries import _drain_memory_stream
    from miletos_spark.pipeline.similarity import (
        pack_eval_embeddings,
        semantic_decontaminate,
    )
    from miletos_spark.streaming.ingest import stream_semantic_decontaminate

    rng = np.random.default_rng(41)
    ev = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(8)]
    ev_df = spark.createDataFrame(ev, "vec_id long, embedding array<double>")
    clean = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.standard_normal(64)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    planted = ev_df.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    arrivals = clean.unionByName(planted)
    feed = str(tmp_path / "feed")
    arrivals.repartition(2).write.parquet(feed)

    packed = pack_eval_embeddings(ev_df)
    sdf = stream_semantic_decontaminate(
        spark, feed, "vec_id long, embedding array<double>", packed,
        threshold=0.9, max_files_per_trigger=1,
    )
    assert "Aggregate" not in sdf._jdf.queryExecution().analyzed().toString()
    got = _drain_memory_stream(spark, sdf, "t_sdecon_", output_mode="append")
    key = lambda r: (r["vec_id"], r["eval_id"], r["cos_sim"])  # noqa: E731
    want = semantic_decontaminate(arrivals, packed, threshold=0.9)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert got.count() == 8


def test_hoisted_norm_cosine_bit_identical_to_inline(spark):
    """The r14 per-pair verify rewrite hoists `_norm` to one column per
    row and divides one `_dot` by the norm product. That must be
    BIT-identical to the inline `cosine_similarity` form (same folds,
    same operations, just computed once per row) — on vectors that
    include denormals, huge magnitudes, negatives and zeros."""
    import numpy as np

    from miletos_spark.pipeline.similarity import (
        _dot,
        _norm,
        cosine_similarity,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(50):
        a = rng.standard_normal(16) * (10.0 ** rng.integers(-12, 12))
        b = rng.standard_normal(16)
        if i % 7 == 0:
            a[0] = 0.0
        if i % 11 == 0:
            b[3] = 5e-324  # smallest denormal
        rows.append((i, [float(x) for x in a], [float(x) for x in b]))
    df = spark.createDataFrame(
        rows, "i long, a array<double>, b array<double>"
    )
    hoisted = (
        df.withColumn("_na", _norm(F.col("a")))
        .withColumn("_nb", _norm(F.col("b")))
        .select(
            (
                (_dot(F.col("a"), F.col("b")) / (F.col("_na") * F.col("_nb")))
                == cosine_similarity(F.col("a"), F.col("b"))
            ).alias("eq"),
        )
        .collect()
    )
    assert all(r["eq"] for r in hoisted)


def test_semantic_dedup_pairs_2l_cos_sim_bit_equal_to_cosine(spark):
    """`semantic_dedup_pairs_2l` (norms hoisted out of the pair verify,
    r14) must emit cos_sim BIT-equal to a direct `cosine_similarity`
    recompute on the raw vectors of each emitted pair."""
    import numpy as np

    from miletos_spark.pipeline.similarity import (
        cosine_similarity,
        semantic_dedup_pairs_2l,
    )

    rng = np.random.default_rng(3)
    base = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)
    ]
    dup = [
        (1000 + i, [x + 0.001 for x in v]) for i, v in base[:10]
    ]
    df = spark.createDataFrame(
        base + dup, "vec_id long, embedding array<double>"
    )
    cr = rng.standard_normal((2, 8))
    coarse = spark.createDataFrame(
        [(int(s), [float(x) for x in c]) for s, c in enumerate(cr)],
        "super int, center array<double>",
    )
    fr = rng.standard_normal((4, 8))
    fine = spark.createDataFrame(
        [(int(j) // 2, int(j) % 2, [float(x) for x in c])
         for j, c in enumerate(fr)],
        "super int, fine int, center array<double>",
    )
    got = semantic_dedup_pairs_2l(df, coarse, fine, threshold=0.9).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [
        (i, 1000 + i) for i in range(10)
    ]
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = {
        (r["id_a"], r["id_b"]): r["cs"]
        for r in a.join(b, F.col("id_b") == F.col("id_a") + 1000)
        .select(
            "id_a", "id_b",
            cosine_similarity(F.col("va"), F.col("vb")).alias("cs"),
        )
        .collect()
    }
    for r in got:
        assert r["cos_sim"] == want[(r["id_a"], r["id_b"])]


def test_lsh_band_near_dup_pairs_hoisted_norms_bit_identical(spark):
    """`lsh_band_near_dup_pairs` (norms hoisted out of the pair
    verify, r14) must reproduce the planted pair set with cos_sim
    BIT-equal to the inline three-fold cosine formulation."""
    import numpy as np

    from miletos_spark.pipeline.similarity import (
        _dot,
        _norm,
        lsh_band_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    base = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)
    ]
    dup = [(500 + i, [x + 0.01 for x in v]) for i, v in base[:8]]
    df = spark.createDataFrame(
        base + dup, "vec_id long, embedding array<double>"
    )
    got = lsh_band_near_dup_pairs(df, dim=16, threshold=0.9).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [
        (i, 500 + i) for i in range(8)
    ]
    # cos_sim bit-equal to the HOF formulation on the same pairs
    v = F.col("embedding").cast("array<double>")
    a = df.select(F.col("vec_id").alias("id_a"), v.alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), v.alias("vb"))
    want = {
        (r["id_a"], r["id_b"]): r["cs"]
        for r in a.join(b, F.col("id_b") == F.col("id_a") + 500)
        .select(
            "id_a", "id_b",
            (
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb")))
            ).alias("cs"),
        )
        .collect()
    }
    for r in got:
        assert r["cos_sim"] == want[(r["id_a"], r["id_b"])]
