"""Distributed one-pass trained linear probe (quality / language
classifier training ON the cluster).

The hand-weighted ``quality_classifier`` (text.py) is the CCNet-style
*apply* side; real pipelines also TRAIN such filters on the corpus.
At 100 TB the only sane linear-model trainer is sufficient statistics:
least squares on +/-1 labels (Fisher discriminant) needs exactly one
corpus pass computing the d(d+1)/2 + d Gram moments X'X and X'y — a
single map-side-combined aggregation — after which the solve is an
O(d^3) problem on d+1 scalars. Nothing iterative touches the corpus
(contrast pipeline/bpe_train.py, whose merge loop is vocab-bound).

Cross-engine exactness (the oracle story):

- Per-row features are exact int/int divisions and bounded chains of
  correctly-rounded IEEE ops — bit-identical in any engine (same
  analysis as ``quality_classifier``, driver-proven green).
- Moments are order-independent decimal(38,18) sums of per-row double
  products (the repo's standard box-aggregation convention), so
  repartitioning cannot change a single bit.
- The Gauss-Jordan solve is GENERATED ONCE as Spark-SQL/DuckDB-shared
  expression strings (`gauss_jordan_steps`): Spark applies them with
  ``selectExpr`` on the single moments row, the oracle pastes the very
  same strings into chained CTEs. Identical token stream -> identical
  IEEE op sequence -> bit-identical weights. No pivoting is needed:
  the ridge term keeps every pivot positive (X'X + lambda*I is
  symmetric positive definite).

Reference anchor: the reference has no trainer counterpart (its model
stack fits physics params, miletos/main.py:941-1100); this op family
comes from the builder brief's training-data-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Ridge added to the Gram diagonal: guarantees an invertible system
# (and bounded pivots) regardless of feature collinearity. Written as
# a shared SQL literal so both engines parse it as DOUBLE.
PROBE_RIDGE_SQL = "1e-3"

#: feature names in matrix order; x0 is the intercept column of ones.
PROBE_FEATURES = ["intercept", "f_len", "f_word", "punct", "digit", "upper"]


def probe_feature_cols(t: Column) -> dict[str, Column]:
    """The five probe features as Columns, op-for-op identical to
    ``text.quality_logit`` (whose DuckDB twin `_sql_quality_ctes` is
    driver-proven): bounded token count, bounded mean word length, and
    the punct/digit/upper character ratios. All exact rationals or
    single correctly-rounded IEEE ops per step."""
    from miletos_spark.pipeline.text import token_count

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
    return {
        "f_len": f_len,
        "f_word": f_word,
        "punct": punct,
        "digit": digit,
        "upper": upper,
    }


def probe_features(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, x1..x5, y) feature frame; y must already be +/-1.0."""
    cols = probe_feature_cols(F.col(text_col))
    return docs.select(
        F.col(id_col),
        cols["f_len"].alias("x1"),
        cols["f_word"].alias("x2"),
        cols["punct"].alias("x3"),
        cols["digit"].alias("x4"),
        cols["upper"].alias("x5"),
        label.alias("y"),
    )


def _dec_sum_sql(prod: str) -> str:
    # Order-independent fixed-point sum (repo box-agg convention), as
    # SQL text: one parsed expression instead of a built Column
    return f"CAST(sum(CAST({prod} AS DECIMAL(38,18))) AS DOUBLE)"


def _moment_exprs(prods: "dict[str, str]", d: int) -> "list[str]":
    """The d x (d+1) augmented-system aggregate as SQL TEXT, one parsed
    `selectExpr` instead of ~6 py4j calls per entry (r14, the
    `landing._argmin_cell_expr` lesson): ridge on the diagonal, decimal
    order-independent sums everywhere — the exact cast sequence of the
    old Column spelling (asserted bit-identical in tests)."""
    exprs = []
    for i in range(d):
        for j in range(d + 1):
            nm = f"a_{i}_{j}"
            m = _dec_sum_sql(prods[nm])
            if i == j:
                m = f"({m} + CAST({PROBE_RIDGE_SQL} AS DOUBLE))"
            exprs.append(f"{m} AS {nm}")
    return exprs


def gram_moments(feats: DataFrame, d: int = 6) -> DataFrame:
    """One corpus pass -> the single-row augmented system
    a_i_j = (X'X + ridge*I | X'y), with x0 = 1 (intercept). This is
    the ONLY stage that touches the corpus; it is a plain groupBy-free
    aggregate, so Spark map-side-combines it and the shuffle is one
    row per partition. Built as ONE parsed selectExpr (aggregates are
    legal there) — the Column spelling paid a py4j round-trip per
    operator, ~250 calls of flat driver time per invocation."""
    xs = ["CAST(1.0 AS DOUBLE)"] + [f"x{i}" for i in range(1, d)]
    prods = {}
    for i in range(d):
        for j in range(d):
            a, b = min(i, j), max(i, j)
            prods[f"a_{i}_{j}"] = f"({xs[a]} * {xs[b]})"
        prods[f"a_{i}_{d}"] = f"({xs[i]} * y)"
    return feats.selectExpr(*_moment_exprs(prods, d))


def gauss_jordan_steps(d: int = 6) -> list[list[str]]:
    """Pivot-free Gauss-Jordan elimination over the augmented columns
    a_i_j (i in 0..d-1, j in 0..d), emitted as engine-shared SQL
    expression strings: step k eliminates column k from every other
    row; the final step divides out the diagonal into w0..w{d-1}.
    Spark runs each step as one ``selectExpr`` on the single-row
    moments frame; the DuckDB oracle pastes the identical strings into
    chained CTEs — same token stream, bit-identical solve."""
    steps = []
    for k in range(d):
        exprs = []
        for i in range(d):
            for j in range(d + 1):
                nm = f"a_{i}_{j}"
                if i == k:
                    exprs.append(nm)
                else:
                    exprs.append(
                        f"(a_{i}_{j} - (a_{i}_{k} / a_{k}_{k}) * a_{k}_{j})"
                        f" AS {nm}"
                    )
        steps.append(exprs)
    steps.append(
        [f"(a_{j}_{d} / a_{j}_{j}) AS w{j}" for j in range(d)]
    )
    return steps


def probe_score_expr(d: int = 6) -> str:
    """Engine-shared scoring expression: the linear logit as one fixed
    left-to-right chain (NEVER sigmoid — exp is only ~1-ulp portable
    across libms; monotonicity makes the thresholds equivalent)."""
    terms = ["w0"] + [f"w{i} * x{i}" for i in range(1, d)]
    return " + ".join(terms)


def train_linear_probe(feats: DataFrame, d: int = 6) -> DataFrame:
    """Single-row DataFrame of trained weights w0..w{d-1}. Fully
    declarative — no driver-side collect; the solve is d+1 chained
    projections on one row."""
    m = gram_moments(feats, d)
    for step in gauss_jordan_steps(d):
        m = m.selectExpr(*step)
    return m


def score_linear_probe(
    feats: DataFrame, weights: DataFrame, d: int = 6
) -> DataFrame:
    """(id, logit, pred, label): broadcast the 1-row weights frame and
    score every doc with the shared linear-chain expression."""
    scored = feats.crossJoin(F.broadcast(weights))
    return scored.selectExpr(
        "doc_id",
        f"({probe_score_expr(d)}) AS logit",
        f"(({probe_score_expr(d)}) > CAST(0.0 AS DOUBLE)) AS pred",
        "CAST(y AS INT) AS label",
    )


# --- IRLS logistic probe (r9) -----------------------------------------------

#: eta clamp for the IRLS sigmoid: keeps p in [~2e-6, 1-2e-6] so the
#: working weight s = p(1-p) never rounds to zero on separable data
#: (standard IRLS safeguarding; written as a shared SQL literal).
IRLS_ETA_CLAMP_SQL = "13.0"

#: fixed IRLS iteration count — the oracle replays exactly this many
#: reweighted passes, so the count is part of the checked contract.
IRLS_ITERS = 3


def irls_row_exprs(d: int = 6) -> "list[str]":
    """Engine-shared per-row strings for one IRLS pass over a row that
    already carries the current weights w0..w{d-1}: the linear
    predictor eta (the probe's scoring chain), the CLAMPED rounded
    sigmoid p, the working weight s = p(1-p) and working response
    z = eta + (y01 - p)/s. Two quantization guards make the only
    libm-dependent op (exp) hash-safe: eta is clamped to ±13 before
    exp, and p is rounded at 12 decimals — a 1-ulp cross-engine exp
    divergence flips the rounded p only within ~1e-16 of a 5e-13
    boundary, and the corpus is frozen, so agreement is checked, not
    hoped for (sigmoid values are irrational: no terminating-decimal
    tie class). Returned as two sequential projections (eta must be a
    real attribute before p references it)."""
    eta = probe_score_expr(d)
    c = IRLS_ETA_CLAMP_SQL
    clamp = (
        f"least(greatest(eta, CAST(-{c} AS DOUBLE)), CAST({c} AS DOUBLE))"
    )
    return [
        f"({eta}) AS eta",
        f"round(1.0 / (1.0 + exp(-({clamp}))), 12) AS p",
    ]


IRLS_S_EXPR = "(p * (1.0 - p))"
IRLS_Z_EXPR = (
    "(eta + (((CAST(y AS DOUBLE) + 1.0) / 2.0) - p) / (p * (1.0 - p)))"
)


def irls_moment_prods(d: int = 6) -> "dict[str, str]":
    """Engine-shared PRODUCT strings for the weighted Gram moments:
    m_i_j = s * x_i * x_j and rhs_i = s * x_i * z, with
    x_0 = CAST(1.0 AS DOUBLE) (the intercept). Both engines wrap these
    identical strings in their own order-independent decimal-sum
    spelling (Spark cast(decimal(38,18)); DuckDB the VARCHAR-hop) —
    the repo's box-aggregation convention."""
    xs = ["CAST(1.0 AS DOUBLE)"] + [f"x{i}" for i in range(1, d)]
    prods = {}
    for i in range(d):
        for j in range(d):
            a, b = min(i, j), max(i, j)
            prods[f"a_{i}_{j}"] = f"(s * {xs[a]} * {xs[b]})"
        prods[f"a_{i}_{d}"] = f"(s * {xs[i]} * z)"
    return prods


def train_logistic_probe_irls(
    feats: DataFrame, d: int = 6, iters: int = IRLS_ITERS
) -> DataFrame:
    """LOGISTIC probe via IRLS — `iters` fixed reweighted Gram-moment
    passes, each one the existing single-aggregation shape with a
    weight column, plus the SAME engine-shared Gauss-Jordan solve as
    the least-squares probe (`gauss_jordan_steps`, reused verbatim).

    Starts from w = 0 (p = 0.5 exactly, so pass 1 degenerates to the
    least-squares system on response 2y — the standard IRLS start);
    each pass scores the corpus with the current 1-row weights frame
    (broadcast), computes the per-row working weight/response with
    `irls_row_exprs` (clamped, quantized sigmoid — the only exp in
    the repo's checked surface), aggregates the weighted moments as
    order-independent decimal sums, and re-solves. Corpus passes:
    `iters`; nothing else is iterative. Returns the 1-row weights
    frame w0..w{d-1}."""
    sp = feats.sparkSession
    w = sp.range(1).selectExpr(
        *[f"CAST(0.0 AS DOUBLE) AS w{i}" for i in range(d)]
    )
    prods = irls_moment_prods(d)
    for _ in range(iters):
        scored = feats.crossJoin(F.broadcast(w))
        base = [f"x{i}" for i in range(1, d)] + ["y"]
        scored = scored.selectExpr(*base, "w0",
                                   *[f"w{i}" for i in range(1, d)],
                                   irls_row_exprs(d)[0])
        scored = scored.selectExpr(*base, "eta", irls_row_exprs(d)[1])
        scored = scored.selectExpr(
            *base, "eta", "p",
            f"{IRLS_S_EXPR} AS s", f"{IRLS_Z_EXPR} AS z",
        )
        # one parsed selectExpr for the whole weighted augmented system
        # (aggregates are legal there) — the Column spelling paid ~6
        # py4j round-trips per a_i_j PER ITERATION (r14); cast sequence
        # identical, weights bit-identical (tests)
        m_row = scored.selectExpr(*_moment_exprs(prods, d))
        for step in gauss_jordan_steps(d):
            m_row = m_row.selectExpr(*step)
        w = m_row
    return w
