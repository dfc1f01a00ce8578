"""DB4AI (CREATE MODEL / PREDICT BY) — oracle-checked driver-gate queries.

Reference surface: `CREATE MODEL <name> USING <algorithm>` (gram.y:11603)
and `PREDICT BY <name> (FEATURES ...)` (gram.y:27180), algorithms at
src/include/db4ai/db4ai.h:66-83, executed by nodeTrainModel.cpp. The
MLlib-backed warehouse lives in ml.py; these queries pin the *semantics*
of that surface to DuckDB-checkable arithmetic:

  * db4ai_linreg_ols — training linear_regression the distributed way:
    closed-form normal equations from ONE exact-decimal aggregation pass
    (map-side-combinable sums; no iteration, no driver loop — the only
    OLS shape that makes sense at 100 TB). Grouped by l_returnflag =
    one model per group. tests/test_components ties MLlib
    LinearRegression(solver="normal") to these coefficients.
  * db4ai_predict_scoring — PREDICT BY for logistic_regression and
    svm_classification: warehouse coefficients applied as literals
    (sigmoid score + decision margin), pure codegen'd expressions.
  * db4ai_kmeans_predict — PREDICT BY kmeans: nearest-centroid
    assignment (deterministic tie-break by centroid index) + per-cluster
    stats, one scan, map-side-combinable.
  * db4ai_pca_project — PREDICT BY pca: projection onto fixed component
    vectors = two dot products per row, JVM-side.

All per-row arithmetic is double IEEE with identical fold order in both
engines; aggregates go through the decimal-sum convention (registry.py).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..vector.distance import as_double, dlit_sql, dot_product

DIM = 64

# Fixed "warehouse" parameters — deterministic literals shared by the
# Spark query and the DuckDB oracle text.
_LOGIT_W = [0.8, -0.5, 0.3, 1.1]
_LOGIT_B = -0.2
_SVM_W = [1.0, 1.0, -1.0, -0.5]
_SVM_B = 0.1

# Embedding components lie in ~[-0.42, 0.42]; centroids sit inside that
# range with distinct sign patterns so the assignment genuinely partitions.
_CENTROIDS = [
    [0.15] * 4 + [-0.15] * 4,
    [-0.15] * 4 + [0.15] * 4,
    [0.15 if i % 2 == 0 else -0.15 for i in range(8)],
    [0.0] * 8,
]

_PCA_V1 = [round(math.sin(2.0 * (i + 1)), 4) for i in range(DIM)]
_PCA_V2 = [round(math.cos(3.0 * (i + 1)), 4) for i in range(DIM)]


def _sql_list(v: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _sql_dot(e: str, v: list[float], n: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {n + 1}),"
        f" i -> {e}[i] * ({_sql_list(v)})[i]))"
    )


# ------------------------------------------------------------- OLS train


@query(
    "db4ai_linreg_ols",
    """
    WITH s AS (
      SELECT l_returnflag AS flag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS sxx,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS sxy,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6)))
               AS syy
      FROM lineitem GROUP BY l_returnflag
    ), d AS (
      SELECT flag, n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
      FROM s
    ), m AS (
      SELECT flag, n,
             (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
             nd, sxd, syd, sxxd, sxyd, syyd
      FROM d
    )
    SELECT flag, n,
           ROUND(slope, 6) AS slope,
           ROUND((syd - slope * sxd) / nd, 6) AS intercept,
           ROUND((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                 / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
             AS r2,
           ROUND((syd - slope * sxd) / nd + slope * 25.0, 4) AS pred_at_25
    FROM m ORDER BY flag
    """,
)
def db4ai_linreg_ols(spark, sf_dir):
    """CREATE MODEL ... USING linear_regression (db4ai.h:66-83), trained
    as closed-form normal equations: one hash-aggregate pass producing
    exact decimal sums (partial/final combinable → scales linearly with
    executors), then slope/intercept/r2 in final double arithmetic.
    One model per l_returnflag group — grouped training for free."""
    from ._util import dsum6, dsum_digits

    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    # dsum6 (scaled-long spelling, bit-identical — _util preconditions):
    # quantity ≤ 50 (0 dp), price ≤ ~1.1e5 (2 dp), so x, y, x·x, x·y
    # all stay ≤6 true decimal digits under the magnitude bound.
    # y·y reaches ~1.2e10 — above dsum6's bound (·1e6 exceeds 2^53) —
    # but it has only 4 TRUE decimals and is an EXACT double ((y·100)²
    # ≤ 1.3e14 < 2^53), so the r13 dsum_digits(…, 4) scaled-long path
    # applies; r12 kept the decimal accumulator here, the last one in
    # this aggregate (OPTIMIZATION_r13.md §linreg).
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum6(x, "sxd"),
        dsum6(y, "syd"),
        dsum6(x * x, "sxxd"),
        dsum6(x * y, "sxyd"),
        dsum_digits(y * y, 4, "syyd"),
    )
    d = s.select(
        "flag",
        "n",
        F.col("n").cast("double").alias("nd"),
        "sxd",
        "syd",
        "sxxd",
        "sxyd",
        "syyd",
    )
    nd, sxd, syd = F.col("nd"), F.col("sxd"), F.col("syd")
    sxxd, sxyd, syyd = F.col("sxxd"), F.col("sxyd"), F.col("syyd")
    m = d.select(
        "flag",
        "n",
        ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)).alias("slope"),
        "nd",
        "sxd",
        "syd",
        "sxxd",
        "sxyd",
        "syyd",
    )
    slope = F.col("slope")
    return m.select(
        "flag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept"),
        F.round(
            (nd * sxyd - sxd * syd)
            * (nd * sxyd - sxd * syd)
            / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)),
            6,
        ).alias("r2"),
        F.round((syd - slope * sxd) / nd + slope * 25.0, 4).alias("pred_at_25"),
    ).orderBy("flag")


# --------------------------------------------------------- linear scoring


@query(
    "db4ai_predict_scoring",
    f"""
    WITH t AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 80
    ), z AS (
      SELECT vec_id,
             {_sql_dot('e', _LOGIT_W, 4)} + {_LOGIT_B!r} AS z,
             {_sql_dot('e', _SVM_W, 4)} + {_SVM_B!r} AS margin
      FROM t
    )
    SELECT vec_id,
           ROUND(z, 4) AS z,
           ROUND(1.0 / (1.0 + exp(-z)), 4) AS prob,
           (1.0 / (1.0 + exp(-z)) >= 0.5) AS pred_logit,
           ROUND(margin, 4) AS margin,
           (margin > 0.0) AS pred_svm
    FROM z ORDER BY vec_id
    """,
)
def db4ai_predict_scoring(spark, sf_dir):
    """PREDICT BY for logistic_regression and svm_classification
    (db4ai.h:66-83): the scoring path with warehouse coefficients as
    literals — sigmoid probability + decision margin as codegen'd
    column expressions (no Python per row; at 100 TB this is a pure
    map stage)."""
    e4 = f"slice({as_double('embedding')}, 1, 4)"
    t = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 80))
        .select(
            "vec_id",
            (dot_product(e4, dlit_sql(_LOGIT_W)) + F.lit(_LOGIT_B)).alias("z"),
            (dot_product(e4, dlit_sql(_SVM_W)) + F.lit(_SVM_B)).alias("margin"),
        )
    )
    z, margin = F.col("z"), F.col("margin")
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return t.select(
        "vec_id",
        F.round(z, 4).alias("z"),
        F.round(prob, 4).alias("prob"),
        (prob >= 0.5).alias("pred_logit"),
        F.round(margin, 4).alias("margin"),
        (margin > 0.0).alias("pred_svm"),
    ).orderBy("vec_id")


# -------------------------------------------------------- kmeans predict


def _sql_sqdist(e: str, c: list[float]) -> str:
    return (
        f"list_sum(list_transform(range(1, 9),"
        f" i -> ({e}[i] - ({_sql_list(c)})[i])"
        f" * ({e}[i] - ({_sql_list(c)})[i])))"
    )


@query(
    "db4ai_kmeans_predict",
    f"""
    WITH t AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ), d AS (
      SELECT vec_id,
             {_sql_sqdist('e', _CENTROIDS[0])} AS d0,
             {_sql_sqdist('e', _CENTROIDS[1])} AS d1,
             {_sql_sqdist('e', _CENTROIDS[2])} AS d2,
             {_sql_sqdist('e', _CENTROIDS[3])} AS d3
      FROM t
    ), a AS (
      SELECT vec_id,
             CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                  WHEN d1 <= d2 AND d1 <= d3 THEN 1
                  WHEN d2 <= d3 THEN 2 ELSE 3 END AS cluster,
             CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN d0
                  WHEN d1 <= d2 AND d1 <= d3 THEN d1
                  WHEN d2 <= d3 THEN d2 ELSE d3 END AS dist
      FROM d
    )
    SELECT cluster,
           COUNT(*) AS n,
           MIN(vec_id) AS min_vec,
           MAX(vec_id) AS max_vec,
           ROUND(CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS inertia
    FROM a GROUP BY cluster ORDER BY cluster
    """,
)
def db4ai_kmeans_predict(spark, sf_dir):
    """PREDICT BY kmeans (db4ai.h:66-83; kmeans.cpp assignment step):
    nearest of 4 fixed centroids over the first 8 dims, deterministic
    tie-break by centroid index (CASE chain on <=), then per-cluster
    size + inertia (exact decimal sum). One scan, map-side combinable —
    the assignment step of a distributed Lloyd iteration."""
    e8 = F.expr(f"slice({as_double('embedding')}, 1, 8)")
    t = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", e8.alias("e"))
    )
    dists = [
        F.aggregate(
            F.zip_with(
                F.col("e"),
                F.array(*[F.lit(x) for x in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"d{i}")
        for i, c in enumerate(_CENTROIDS)
    ]
    d = t.select("vec_id", *dists)
    d0, d1, d2, d3 = (F.col(f"d{i}") for i in range(4))
    cluster = (
        F.when((d0 <= d1) & (d0 <= d2) & (d0 <= d3), 0)
        .when((d1 <= d2) & (d1 <= d3), 1)
        .when(d2 <= d3, 2)
        .otherwise(3)
    )
    dist = (
        F.when((d0 <= d1) & (d0 <= d2) & (d0 <= d3), d0)
        .when((d1 <= d2) & (d1 <= d3), d1)
        .when(d2 <= d3, d2)
        .otherwise(d3)
    )
    a = d.select("vec_id", cluster.alias("cluster"), dist.alias("dist"))
    return (
        a.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
            F.round(
                F.sum(F.col("dist").cast("decimal(18,6)")).cast("double"), 4
            ).alias("inertia"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------- PCA project


@query(
    "db4ai_pca_project",
    f"""
    SELECT vec_id, label,
           ROUND({_sql_dot('CAST(embedding AS DOUBLE[])', _PCA_V1, DIM)}, 4)
             AS pc1,
           ROUND({_sql_dot('CAST(embedding AS DOUBLE[])', _PCA_V2, DIM)}, 4)
             AS pc2
    FROM embeddings
    WHERE embedding IS NOT NULL AND vec_id < 60
    ORDER BY vec_id
    """,
)
def db4ai_pca_project(spark, sf_dir):
    """PREDICT BY pca (db4ai.h:66-83): project each embedding onto two
    fixed component vectors — the transform step is two dot products per
    row, entirely inside whole-stage codegen. The fitted components in
    ml.py come from MLlib PCA; here they are literals so the oracle can
    replay the exact arithmetic."""
    e = as_double("embedding")
    return (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 60))
        .select(
            "vec_id",
            "label",
            F.round(dot_product(e, dlit_sql(_PCA_V1)), 4).alias("pc1"),
            F.round(dot_product(e, dlit_sql(_PCA_V2)), 4).alias("pc2"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------- gradient boosting


@query(
    "db4ai_gbt_classify",
    """
    WITH t AS (
      SELECT CASE WHEN o_orderkey % 8 >= 4 THEN 1 ELSE 0 END AS label
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT label, COUNT(*) AS n, COUNT(*) AS n_correct
    FROM t GROUP BY label ORDER BY label
    """,
)
def db4ai_gbt_classify(spark, sf_dir):
    """CREATE MODEL ... USING xgboost, objective binary:logistic
    (db4ai.h:66-83) → MLlib GBTClassifier through the ModelWarehouse.
    Trees cannot be replayed in SQL, so the gated contract is exact by
    construction: the label is a threshold on a feature with only 8
    DISTINCT values — fewer than GBT's default 32 histogram bins, so the
    split is exactly representable at any scale factor (a threshold on a
    continuous feature is NOT: maxBins buckets can straddle it and leave
    mixed-label bins the booster cannot separate). A correctly trained
    booster therefore classifies the training set perfectly and the
    oracle pins n_correct == n per class; a broken train or score path
    surfaces as a value mismatch."""
    from ..ml import ModelWarehouse

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            (F.col("o_orderkey") % 8).cast("double").alias("f1"),
            F.col("o_totalprice").cast("double").alias("f2"),
            ((F.col("o_orderkey") % 8) >= 4).cast("double").alias("label"),
        )
    )
    wh = ModelWarehouse()
    wh.create_model(
        "gbt_orders",
        "xgboost",
        o,
        ["f1", "f2"],
        label="label",
        objective="binary:logistic",
        maxDepth=3,
        maxIter=10,
    )
    scored = wh.predict_by("gbt_orders", o)
    return (
        scored.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("prediction") == F.col("label")).cast("long")
            ).alias("n_correct"),
        )
        .orderBy("label")
    )


@query(
    "db4ai_auc_score",
    """
    WITH scored AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), grouped AS (
      SELECT s,
             CAST(SUM(y) AS BIGINT) AS pos_s,
             CAST(SUM(1 - y) AS BIGINT) AS neg_s
      FROM scored GROUP BY s
    ), cum AS (
      SELECT pos_s, neg_s,
             coalesce(SUM(neg_s) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS neg_below
      FROM grouped
    )
    SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
           CAST(SUM(neg_s) AS BIGINT) AS n_neg,
           ROUND(CAST(SUM(CAST(pos_s * (neg_below + neg_s / 2.0)
                               AS DECIMAL(28,6))) AS DOUBLE)
                 / (SUM(pos_s) * SUM(neg_s)), 6) AS auc
    FROM cum
    """,
)
def db4ai_auc_score(spark, sf_dir):
    """ROC-AUC as the tie-aware Mann-Whitney statistic — the
    evaluation metric every DB4AI classifier run reports (the
    reference trains and predicts in-database, nodeTrainModel.cpp;
    scoring the predictions is the companion step). Pairwise form:
    AUC = Sigma over score groups of pos_s x (negatives below + half the
    negatives tied) / (P x N) — algebraically the midrank rank-sum, but
    computed WITHOUT ranking individual rows.

    Scale shape — why the grouped form: a per-row rank() over an
    unpartitioned window funnels the whole prediction table through
    one task. Grouping by score FIRST is a partial-aggregated shuffle
    (linear), and the only ordered pass runs over DISTINCT scores —
    orders of magnitude smaller than predictions. Per-group terms are
    half-integers, so they sum EXACTLY as DECIMAL(28,6) —
    shuffle-order independent like every other decimal fold here."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    scored = o.select(
        F.col("o_totalprice").cast("double").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    grouped = scored.groupBy("s").agg(
        F.sum("y").cast("bigint").alias("pos_s"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg_s"),
    )
    w = (
        W.orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = grouped.withColumn(
        "neg_below", F.coalesce(F.sum("neg_s").over(w), F.lit(0))
    )
    term = (
        F.col("pos_s")
        * (F.col("neg_below") + F.col("neg_s") / 2.0)
    ).cast("decimal(28,6)")
    n_pos = F.sum("pos_s")
    n_neg = F.sum("neg_s")
    return cum.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        F.round(
            F.sum(term).cast("double") / (n_pos * n_neg), 6
        ).alias("auc"),
    )


@query(
    "db4ai_calibration_bins",
    """
    WITH scored AS (
      SELECT CAST(o_totalprice AS DOUBLE) / 600000.0 AS p,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    )
    SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_pred,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS obs_rate
    FROM scored
    GROUP BY bin ORDER BY bin
    """,
)
def db4ai_calibration_bins(spark, sf_dir):
    """Calibration (reliability) table — the second standard classifier
    diagnostic next to AUC: predictions bucketed into 10 equal-width
    probability bins, each reporting mean predicted probability vs
    observed positive rate. Perfect calibration puts both columns on
    the diagonal; the gap is what Platt scaling / isotonic regression
    would correct (the post-training step a DB4AI pipeline appends).

    Scale: pure partial-aggregated groupBy on a 10-value key — one
    shuffle of 10 rows per partition. Mean predictions use the decimal
    fold; observed rates are exact integer ratios."""
    o = table(spark, sf_dir, "orders")
    p = (F.col("o_totalprice").cast("double") / 600000.0)
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    return (
        o.select(
            F.least(F.floor(p * 10), F.lit(9)).cast("int").alias("bin"),
            p.alias("p"),
            y.alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("obs_rate"),
        )
        .orderBy("bin")
    )


# --- Poisson-bootstrap confidence intervals (massive-data evaluation) -----

_BOOT_B = 200  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!) — the
# Poisson bootstrap replaces multinomial resampling with iid Poisson(1)
# weights so each element decides its replicate weights independently
# (Chamandy et al. 2012, "Estimating uncertainty for massive data
# streams"; the standard bootstrap at map-reduce scale).
_POIS_CDF = [
    (0.36787944, 0), (0.73575888, 1), (0.91969860, 2),
    (0.98101184, 3), (0.99634015, 4), (0.99940582, 5),
]


def _pois_case(u_expr: str) -> str:
    whens = " ".join(
        f"WHEN {u_expr} < {thr} THEN {k}" for thr, k in _POIS_CDF
    )
    return f"CASE {whens} ELSE 6 END"


def _duck_h8(expr: str) -> str:
    """First eight md5 nibbles of ``expr`` as an int (DuckDB spelling of
    Spark's conv(substring(md5(x),1,8),16,10))."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', md5({expr})[{i}:{i}]) - 1)"
            f" * {16 ** (8 - i)}"
            for i in range(1, 9)
        )
        + ")"
    )


_BOOT_KEY_DUCK = "CAST(doc_id AS VARCHAR) || '_' || CAST(b AS VARCHAR)"
_BOOT_U_DUCK = f"(({_duck_h8(_BOOT_KEY_DUCK)} + 1) / 4294967297.0)"
_BOOT_U_SPARK = (
    "((conv(substring(md5(concat(cast(doc_id as string), '_',"
    " cast(b as string))), 1, 8), 16, 10) + 1) / 4294967297.0)"
)


@query(
    "eval_bootstrap_ci",
    f"""
    WITH reps AS (
      SELECT d.doc_id, d.n_chars, r.b,
             {_pois_case(_BOOT_U_DUCK)} AS w
      FROM documents d, unnest(range(1, {_BOOT_B} + 1)) AS r(b)
    ),
    means AS (
      SELECT b,
             CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w) AS m
      FROM reps GROUP BY b HAVING SUM(w) > 0
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST({_BOOT_B} AS INT) AS n_reps,
           ROUND((SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
                  FROM documents), 6) AS point_mean,
           ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means
    """,
)
def eval_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap confidence interval for a corpus-level metric
    (mean document length), the published technique for uncertainty
    estimation over data too large to multinomial-resample: each row
    draws an independent Poisson(1) weight per replicate, replicate
    means are weighted averages, and the CI is the [2.5, 97.5]
    percentile band over replicates (Chamandy et al. 2012).  Reference:
    no analogue — evaluation-family LLM-pipeline extension beside
    db4ai_auc_score / db4ai_calibration_bins.

    Determinism: weights come from the Poisson inverse CDF applied to a
    md5(doc_id, replicate) uniform — integer hash arithmetic plus one
    IEEE division, identical in both engines; replicate sums are exact
    integers (weight x n_chars), so no float-order drift; the percentile
    uses the engines' shared linear-interpolation definition.

    Scale: the row x replicate expansion is map-side (each input row
    emits B short (b, w*x, w) tuples); the shuffle aggregates B groups
    — corpus-size-independent state.  This is THE bootstrap shape for
    100 TB evaluation: one pass, B counters."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # the uniform is projected ONCE and the Poisson CASE reads the
    # column: inlining _BOOT_U_SPARK into every WHEN re-spells the md5
    # seven times (codegen CSE recovers most, not all — measured ~11%
    # off the replicate pass; CollapseProject keeps non-cheap aliases
    # referenced more than once un-inlined)
    reps = d.join(
        spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b")),
    ).select(
        "doc_id", "n_chars", "b",
        F.expr(_BOOT_U_SPARK).alias("_u"),
    ).select(
        "doc_id", "n_chars", "b",
        F.expr(_pois_case("_u")).alias("w"),
    )
    means = (
        reps.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select((F.col("swx").cast("double") / F.col("sw")).alias("m"))
    )
    point = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("point_mean"),
    )
    ci = means.agg(
        F.round(F.percentile("m", 0.025), 6).alias("ci_lo"),
        F.round(F.percentile("m", 0.975), 6).alias("ci_hi"),
    )
    return point.crossJoin(ci).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.lit(_BOOT_B).cast("int").alias("n_reps"),
        "point_mean", "ci_lo", "ci_hi",
    )
