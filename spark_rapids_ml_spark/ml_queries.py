"""Declared queries for the ML (PCA) surface.

The covariance matrix and mean vector are SQL-expressible, so the
distributed linear-algebra path is cross-checked against DuckDB
(covar_samp / avg over unnested vector elements) — the strongest
check available for the reference-parity core. The eigen-stage
outputs (components, explained variance) are rows-only here and
verified against a numpy oracle in tests/test_pca.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from spark_rapids_ml_spark.functions.portable import duck_round, hash60, sql_hash60
from spark_rapids_ml_spark.ml.pca import (
    PCA,
    compute_column_means,
    compute_covariance,
    compute_covariance_spr,
)
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.sources.catalog import load

_SQL_ELEM = """
  SELECT vec_id, u.pos, u.val
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings) e
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(emb))), unnest(emb)
  ) u(pos, val)
"""


@register(
    "pca_mean_vector",
    tags=("ml", "pca"),
    oracle=f"""
WITH elem AS ({_SQL_ELEM})
SELECT CAST(pos - 1 AS BIGINT) AS dim, ROUND(AVG(val), 6) AS mean_val
FROM elem GROUP BY pos ORDER BY dim
""",
)
def pca_mean_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's distributed column-mean (pass 1 of PCA fit,
    parity with Statistics.colStats, RapidsRowMatrix.scala:152-166).
    Colsum-only scan — O(d) shuffle, never forms the O(d²) Gram."""
    e = load(spark, sf_dir, "embeddings")
    mean, _n = compute_column_means(e, "embedding")
    rows = [(int(i), duck_round(v, 6)) for i, v in enumerate(mean)]
    schema = StructType(
        [StructField("dim", LongType()), StructField("mean_val", DoubleType())]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "pca_covariance_matrix",
    tags=("ml", "pca"),
    bench=True,
    oracle=f"""
WITH elem AS ({_SQL_ELEM})
SELECT CAST(a.pos - 1 AS BIGINT) AS i, CAST(b.pos - 1 AS BIGINT) AS j,
       -- + 0 normalizes IEEE -0.0 to +0.0: near-zero covariances round
       -- to a signed zero whose SIGN is summation-order-dependent and
       -- so differs across engines (first seen at the sf1 scale probe)
       ROUND(covar_samp(a.val, b.val), 6) + 0 AS cov
FROM elem a JOIN elem b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY a.pos, b.pos
ORDER BY i, j
""",
)
def pca_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance (one mapInArrow job of per-partition Gram
    partials, summed on the driver in partition order) vs DuckDB covar_samp over every element pair — the direct
    correctness gate for the reference's computeCovariance
    (RapidsRowMatrix.scala:149-257). Upper triangle only (symmetric).
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    cov, _mean, _n = compute_covariance(e, "embedding", mean_centering=True)
    return _cov_df(spark, cov)


def _cov_df(spark: SparkSession, cov):
    """Upper triangle of a covariance matrix as (i, j, cov) rows,
    rounded with DuckDB ROUND semantics (half away from zero — np.round
    is banker's and would flip a .5e-6 tie)."""
    import numpy as np
    import pandas as pd

    n = cov.shape[0]
    iu = np.triu_indices(n)
    v = cov[iu] * 1e6
    pdf = pd.DataFrame(
        {
            "i": iu[0].astype("int64"),
            "j": iu[1].astype("int64"),
            # + 0.0 normalizes -0.0 (sign of a rounded-to-zero cov is
            # summation-order noise, not signal — mirrors the oracle)
            "cov": np.copysign(np.floor(np.abs(v) + 0.5), v) / 1e6 + 0.0,
        }
    )
    return spark.createDataFrame(pdf)  # Arrow path — no py4j row loop


@register(
    "pca_covariance_spr",
    tags=("ml", "pca"),
    oracle=f"""
WITH elem AS ({_SQL_ELEM})
SELECT CAST(a.pos - 1 AS BIGINT) AS i, CAST(b.pos - 1 AS BIGINT) AS j,
       -- + 0 normalizes IEEE -0.0 to +0.0: near-zero covariances round
       -- to a signed zero whose SIGN is summation-order-dependent and
       -- so differs across engines (first seen at the sf1 scale probe)
       ROUND(covar_samp(a.val, b.val), 6) + 0 AS cov
FROM elem a JOIN elem b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY a.pos, b.pos
ORDER BY i, j
""",
)
def pca_covariance_spr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A9 alternate backend — two-pass packed upper-triangular
    covariance (treeAggregate/spr parity, RapidsRowMatrix.scala:
    202-252) vs the SAME DuckDB covar_samp oracle as the moments
    path: both backends must land on identical 6-dp values despite
    different summation order (centered Gram vs raw-moment identity).
    """
    e = load(spark, sf_dir, "embeddings")
    cov, _mean, _n = compute_covariance_spr(e, "embedding", mean_centering=True)
    return _cov_df(spark, cov)


@register(
    "linreg_slope_1d",
    tags=("ml", "regression"),
    oracle="""
SELECT ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       COUNT(*) AS n
FROM lineitem
""",
)
def linreg_slope_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 1-feature least squares (normal equations over
    Gram partials, ml/linreg.py) vs DuckDB's regr_slope/regr_intercept
    — SQL-oracle coverage for the regression path; the multivariate
    case is numpy-oracled in tests/test_ml_extra.py."""
    from spark_rapids_ml_spark.ml.linreg import LinearRegression

    li = load(spark, sf_dir, "lineitem").select(
        F.array(F.col("l_quantity").cast("double")).alias("features"),
        F.col("l_extendedprice").alias("label"),
    )
    model = LinearRegression().fit(li)  # single scan; n comes from the partials
    row = (
        duck_round(float(model.coefficients[0]), 4),
        duck_round(float(model.intercept), 4),
        model.n_rows,
    )
    schema = StructType(
        [
            StructField("slope", DoubleType()),
            StructField("intercept", DoubleType()),
            StructField("n", LongType()),
        ]
    )
    return spark.createDataFrame([row], schema)


@register(
    "feature_standard_scale",
    tags=("ml", "feature"),
    oracle=f"""
WITH elem AS ({_SQL_ELEM}),
stats AS (
  SELECT pos, AVG(val) AS m, STDDEV_SAMP(val) AS sd
  FROM elem GROUP BY pos
)
SELECT e.vec_id,
       ROUND(MAX(CASE WHEN e.pos = 1 THEN (e.val - s.m) / s.sd END), 6) AS z0,
       ROUND(MAX(CASE WHEN e.pos = 2 THEN (e.val - s.m) / s.sd END), 6) AS z1
FROM elem e JOIN stats s ON e.pos = s.pos
WHERE e.pos <= 2 AND e.vec_id <= 100
GROUP BY e.vec_id
ORDER BY e.vec_id
""",
)
def feature_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler (z-score) fit+transform over the embedding
    column, checked against DuckDB avg/stddev_samp per dimension —
    SQL-oracle coverage for the feature-transformer surface (first two
    dimensions emitted; the full-vector path is numpy-replayed in
    tests/test_ml_extra.py)."""
    from spark_rapids_ml_spark.ml.scaler import StandardScaler

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("features")
    )
    model = StandardScaler(input_col="features").fit(e)
    out = model.transform(e).where(F.col("vec_id") <= 100)
    return out.select(
        "vec_id",
        F.round(F.element_at("scaled", 1), 6).alias("z0"),
        F.round(F.element_at("scaled", 2), 6).alias("z1"),
    ).orderBy("vec_id")


@register(
    "feature_minmax_scale",
    tags=("ml", "feature"),
    oracle=f"""
WITH elem AS ({_SQL_ELEM}),
stats AS (
  SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM elem GROUP BY pos
)
SELECT e.vec_id,
       -- (val-min)/(max-min): every operand is an exact double
       -- (min/max have no summation order), so the division is
       -- identical IEEE cross-engine — emitted UNROUNDED
       MAX(CASE WHEN e.pos = 1 THEN (e.val - s.mn) / (s.mx - s.mn) END) AS s0,
       MAX(CASE WHEN e.pos = 2 THEN (e.val - s.mn) / (s.mx - s.mn) END) AS s1
FROM elem e JOIN stats s ON e.pos = s.pos
WHERE e.pos <= 2 AND e.vec_id <= 100
GROUP BY e.vec_id
ORDER BY e.vec_id
""",
)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinMaxScaler fit+transform vs DuckDB min/max per dimension.
    Unlike the z-score, every number here is bit-exact cross-engine
    (extrema have no accumulation order), so the output is unrounded."""
    from spark_rapids_ml_spark.ml.scaler import MinMaxScaler

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("features")
    )
    model = MinMaxScaler(input_col="features").fit(e)
    out = model.transform(e).where(F.col("vec_id") <= 100)
    return out.select(
        "vec_id",
        F.element_at("scaled", 1).alias("s0"),
        F.element_at("scaled", 2).alias("s1"),
    ).orderBy("vec_id")


def _kmeans_clusters_oracle() -> str:
    from spark_rapids_ml_spark.operators.similarity import _SQL_E, _sql_kmeans_cells

    return f"""
WITH e AS MATERIALIZED ({_SQL_E}),
{_sql_kmeans_cells(k=4, iters=6)}
SELECT c.cl AS cluster, s.n,
       ROUND(SQRT(list_dot_product(c.cemb, c.cemb)), 6) AS centroid_norm
FROM cent6 c
JOIN (SELECT cl, COUNT(*) AS n FROM cells GROUP BY cl) s ON s.cl = c.cl
ORDER BY cluster
"""


@register("kmeans_embedding_clusters", tags=("ml", "kmeans"), oracle=_kmeans_clusters_oracle())
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=4, deterministic smallest-id
    init, 6 fixed iterations — tol=0 so the DuckDB oracle can unroll
    the IDENTICAL training as SQL CTEs) on the embeddings table;
    outputs cluster sizes and centroid norms. The numpy-replay gate in
    tests/test_ml_extra.py additionally pins values."""
    import numpy as np

    from spark_rapids_ml_spark.ml.kmeans import KMeans

    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("features")
    )
    model = KMeans(k=4, max_iter=6, id_col="id", tol=0.0).fit(e)
    assigned = model.transform(e)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    norms = [float(np.linalg.norm(c)) for c in model.centroids]
    norm_df = spark.createDataFrame(
        [(int(j), float(round(norms[j], 6))) for j in range(len(norms))],
        StructType([StructField("cluster", LongType()), StructField("centroid_norm", DoubleType())]),
    )
    return (
        sizes.join(norm_df, "cluster")
        .select("cluster", "n", "centroid_norm")
        .orderBy("cluster")
    )


@register("pca_explained_variance", tags=("ml", "pca"), oracle=None)
def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 explained-variance ratios (eigen stage; numpy-oracle in
    tests/test_pca.py — not SQL-expressible)."""
    e = load(spark, sf_dir, "embeddings")
    model = PCA(k=8, input_col="embedding").fit(e)
    rows = [
        (int(i), float(round(v, 6)), float(round(r, 6)))
        for i, (v, r) in enumerate(
            zip(model.explained_variance, model.explained_variance_ratio)
        )
    ]
    schema = StructType(
        [
            StructField("component", LongType()),
            StructField("variance", DoubleType()),
            StructField("ratio", DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register("pca_transform_topk", tags=("ml", "pca"), bench=True, oracle=None)
def pca_transform_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit k=8 PCA on embeddings and project every vector (batched
    Arrow UDF GEMM); output the first two sign-stable components.
    Rows-only check here; exact numpy parity in tests/test_pca.py."""
    e = load(spark, sf_dir, "embeddings")
    model = PCA(k=8, input_col="embedding", output_col="proj").fit(e)
    out = model.transform(e)
    return out.select(
        "vec_id",
        F.round(F.element_at("proj", 1), 4).alias("pc1"),
        F.round(F.element_at("proj", 2), 4).alias("pc2"),
    ).orderBy("vec_id")


def naive_bayes_confusion(
    train, test, label_col: str, text_col: str = "text", id_col: str = "doc_id"
):
    """Multinomial Naive Bayes trainer + scorer as one declarative
    plan. Training is pure COUNTING (class priors, per-(class, term)
    counts, class token totals, vocabulary size — exact integer
    aggregations, so the learned model is bit-identical cross-engine);
    scoring is Laplace-smoothed log-likelihood sums with the rank key
    ROUNDed to 6dp before the argmax (absorbing libm-vs-JVM 1-ulp
    ln() drift). Returns the held-out confusion matrix
    (true_label, pred_label, n).

    Scale: training = two map-side-combined group-bys over the token
    stream; the model is a (vocab x classes) count table that
    broadcasts when small and shuffle-joins on term when not; scoring
    explodes test tokens once and joins the model — no per-row
    Python, no iteration. The 100 TB form materializes the count
    tables once (the precompute-then-merge pattern, cf. the mergeable
    sketches)."""
    from pyspark.sql import Window

    tok_tr = train.select(
        F.col(label_col).alias("y"), F.explode(F.split(text_col, " ")).alias("term")
    )
    prior = train.groupBy(F.col(label_col).alias("y")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_train = train.count()
    c_lt = tok_tr.groupBy(F.col("y").alias("m_y"), "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    t_l = tok_tr.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
    n_vocab = tok_tr.select("term").distinct().count()
    classes = F.broadcast(
        prior.join(t_l, "y").select(
            F.col("y").alias("cand"),
            F.log(F.col("n_docs").cast("double") / F.lit(float(n_train))).alias(
                "logprior"
            ),
            "t",
        )
    )
    tok_te = test.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("true_label"),
        F.explode(F.split(text_col, " ")).alias("term"),
    )
    scored = (
        tok_te.crossJoin(classes)
        .join(
            c_lt,
            (F.col("m_y") == F.col("cand")) & (c_lt["term"] == tok_te["term"]),
            "left",
        )
        .groupBy("_id", "true_label", "cand")
        .agg(
            (
                F.max("logprior")
                + F.sum(
                    F.log(
                        (F.coalesce("c", F.lit(0)) + F.lit(1.0))
                        / (F.col("t") + F.lit(float(n_vocab)))
                    )
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy("_id").orderBy(F.round("score", 6).desc(), F.col("cand"))
    pred = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return (
        pred.groupBy(
            F.col("true_label").alias("true_lang"),
            F.col("cand").alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "ml_naive_bayes_langid",
    tags=("ml", "text", "classify"),
    oracle="""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
tok_tr AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM train),
prior AS (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY lang),
ntr AS (SELECT COUNT(*) AS n FROM train),
c_lt AS (SELECT lang, term, COUNT(*) AS c FROM tok_tr GROUP BY lang, term),
t_l AS (SELECT lang, COUNT(*) AS t FROM tok_tr GROUP BY lang),
v AS (SELECT COUNT(DISTINCT term) AS nv FROM tok_tr),
tok_te AS (
  SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS term
  FROM test
),
cand AS (
  SELECT te.doc_id, te.true_lang, te.term, p.lang AS cand,
         LN(CAST(p.n_docs AS DOUBLE) / ntr.n) AS logprior, t.t
  FROM tok_te te CROSS JOIN prior p CROSS JOIN ntr JOIN t_l t ON t.lang = p.lang
),
scored AS (
  SELECT cand.doc_id, cand.true_lang, cand.cand,
         MAX(cand.logprior)
           + SUM(LN((COALESCE(c.c, 0) + 1.0) / (cand.t + v.nv))) AS score
  FROM cand CROSS JOIN v
  LEFT JOIN c_lt c ON c.lang = cand.cand AND c.term = cand.term
  GROUP BY cand.doc_id, cand.true_lang, cand.cand
),
pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(score, 6) DESC, cand) AS rk
  FROM scored
)
SELECT true_lang, pred_lang, COUNT(*) AS n
FROM pred WHERE rk = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
""",
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes over the documents table: train on
    doc_id %% 5 != 0, emit the held-out confusion matrix on lang (see
    naive_bayes_confusion for the mechanics and scale notes). The
    DuckDB oracle replicates the full train+score pipeline, so the
    hash check covers the learned counts, smoothing, and argmax.

    Honest caveat: the synthetic corpus's lang labels are INDEPENDENT
    of token content (all languages draw from one shared vocabulary),
    so no classifier can beat the prior here and the matrix is
    near-uniformly confused BY CONSTRUCTION — the declared artifact is
    the verified training/scoring pipeline, not corpus accuracy.
    tests/test_quality.py::test_naive_bayes_separable_corpus gates
    >= 95%% accuracy on a corpus whose classes genuinely differ.
    """
    d = load(spark, sf_dir, "documents")
    train = d.where(F.pmod("doc_id", F.lit(5)) != 0)
    test = d.where(F.pmod("doc_id", F.lit(5)) == 0)
    return naive_bayes_confusion(train, test, "lang")


# ---- closed-form ridge regression (shared Spark/DuckDB formulas) ----
# Sufficient statistics are EXACT decimal sums; the 3x3 Cramer solve
# below is the IDENTICAL double expression tree on both engines, so
# the coefficients are bit-identical before round(6).
_RIDGE_L = "0.5"  # L2 penalty on the two feature diagonals (not intercept)

_RIDGE_STATS_SQL = """
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sx1,
         CAST(SUM(CAST(l_discount AS DECIMAL(15,4))) AS DOUBLE) AS sx2,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,4)) * CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,4)) * CAST(l_discount AS DECIMAL(15,4))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(l_discount AS DECIMAL(15,4)) * CAST(l_discount AS DECIMAL(15,4))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,4)) * CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(l_discount AS DECIMAL(15,4)) * CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS s2y
  FROM lineitem
"""

_RIDGE_DET = (
    f"(n_*((s11+{_RIDGE_L})*(s22+{_RIDGE_L})-s12*s12)"
    f" - sx1*(sx1*(s22+{_RIDGE_L})-s12*sx2)"
    f" + sx2*(sx1*s12-(s11+{_RIDGE_L})*sx2))"
)
_RIDGE_DET0 = (
    f"(sy*((s11+{_RIDGE_L})*(s22+{_RIDGE_L})-s12*s12)"
    f" - sx1*(s1y*(s22+{_RIDGE_L})-s12*s2y)"
    f" + sx2*(s1y*s12-(s11+{_RIDGE_L})*s2y))"
)
_RIDGE_DET1 = (
    f"(n_*(s1y*(s22+{_RIDGE_L})-s12*s2y)"
    f" - sy*(sx1*(s22+{_RIDGE_L})-s12*sx2)"
    f" + sx2*(sx1*s2y-s1y*sx2))"
)
_RIDGE_DET2 = (
    f"(n_*((s11+{_RIDGE_L})*s2y-s1y*s12)"
    f" - sx1*(sx1*s2y-s1y*sx2)"
    f" + sy*(sx1*s12-(s11+{_RIDGE_L})*sx2))"
)
_RIDGE_SELECT_LIST = [
    "CAST(n_ AS BIGINT) AS n",
    f"ROUND({_RIDGE_DET0}/{_RIDGE_DET}, 6) AS intercept",
    f"ROUND({_RIDGE_DET1}/{_RIDGE_DET}, 6) AS beta_quantity",
    f"ROUND({_RIDGE_DET2}/{_RIDGE_DET}, 6) AS beta_discount",
]
_RIDGE_SELECT = ", ".join(_RIDGE_SELECT_LIST)


@register(
    "ml_ridge_closed_form",
    tags=("ml", "regression", "scale"),
    oracle=f"SELECT {_RIDGE_SELECT} FROM ({_RIDGE_STATS_SQL})",
)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate ridge regression in CLOSED FORM: predict
    l_extendedprice from (l_quantity, l_discount) with L2 = 0.5 on the
    feature diagonal — ONE pass computes the 9 exact-decimal
    sufficient statistics (the Gram matrix and moment vector), then an
    unrolled 3x3 Cramer solve runs as a scalar projection. The Spark
    side and the DuckDB oracle execute the SAME formula strings, so
    the coefficients are bit-identical before rounding — the hash
    oracle pins the multivariate algebra itself (the numpy-oracled
    ml/linreg.py covers the general-d API; this pins d=2+intercept at
    the value level).

    Scale: this is THE pattern for linear models at 100 TB — O(d^2)
    mergeable state (here 9 numbers) from one map-side-combined scan,
    solve on bounded state; no gradient iterations, no per-row Python.
    Adding features grows state quadratically but the pass count stays
    one (the reference's covariance-then-eigendecompose PCA,
    RapidsRowMatrix.scala:147, is the same shape).
    """
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    stats = spark.sql(_RIDGE_STATS_SQL)
    return stats.selectExpr(*_RIDGE_SELECT_LIST)


FH_DIMS = 32       # hashed feature-vector width
FH_DIM_SEED = 3    # bucket hash seed
FH_SIGN_SEED = 7   # sign hash seed
FH_MAX_DOC = 80


@register(
    "feature_hashing_trick",
    tags=("ml", "feature", "text", "scale"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id <= {FH_MAX_DOC}
),
h AS (
  SELECT doc_id,
         {sql_hash60("tok", FH_DIM_SEED)} % {FH_DIMS} AS dim,
         1 - 2 * ({sql_hash60("tok", FH_SIGN_SEED)} % 2) AS sign
  FROM t
)
SELECT doc_id, CAST(dim AS BIGINT) AS dim, CAST(SUM(sign) AS BIGINT) AS weight
FROM h GROUP BY doc_id, dim ORDER BY doc_id, dim
""",
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009):
    project an UNBOUNDED vocabulary into a FIXED {FH_DIMS}-dim vector
    with a bucket hash plus an independent sign hash (the sign makes
    collisions cancel in expectation, keeping inner products
    unbiased) — the stateless vectorizer for streaming/large-corpus
    ML where a fitted vocabulary (CountVectorizer) cannot exist.
    Output is the sparse (doc, dim, weight) triple form; signed
    cancellation to exact 0 is kept, hash-pinning the signs.

    Scale: NO fitted state, NO vocabulary broadcast — each token maps
    independently (explode → integer hash → groupBy(doc, dim) with
    map-side partial sums), so the op composes with streaming ingest
    and never rescans. The portable 60-bit hash keeps Spark and
    DuckDB bit-identical; sparse triples keep shuffle width at
    O(tokens), not O(docs × dims).
    """
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= FH_MAX_DOC)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    return (
        d.select(
            "doc_id",
            (hash60("tok", FH_DIM_SEED) % FH_DIMS).cast("bigint").alias("dim"),
            (F.lit(1) - F.lit(2) * (hash60("tok", FH_SIGN_SEED) % 2)).alias("sign"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("weight"))
        .orderBy("doc_id", "dim")
    )


def _silhouette_oracle() -> str:
    from spark_rapids_ml_spark.operators.similarity import _SQL_E, _sql_kmeans_cells

    return f"""
WITH e AS MATERIALIZED ({_SQL_E}),
{_sql_kmeans_cells(k=4, iters=6)},
d AS (
  SELECT x.vec_id, x.cl AS own, c.cl, list_distance(x.emb, c.cemb) AS dist
  FROM cells x CROSS JOIN cent6 c
),
ab AS (
  SELECT vec_id, own,
         MAX(CASE WHEN cl = own THEN dist END) AS a,
         MIN(CASE WHEN cl <> own THEN dist END) AS b
  FROM d GROUP BY vec_id, own
),
s AS (
  SELECT own AS cluster,
         CAST(ROUND((b - a) / GREATEST(a, b) * 1000000000.0) AS BIGINT) AS sn
  FROM ab
)
SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n,
       ROUND(CAST(SUM(sn) AS DOUBLE) / 1000000000.0 / COUNT(*), 6) AS mean_silhouette
FROM s GROUP BY cluster ORDER BY cluster
"""


@register("ml_kmeans_silhouette", tags=("ml", "kmeans", "eval"), oracle=_silhouette_oracle())
def ml_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering EVALUATION — simplified (centroid-based) silhouette
    per cluster: s = (b - a) / max(a, b) with a = distance to the own
    centroid and b = distance to the nearest other centroid — the
    metric a pipeline uses to pick k or reject a degenerate fit,
    completing the train (kmeans_embedding_clusters) -> apply (IVF
    cells) -> EVALUATE triad. The training run is the same tol=0
    6-iteration Lloyd's the DuckDB oracle unrolls as CTEs; per-point
    scores are nano-unit integers so the per-cluster mean is an exact
    integer sum in both engines (the FP-order discipline of
    sim_pq_adc_topk applied to an O(N*k) metric).

    Scale: one broadcast of k centroids against the assigned corpus —
    O(N*k) distance evaluations in codegen, one groupBy(cluster) with
    map-side partial sums; the full-pairwise silhouette (O(N^2)) is
    deliberately NOT the shape — centroid-based is the one that runs
    at 10^9 points.
    """
    from spark_rapids_ml_spark.ml.kmeans import KMeans

    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("features")
    )
    model = KMeans(k=4, max_iter=6, id_col="id", tol=0.0).fit(e)
    assigned = model.transform(e)
    cents = spark.createDataFrame(
        [(int(j), [float(v) for v in model.centroids[j]]) for j in range(len(model.centroids))],
        "cl BIGINT, cemb ARRAY<DOUBLE>",
    )

    def edist(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    d = assigned.crossJoin(F.broadcast(cents)).select(
        "id",
        F.col("cluster").alias("own"),
        "cl",
        edist(F.col("features"), F.col("cemb")).alias("dist"),
    )
    ab = d.groupBy("id", "own").agg(
        F.max(F.when(F.col("cl") == F.col("own"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        F.col("own").alias("cluster"),
        F.round((F.col("b") - F.col("a")) / F.greatest("a", "b") * F.lit(1000000000.0))
        .cast("bigint")
        .alias("sn"),
    )
    return (
        s.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("sn").cast("double") / F.lit(1000000000.0) / F.count(F.lit(1)), 6).alias(
                "mean_silhouette"
            ),
        )
        .select(F.col("cluster").cast("bigint").alias("cluster"), "n", "mean_silhouette")
        .orderBy("cluster")
    )


# --------------------------------------------- histogram split finding

# The gradient-boosted-tree training primitive (the histogram kernel
# of LightGBM/XGBoost `hist`): bin every feature, aggregate per-bin
# (count, label-sum) in ONE pass, then score every split boundary from
# the cumulative histogram. Distributed cost is a single groupBy on
# (dim, bin) whose cardinality is features x bins (1024 rows here) —
# the classic "aggregate the histogram, not the data" trick.
TREE_N_BINS = 16


@register(
    "ml_tree_split_histogram",
    tags=("ml", "tree"),
    oracle=f"""
WITH x AS (
  SELECT vec_id, label, g.d AS dim, CAST(embedding[CAST(g.d AS INT)] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN LATERAL (SELECT unnest(generate_series(1, 64))) g(d)
),
rng AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY dim),
b AS (
  SELECT x.dim, x.label,
         CAST(CASE WHEN r.mx = r.mn THEN 0
              ELSE LEAST(FLOOR((x.v - r.mn) / (r.mx - r.mn) * {TREE_N_BINS}), {TREE_N_BINS - 1}) END AS BIGINT) AS bin
  FROM x JOIN rng r ON x.dim = r.dim
),
h AS (SELECT dim, bin, COUNT(*) AS c, SUM(label) AS s FROM b GROUP BY dim, bin),
tot AS (SELECT dim, SUM(c) AS n, SUM(s) AS st FROM h GROUP BY dim),
cum AS (
  SELECT dim, bin,
         SUM(c) OVER (PARTITION BY dim ORDER BY bin) AS nl,
         SUM(s) OVER (PARTITION BY dim ORDER BY bin) AS sl
  FROM h
),
gains AS (
  SELECT c.dim, c.bin AS split_bin, c.nl AS n_left, t.n - c.nl AS n_right,
         CAST(c.sl * c.sl AS DOUBLE) / c.nl
         + CAST((t.st - c.sl) * (t.st - c.sl) AS DOUBLE) / (t.n - c.nl)
         - CAST(t.st * t.st AS DOUBLE) / t.n AS gain
  FROM cum c JOIN tot t ON c.dim = t.dim
  WHERE c.nl > 0 AND t.n - c.nl > 0
),
best AS (
  SELECT dim, split_bin, n_left, n_right, gain,
         ROW_NUMBER() OVER (PARTITION BY dim ORDER BY gain DESC, split_bin) AS rk
  FROM gains
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(split_bin AS BIGINT) AS split_bin,
       CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       ROUND(gain, 6) AS gain
FROM best WHERE rk = 1 ORDER BY dim
""",
)
def ml_tree_split_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best variance-reduction split per feature, found from per-bin
    histograms — the inner loop of distributed GBDT training (LightGBM
    feature-histogram aggregation; XGBoost `tree_method=hist`).

    gain(t) = SL²/nL + SR²/nR − S²/n over label sums, every sum an
    exact bigint; the three divisions are IEEE ops in a fixed order,
    so the score is bit-identical cross-engine. Bin ids come from one
    double expression both engines evaluate identically (float32 →
    double widening is exact).

    Scale: the raw (row × feature) explode is map-side only — it
    partial-aggregates into ≤ dims × bins rows BEFORE the exchange, so
    the shuffle carries a 1024-row histogram regardless of corpus
    size. The split scan is a window over that tiny table. This is
    the piece that makes histogram-GBDT O(rows) per tree level with
    constant shuffle volume; deeper trees re-run it per node on
    filtered rows.
    """
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        F.posexplode("embedding").alias("pos", "vf"),
    ).select(
        (F.col("pos") + 1).alias("dim"),
        "label",
        F.col("vf").cast("double").alias("v"),
    )
    rng = x.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = x.join(F.broadcast(rng), "dim").select(
        "dim",
        "label",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * TREE_N_BINS
                ),
                F.lit(TREE_N_BINS - 1),
            )
        )
        .cast("bigint")
        .alias("bin"),
    )
    h = binned.groupBy("dim", "bin").agg(
        F.count(F.lit(1)).alias("c"), F.sum("label").alias("s")
    )
    tot = h.groupBy("dim").agg(F.sum("c").alias("n"), F.sum("s").alias("st"))
    wc = Window.partitionBy("dim").orderBy("bin")
    cum = h.select(
        "dim",
        "bin",
        F.sum("c").over(wc).alias("nl"),
        F.sum("s").over(wc).alias("sl"),
    )
    g = (
        cum.join(tot, "dim")
        .where((F.col("nl") > 0) & (F.col("n") - F.col("nl") > 0))
        .select(
            "dim",
            F.col("bin").alias("split_bin"),
            F.col("nl").alias("n_left"),
            (F.col("n") - F.col("nl")).alias("n_right"),
            (
                (F.col("sl") * F.col("sl")).cast("double") / F.col("nl")
                + ((F.col("st") - F.col("sl")) * (F.col("st") - F.col("sl"))).cast(
                    "double"
                )
                / (F.col("n") - F.col("nl"))
                - (F.col("st") * F.col("st")).cast("double") / F.col("n")
            ).alias("gain"),
        )
    )
    wb = Window.partitionBy("dim").orderBy(F.col("gain").desc(), "split_bin")
    return (
        g.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("split_bin").cast("bigint").alias("split_bin"),
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.round("gain", 6).alias("gain"),
        )
        .orderBy("dim")
    )


# --------------------------------------------- distributed logistic IRLS

# Iteratively-reweighted least squares for a binary GLM, run as THREE
# unrolled Newton steps where each step is one map-side-combined scan
# producing 9 sufficient statistics (gradient + packed Hessian) and a
# closed-form 3x3 Cramer solve — the distributed-GLM pattern (Spark
# MLlib's LogisticRegression aggregates the same per-partition
# gradient/Hessian state; here the whole recursion is also expressible
# as SQL CTEs, so the DuckDB oracle replays the identical training).
#
# Two determinism substitutions make the training hash-oracle-able:
# - the RATIONAL link p = 1/2 + z/(2(1+|z|)) replaces the logistic
#   sigmoid: libm exp() is not correctly rounded, so cross-engine
#   bit-equality is impossible with the true sigmoid (production keeps
#   exp; this fixture tier swaps only the link, not the algorithm);
# - per-row gradient/Hessian contributions are floored into NANO
#   fixed-point and summed as exact bigints (the pagerank discipline),
#   so each step's statistics are identical on any partitioning.
LOGREG_ITERS = 3
LOGREG_DIM_A, LOGREG_DIM_B = 36, 53  # most label-correlated dims (r~0.11)
_LOGREG_NANO = 1_000_000_000
_LOGREG_KEYS = ("sg0", "sg1", "sg2", "h00", "h01", "h02", "h11", "h12", "h22")


def _logreg_z(b: str) -> str:
    return f"({b}.b0 + {b}.b1*x1 + {b}.b2*x2)"


def _logreg_stats_cte(rows: str, b: str) -> str:
    zz = _logreg_z(b)
    p = f"(0.5 + {zz}/(2.0*(1.0+abs({zz}))))"
    w = f"({p}*(1.0-{p}))"
    terms = {
        "sg0": f"(y - {p})",
        "sg1": f"(y - {p})*x1",
        "sg2": f"(y - {p})*x2",
        "h00": w,
        "h01": f"{w}*x1",
        "h02": f"{w}*x2",
        "h11": f"{w}*x1*x1",
        "h12": f"{w}*x1*x2",
        "h22": f"{w}*x2*x2",
    }
    cols = ", ".join(
        f"SUM(CAST(FLOOR(({e}) * {_LOGREG_NANO}.0) AS BIGINT)) AS {k}"
        for k, e in terms.items()
    )
    return f"SELECT {cols} FROM {rows} CROSS JOIN {b}"


def _logreg_newton_cte(s: str, b: str) -> str:
    d = {k: f"(CAST(s.{k} AS DOUBLE)/{_LOGREG_NANO}.0)" for k in _LOGREG_KEYS}
    det = (
        f"({d['h00']}*({d['h11']}*{d['h22']}-{d['h12']}*{d['h12']})"
        f" - {d['h01']}*({d['h01']}*{d['h22']}-{d['h12']}*{d['h02']})"
        f" + {d['h02']}*({d['h01']}*{d['h12']}-{d['h11']}*{d['h02']}))"
    )
    d0 = (
        f"({d['sg0']}*({d['h11']}*{d['h22']}-{d['h12']}*{d['h12']})"
        f" - {d['h01']}*({d['sg1']}*{d['h22']}-{d['h12']}*{d['sg2']})"
        f" + {d['h02']}*({d['sg1']}*{d['h12']}-{d['h11']}*{d['sg2']}))"
    )
    d1 = (
        f"({d['h00']}*({d['sg1']}*{d['h22']}-{d['sg2']}*{d['h12']})"
        f" - {d['sg0']}*({d['h01']}*{d['h22']}-{d['h12']}*{d['h02']})"
        f" + {d['h02']}*({d['h01']}*{d['sg2']}-{d['sg1']}*{d['h02']}))"
    )
    d2 = (
        f"({d['h00']}*({d['h11']}*{d['sg2']}-{d['sg1']}*{d['h12']})"
        f" - {d['h01']}*({d['h01']}*{d['sg2']}-{d['sg1']}*{d['h02']})"
        f" + {d['sg0']}*({d['h01']}*{d['h12']}-{d['h11']}*{d['h02']}))"
    )
    return (
        f"SELECT {b}.b0 + {d0}/{det} AS b0, {b}.b1 + {d1}/{det} AS b1,"
        f" {b}.b2 + {d2}/{det} AS b2 FROM {s} s CROSS JOIN {b}"
    )


def _logreg_sql(rows_cte: str, materialize: bool = False) -> str:
    """The full unrolled-IRLS WITH-query; `rows_cte` is the only
    engine-specific fragment (array indexing syntax differs).

    materialize=True (the DuckDB oracle) marks rows_ and each bt{i}
    AS MATERIALIZED: every bt{i} is referenced twice per level, so an
    inlining engine re-expands the chain ~2^ITERS times (7 rows_ scans
    for bt3 instead of 3). Spark can't parse the keyword; its inlined
    re-expansion is bounded (ITERS fixed at 3, the input is the
    feature-table-sized embeddings, and exchange/subquery reuse
    dedupes the repeated scans) — measured 1.7 s at sf1, flat at sf10.
    """
    kw = " MATERIALIZED" if materialize else ""
    ctes = [
        f"rows_ AS{kw} ({rows_cte})",
        "bt0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)",
    ]
    for i in range(1, LOGREG_ITERS + 1):
        ctes.append(f"st{i} AS ({_logreg_stats_cte('rows_', f'bt{i-1}')})")
        ctes.append(f"bt{i} AS{kw} ({_logreg_newton_cte(f'st{i}', f'bt{i-1}')})")
    joined = ",\n".join(ctes)
    # ROUND(...)+0 normalizes IEEE -0.0 to +0.0: a coefficient that
    # rounds to zero carries a summation-order-noise sign (first seen
    # on b1 at the sf1 probe) — same convention as the PCA covariance
    # oracle.
    return f"""WITH {joined}
SELECT (SELECT COUNT(*) FROM rows_) AS n,
       (SELECT COUNT(*) FROM rows_ CROSS JOIN bt{LOGREG_ITERS} b
        WHERE (CASE WHEN {_logreg_z('b')} >= 0.0 THEN 1.0 ELSE 0.0 END) = y) AS n_correct,
       ROUND(b0, 6) + 0 AS b0, ROUND(b1, 6) + 0 AS b1, ROUND(b2, 6) + 0 AS b2
FROM bt{LOGREG_ITERS}"""


_LOGREG_ROWS_DUCK = (
    f"SELECT CAST(embedding[{LOGREG_DIM_A}] AS DOUBLE) AS x1,"
    f" CAST(embedding[{LOGREG_DIM_B}] AS DOUBLE) AS x2,"
    " CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y FROM embeddings"
)
_LOGREG_ROWS_SPARK = (
    f"SELECT CAST(element_at(embedding, {LOGREG_DIM_A}) AS DOUBLE) AS x1,"
    f" CAST(element_at(embedding, {LOGREG_DIM_B}) AS DOUBLE) AS x2,"
    " CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y FROM embeddings"
)


@register(
    "ml_logreg_irls_newton",
    tags=("ml", "glm", "scale"),
    oracle=_logreg_sql(_LOGREG_ROWS_DUCK, materialize=True),
)
def ml_logreg_irls_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary GLM trained by three unrolled IRLS/Newton steps over
    (element 36, element 53) → 1{label ≥ 5}, returning the
    coefficients and the training-set decision accuracy. The Spark
    side and the DuckDB oracle execute the SAME generated SQL (only
    the array-indexing fragment differs), so the hash oracle pins the
    entire three-step training trajectory, not just the final algebra.

    Scale: per step, the only corpus-wide work is one aggregation to 9
    mergeable fixed-point statistics — gradient and packed 3×3 Hessian
    — with map-side combine; the Newton solve runs on that 1-row
    state. d features grow state O(d²) (the ridge/PCA moment-matrix
    shape) while the pass count stays ITERS. The weak per-dim label
    signal in this corpus (r ≈ 0.11) makes the fitted accuracy modest
    by design; the operator pins the distributed-training mechanics.

    The rational link and nano fixed-point substitutions (module
    comment) are what make an ITERATIVE float-state training loop
    hash-comparable across engines at all.
    """
    e = load(spark, sf_dir, "embeddings")
    e.createOrReplaceTempView("embeddings")
    return spark.sql(_logreg_sql(_LOGREG_ROWS_SPARK))


# --------------------------------------------- calibration reliability

CALIB_BINS = 10
_CALIB_MICRO = 1_000_000


def _logreg_calibration_sql(rows_cte: str, materialize: bool = False) -> str:
    """Reliability-diagram table over the trained IRLS model: reuse the
    full unrolled-training CTE chain, score every row with the final
    coefficients, decile-bin the predicted probability, and compare
    mean prediction (micro fixed-point sum — order-invariant) against
    the observed positive rate per bin."""
    base = _logreg_sql(rows_cte, materialize=materialize)
    head = base[: base.rindex("SELECT (SELECT COUNT(*) FROM rows_)")].rstrip()
    z = _logreg_z("b")
    p = f"(0.5 + {z}/(2.0*(1.0+abs({z}))))"
    return (
        head
        + f""",
scored AS (
  SELECT y, {p} AS p FROM rows_ CROSS JOIN bt{LOGREG_ITERS} b
),
binned AS (
  SELECT CAST(LEAST(FLOOR(p * {CALIB_BINS}), {CALIB_BINS - 1}) AS BIGINT) AS bin, y, p
  FROM scored
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(FLOOR(p * {_CALIB_MICRO}.0) AS BIGINT)) AS DOUBLE)
             / ({_CALIB_MICRO}.0 * COUNT(*)), 6) AS mean_pred,
       ROUND(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS frac_pos
FROM binned GROUP BY bin ORDER BY bin"""
    )


@register(
    "ml_calibration_reliability_bins",
    tags=("ml", "glm", "eval"),
    oracle=_logreg_calibration_sql(_LOGREG_ROWS_DUCK, materialize=True),
)
def ml_calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the IRLS-trained binary GLM
    (ml_logreg_irls_newton): train (same three unrolled Newton steps),
    score every row, decile-bin the predicted probability, and emit
    per-bin (count, mean prediction, observed positive rate) — a
    calibrated model tracks the diagonal, and this table is the
    standard evidence a scoring pipeline publishes next to AUC. Spark
    and DuckDB execute the SAME generated SQL, so train+score+bin are
    all hash-pinned as one trajectory.

    Determinism: bin ids and mean predictions ride FLOOR fixed-point
    (micro units) so the per-bin sums are exact bigints — a float mean
    over millions of rows would be accumulation-order-dependent.

    Scale: training is the logreg plan (one 9-stat scan per step);
    scoring is per-row arithmetic against the broadcast 1-row
    coefficient state; the output is CALIB_BINS summary rows. This is
    the composed train→score→evaluate DAG in one declarative plan —
    the GLM sibling of ml_centroid_train_eval_pipeline.
    """
    e = load(spark, sf_dir, "embeddings")
    e.createOrReplaceTempView("embeddings")
    return spark.sql(_logreg_calibration_sql(_LOGREG_ROWS_SPARK))


# --------------------------------------------- k-fold cross-validation

CV_FOLDS = 5
_CV_L = "0.5"  # same L2 as ml_ridge_closed_form


def _cv_det(num: str) -> str:
    L = _CV_L
    if num == "det":
        return (f"(n_*((s11+{L})*(s22+{L})-s12*s12)"
                f" - sx1*(sx1*(s22+{L})-s12*sx2)"
                f" + sx2*(sx1*s12-(s11+{L})*sx2))")
    if num == "b0":
        return (f"(sy*((s11+{L})*(s22+{L})-s12*s12)"
                f" - sx1*(s1y*(s22+{L})-s12*s2y)"
                f" + sx2*(s1y*s12-(s11+{L})*s2y))")
    if num == "b1":
        return (f"(n_*(s1y*(s22+{L})-s12*s2y)"
                f" - sy*(sx1*(s22+{L})-s12*sx2)"
                f" + sx2*(sx1*s2y-s1y*sx2))")
    return (f"(n_*((s11+{L})*s2y-s1y*s12)"
            f" - sx1*(sx1*s2y-s1y*sx2)"
            f" + sy*(sx1*s12-(s11+{L})*sx2))")


def _ridge_cv_sql(materialize: bool = False) -> str:
    """Generated k-fold CV query both engines execute. Training stats
    per fold come from SUBTRACTING the fold's exact-decimal sufficient
    statistics from the all-data totals (window sums over DECIMALS —
    exact, order-free), so the k models cost ONE scan, not k. The
    decimal→double casts route through STRING (correctly rounded in
    both engines at any magnitude, the sql_dsum rationale); held-fold
    SSE rides floor-to-unit bigint sums (order-invariant)."""
    kw = " MATERIALIZED" if materialize else ""
    stats = ["n_", "sx1", "sx2", "s11", "s12", "s22", "sy", "s1y", "s2y"]
    sub = ", ".join(
        f"CAST(CAST(SUM({c}) OVER () - {c} AS STRING) AS DOUBLE) AS {c}"
        for c in stats
    )
    pred = "(b.b0 + b.b1*CAST(f.x1 AS DOUBLE) + b.b2*CAST(f.x2 AS DOUBLE))"
    return f"""WITH f AS{kw} (
  SELECT l_orderkey % {CV_FOLDS} AS fold,
         CAST(l_quantity AS DECIMAL(15,4)) AS x1,
         CAST(l_discount AS DECIMAL(15,4)) AS x2,
         CAST(l_extendedprice AS DECIMAL(15,4)) AS y
  FROM lineitem
),
fs AS{kw} (
  SELECT fold,
         CAST(COUNT(*) AS DECIMAL(20,0)) AS n_,
         SUM(x1) AS sx1, SUM(x2) AS sx2,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
         SUM(y) AS sy, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
  FROM f GROUP BY fold
),
tr AS{kw} (
  SELECT fold, {sub}
  FROM fs
),
beta AS{kw} (
  SELECT fold,
         {_cv_det("b0")} / {_cv_det("det")} AS b0,
         {_cv_det("b1")} / {_cv_det("det")} AS b1,
         {_cv_det("b2")} / {_cv_det("det")} AS b2
  FROM tr
),
err AS (
  SELECT f.fold, COUNT(*) AS n_test,
         SUM(CAST(FLOOR((CAST(f.y AS DOUBLE) - {pred})
                      * (CAST(f.y AS DOUBLE) - {pred})) AS BIGINT)) AS sse_floor
  FROM f JOIN beta b ON f.fold = b.fold
  GROUP BY f.fold
)
SELECT CAST(e.fold AS BIGINT) AS fold, CAST(e.n_test AS BIGINT) AS n_test,
       ROUND(b.b0, 6) AS b0, ROUND(b.b1, 6) AS b1, ROUND(b.b2, 6) AS b2,
       ROUND(SQRT(CAST(e.sse_floor AS DOUBLE) / e.n_test), 6) AS rmse
FROM err e JOIN beta b ON e.fold = b.fold
ORDER BY fold"""


@register(
    "ml_ridge_kfold_cv",
    tags=("ml", "regression", "eval", "scale"),
    oracle=_ridge_cv_sql(materialize=True),
)
def ml_ridge_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CV_FOLDS (5)-fold cross-validation of the closed-form ridge model
    in ONE scan: per-fold sufficient statistics (the 9 Gram/moment
    sums) aggregate once, each fold's TRAINING stats are the all-data
    totals MINUS its own (exact decimal window subtraction — the
    leave-fold-out identity that makes k-fold CV O(1) scans instead of
    O(k) for any sufficient-statistic model), the Cramer solve runs
    per fold on 5-row state, and held-fold RMSE comes from a second
    pass with the fold's own coefficients. The per-fold coefficient
    SPREAD is the variance estimate a modeling pipeline reports next
    to the point fit (ml_ridge_closed_form).

    Determinism: all sufficient statistics stay exact DECIMAL through
    the subtraction; one STRING-routed cast each to double (correctly
    rounded in both engines at any magnitude); held-fold SSE rides
    floor-to-unit bigint sums. Spark and DuckDB execute the SAME
    generated SQL (the logreg/ridge discipline).

    Scale: two scans total (stats, residuals) regardless of k; the
    exchange carries k×9 numbers. The residual pass broadcasts the
    k-row coefficient table.
    """
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(_ridge_cv_sql(materialize=False))


@register(
    "pca_covariance_incremental_merge",
    tags=("ml", "pca", "scale"),
    oracle=f"""
WITH elem AS ({_SQL_ELEM})
SELECT CAST(a.pos - 1 AS BIGINT) AS i, CAST(b.pos - 1 AS BIGINT) AS j,
       ROUND(covar_samp(a.val, b.val), 6) + 0 AS cov
FROM elem a JOIN elem b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY a.pos, b.pos
ORDER BY i, j
""",
)
def pca_covariance_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL covariance: the corpus is processed as two
    independent batches (even / odd vec_id — yesterday's data and
    today's), each reduced to its own mergeable sufficient statistics
    (n, Σx, Σxxᵀ) by the same moments scan the PCA estimator uses;
    the merged statistics (elementwise sums — the property the
    reference's treeAggregate relies on, RapidsRowMatrix.scala:201,208)
    yield the covariance of the UNION, verified against DuckDB's
    covar_samp over all rows at once. This is the update path a
    production PCA keeps warm: new data appends partials, nothing is
    rescanned.

    Exactness note: merging raw moments is algebraically identity-equal
    to the single-pass computation — both evaluate
    (Σxxᵀ − n·μμᵀ)/(n−1) on the same float64 sums, so the hash matches
    pca_covariance_matrix's oracle bit-for-bit under ROUND(6) + the
    −0.0 normalization.

    Scale: two linear scans, one Spark job each with an O(d²) partial
    per partition (one scan per batch; in
    production the old batch's partials are a persisted d²+d+1
    vector, not a rescan) and a driver-side d×d merge.
    """
    import numpy as np

    from spark_rapids_ml_spark.ml.pca import _moments

    e = load(spark, sf_dir, "embeddings")
    batches = [
        e.where(F.col("vec_id") % 2 == 0),
        e.where(F.col("vec_id") % 2 == 1),
    ]
    n, s, g = 0, 0.0, 0.0
    for b in batches:
        nb, sb, gb = _moments(b, "embedding")
        n, s, g = n + nb, s + sb, g + gb
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    return _cov_df(spark, cov)
