"""The ML estimators' one data path: Arrow batch codec + one-job partial
reduction.

- Each fit pass is ONE Spark job (a ``mapInArrow`` kernel emitting one
  packed partial per partition, collected and summed on the driver),
  and each iterative fit (KMeans, PCA ``spr``) is one ``collective``
  job. The counts are pinned in a query scope (``run.job_ids``).
- The driver sums the partials in partition order, so a fit's result is
  bit-equal to a numpy fold of the per-partition partials — it cannot
  depend on which shuffle block arrives first.
- A degenerate vector row (null row, null element, ragged width) raises
  a ``ValueError`` naming the column from every fit, including the
  KMeans seed rows; every model transform fails with the same message.
  NaN values are data and pass through.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_rapids_ml_spark.ml.kmeans import KMeans
from spark_rapids_ml_spark.ml.linreg import LinearRegression
from spark_rapids_ml_spark.ml.pca import PCA, compute_column_means, compute_covariance
from spark_rapids_ml_spark.ml.scaler import MinMaxScaler, StandardScaler
from spark_rapids_ml_spark.query_run import query_run

ESTIMATORS = {
    "PCA": lambda: PCA(k=2),
    "KMeans": lambda: KMeans(k=2, max_iter=2),
    "LinearRegression": LinearRegression,
    "StandardScaler": StandardScaler,
    "MinMaxScaler": MinMaxScaler,
}


@pytest.fixture(scope="module")
def reg_parquet(spark, tmp_path_factory):
    """300 x 5 features + label as a 4-file parquet table."""
    rng = np.random.default_rng(3)
    x = rng.normal(size=(300, 5))
    y = x @ np.arange(1.0, 6.0) + 1.0
    path = str(tmp_path_factory.mktemp("ml_arrow") / "reg.parquet")
    spark.createDataFrame(
        [(i, r.tolist(), float(y[i])) for i, r in enumerate(x)], ["id", "features", "label"]
    ).repartition(4).write.parquet(path)
    return path


# id -> (call, Spark jobs it runs). "was": the count at commit 5317672, before
# this path (a first-row probe plus a posexplode/groupBy reduction per
# covariance pass).
JOB_COUNTS = {
    "pca-moments": (lambda df: PCA(k=2).fit(df), 1),  # was: 3
    # both spr rounds (colsum mean, packed centered Gram) in one collective job
    "pca-spr": (lambda df: PCA(k=2, backend="spr").fit(df), 1),  # was: 5, then 2
    "compute_covariance": (lambda df: compute_covariance(df, "features"), 1),  # was: 3
    "compute_column_means": (lambda df: compute_column_means(df, "features"), 1),  # was: 3
    "LinearRegression": (lambda df: LinearRegression().fit(df), 1),  # was: 3
    "StandardScaler": (lambda df: StandardScaler().fit(df), 1),  # was: 1
    "MinMaxScaler": (lambda df: MinMaxScaler().fit(df), 1),  # was: 1
    # seed rows and every Lloyd iteration (tol=0 runs all 3) in one collective job
    "KMeans": (lambda df: KMeans(k=3, max_iter=3, tol=0.0).fit(df), 1),  # was: 1 + 3
}


@pytest.mark.parametrize("call", list(JOB_COUNTS))
def test_estimator_job_count(spark, reg_parquet, call):
    fn, expected = JOB_COUNTS[call]
    df = spark.read.parquet(reg_parquet)  # schema read outside the scope
    with query_run(spark, call) as run:
        fn(df)
    assert len(run.job_ids) == expected


# ------------------------------------------------ partition-order merge


@pytest.fixture(scope="module")
def four_partitions(spark):
    """A cached 4-partition frame whose values span six decades, so the
    float sums depend on the order they are added in, plus its rows per
    partition in partition order."""
    rng = np.random.default_rng(9)
    x = rng.normal(size=(400, 4)) * [1e-3, 1.0, 1e3, 1e6] + [0.0, 5.0, -7e3, 1e6]
    y = x @ np.array([0.5, -2.0, 1e-3, 3e-6]) + rng.normal(size=400)
    df = (
        spark.createDataFrame(
            [(i, r.tolist(), float(y[i])) for i, r in enumerate(x)], ["id", "features", "label"]
        )
        .repartition(4)
        .cache()
    )
    rows = df.withColumn("pid", F.spark_partition_id()).collect()
    parts = [[r for r in rows if r["pid"] == p] for p in range(4)]
    assert all(parts)
    yield df, parts
    df.unpersist()


def _fold_moments(parts, to_matrix):
    """n, colsum, gram: each partition's batch moments, added in
    partition order (every partition is one Arrow batch here)."""
    acc = None
    for part in parts:
        z = to_matrix(part)
        p = np.concatenate(([z.shape[0]], z.sum(axis=0), (z.T @ z).ravel()))
        acc = p if acc is None else acc + p
    d = z.shape[1]
    return int(acc[0]), acc[1 : 1 + d], acc[1 + d :].reshape(d, d)


def test_merge_is_partition_order_fold(four_partitions):
    df, parts = four_partitions
    n, colsum, gram = _fold_moments(parts, lambda p: np.array([r["features"] for r in p]))
    mean = colsum / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)

    zn, zsum, zgram = _fold_moments(
        parts, lambda p: np.array([r["features"] + [r["label"]] for r in p])
    )
    xm, ym = zsum[:4] / zn, zsum[4] / zn
    beta = np.linalg.solve(
        zgram[:4, :4] - zn * np.outer(xm, xm), zgram[:4, 4] - zn * xm * ym
    )

    for _ in range(2):
        got_cov, got_mean, got_n = compute_covariance(df, "features")
        assert got_n == n
        assert np.array_equal(got_mean, mean) and np.array_equal(got_cov, cov)
        got_mean, got_n = compute_column_means(df, "features")
        assert got_n == n and np.array_equal(got_mean, mean)
        model = LinearRegression().fit(df)
        assert np.array_equal(model.coefficients, beta)
        assert model.intercept == float(ym - xm @ beta)


# ------------------------------------------------ degenerate vector rows

BAD_ROWS = {
    "null-row": (None, "null row"),
    "null-element": ([1.0, None, 3.0], "null element"),
    "ragged": ([1.0, 2.0], "ragged width"),
}
GOOD = [[1.0, 2.0, 3.0], [4.0, 5.0, 7.0], [2.0, 9.0, 1.0], [3.0, 1.0, 8.0]]


def _frame(spark, bad_id, bad_vec):
    rows = [(i, bad_vec if i == bad_id else v, float(i)) for i, v in enumerate(GOOD)]
    return spark.createDataFrame(rows, "id long, features array<double>, label double")


@pytest.mark.parametrize("case", list(BAD_ROWS))
@pytest.mark.parametrize("name", list(ESTIMATORS))
def test_fit_rejects_degenerate_row(spark, name, case):
    vec, problem = BAD_ROWS[case]
    # the last id: past the KMeans seed rows, so its Lloyd pass meets it
    df = _frame(spark, len(GOOD) - 1, vec)
    with pytest.raises(ValueError, match=rf"vector column '[^']*features[^']*': {problem}"):
        ESTIMATORS[name]().fit(df)


@pytest.mark.parametrize("case", list(BAD_ROWS))
def test_kmeans_seed_rejects_degenerate_row(spark, case):
    vec, problem = BAD_ROWS[case]
    with pytest.raises(ValueError, match=f"vector column 'features': {problem}"):
        KMeans(k=2).fit(_frame(spark, 1, vec))


# what each fit hands back, reduced to the statistics a NaN reaches
# (for PCA the covariance: eigh's behaviour on a NaN matrix is LAPACK's)
NAN_FITS = {
    "PCA-covariance": lambda df: compute_covariance(df, "features")[0],
    "KMeans": lambda df: KMeans(k=2, max_iter=2).fit(df).centroids,
    "LinearRegression": lambda df: LinearRegression().fit(df).coefficients,
    "StandardScaler": lambda df: StandardScaler().fit(df).mean,
    "MinMaxScaler": lambda df: MinMaxScaler().fit(df).mn,
}


@pytest.mark.parametrize("name", list(NAN_FITS))
def test_fit_passes_nan_through(spark, name):
    """A NaN element is a value, not a missing one: the fit runs and the
    NaN reaches the fitted statistics."""
    fitted = NAN_FITS[name](_frame(spark, len(GOOD) - 1, [1.0, float("nan"), 3.0]))
    assert np.isnan(fitted).any()


@pytest.fixture(scope="module")
def models(spark):
    good = _frame(spark, -1, None)
    return {name: make().fit(good) for name, make in ESTIMATORS.items()}


@pytest.mark.parametrize("case", list(BAD_ROWS))
@pytest.mark.parametrize("name", list(ESTIMATORS))
def test_transform_rejects_degenerate_row(spark, models, name, case):
    vec, problem = BAD_ROWS[case]
    df = _frame(spark, 2, vec).drop("label")
    with pytest.raises(Exception, match=f"ValueError: vector column 'features': {problem}"):
        models[name].transform(df).collect()
