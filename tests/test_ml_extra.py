"""Oracle tests for the extended ML surface (linear regression,
k-means) — numpy is the oracle, mirroring the PCA test strategy.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pytest

from spark_rapids_ml_spark.ml.kmeans import KMeans, KMeansModel
from spark_rapids_ml_spark.ml.linreg import LinearRegression, LinearRegressionModel
from spark_rapids_ml_spark.ml.pca import PCA, PCAModel
from spark_rapids_ml_spark.ml.scaler import (
    MinMaxScaler,
    MinMaxScalerModel,
    StandardScaler,
    StandardScalerModel,
)


@pytest.fixture(scope="module")
def reg_data(spark):
    rng = np.random.default_rng(11)
    x = rng.normal(size=(500, 5))
    beta = np.array([2.0, -1.5, 0.5, 3.0, -0.25])
    y = x @ beta + 4.2 + rng.normal(scale=0.01, size=500)
    df = spark.createDataFrame(
        [(i, row.tolist(), float(y[i])) for i, row in enumerate(x)],
        ["id", "features", "label"],
    )
    return x, y, df


def test_linreg_matches_numpy_lstsq(spark, reg_data):
    x, y, df = reg_data
    model = LinearRegression().fit(df)
    xi = np.hstack([x, np.ones((len(x), 1))])
    expected, *_ = np.linalg.lstsq(xi, y, rcond=None)
    np.testing.assert_allclose(model.coefficients, expected[:5], atol=1e-6)
    assert model.intercept == pytest.approx(expected[5], abs=1e-6)


def test_linreg_no_intercept(spark, reg_data):
    x, y, df = reg_data
    model = LinearRegression(fit_intercept=False).fit(df)
    expected, *_ = np.linalg.lstsq(x, y, rcond=None)
    np.testing.assert_allclose(model.coefficients, expected, atol=1e-6)
    assert model.intercept == 0.0


def test_linreg_transform_predictions(spark, reg_data):
    x, y, df = reg_data
    model = LinearRegression().fit(df)
    preds = {
        r["id"]: r["prediction"] for r in model.transform(df).select("id", "prediction").collect()
    }
    expected = x @ model.coefficients + model.intercept
    for i in (0, 123, 499):
        assert preds[i] == pytest.approx(expected[i], abs=1e-9)


def test_linreg_model_roundtrip(spark, reg_data, tmp_path):
    from spark_rapids_ml_spark.ml.linreg import LinearRegressionModel

    _x, _y, df = reg_data
    model = LinearRegression().fit(df)
    path = str(tmp_path / "linreg")
    model.save(spark, path)
    loaded = LinearRegressionModel.load(spark, path)
    np.testing.assert_array_equal(model.coefficients, loaded.coefficients)
    assert model.intercept == loaded.intercept


def test_kmeans_model_roundtrip(spark, tmp_path):
    from spark_rapids_ml_spark.ml.kmeans import KMeansModel

    rng = np.random.default_rng(3)
    x = rng.normal(size=(60, 4))
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], ["id", "features"]
    )
    model = KMeans(k=3, max_iter=3, id_col="id").fit(df)
    path = str(tmp_path / "kmeans")
    model.save(spark, path)
    loaded = KMeansModel.load(spark, path)
    np.testing.assert_array_equal(model.centroids, loaded.centroids)
    assert loaded.feature_col == "features"


def numpy_lloyd(x: np.ndarray, k: int, max_iter: int, tol: float) -> np.ndarray:
    """Driver-side replay of the exact same deterministic algorithm."""
    c = x[:k].copy()
    for _ in range(max_iter):
        d2 = (x * x).sum(1)[:, None] - 2 * x @ c.T + (c * c).sum(1)[None, :]
        lab = d2.argmin(1)
        new_c = c.copy()
        for j in range(k):
            m = lab == j
            if m.any():
                new_c[j] = x[m].mean(axis=0)
        shift = float(np.abs(new_c - c).max())
        c = new_c
        if shift < tol:
            break
    return c


def test_kmeans_matches_numpy_replay(spark):
    rng = np.random.default_rng(5)
    # three well-separated blobs
    x = np.vstack(
        [
            rng.normal(loc=(0, 0, 0), scale=0.3, size=(100, 3)),
            rng.normal(loc=(5, 5, 0), scale=0.3, size=(100, 3)),
            rng.normal(loc=(0, 5, 5), scale=0.3, size=(100, 3)),
        ]
    )
    order = rng.permutation(len(x))
    x = x[order]
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], ["id", "features"]
    )
    model = KMeans(k=3, max_iter=15, id_col="id").fit(df)
    expected = numpy_lloyd(x, 3, 15, 1e-6)
    np.testing.assert_allclose(np.sort(model.centroids, axis=0), np.sort(expected, axis=0), atol=1e-6)
    # blob separation: every point lands with its blob's majority
    out = model.transform(df).select("id", "cluster").collect()
    labs = np.empty(len(x), dtype=int)
    for r in out:
        labs[r["id"]] = r["cluster"]
    # points from the same generative blob must share a cluster
    inv = np.argsort(order)
    for blob in range(3):
        blob_labels = labs[inv[blob * 100 : (blob + 1) * 100]]
        assert len(set(blob_labels.tolist())) == 1


# ------------- estimator persistence + schema validation (ref
# RapidsPCA.scala:127-140,207-228; PCASuite.scala:192-206 round-trips
# estimator AND model, DefaultReadWriteTest style) -------------


def _models() -> list:
    """One model of each of the five classes, built directly (no fit) so
    every persisted field is a known literal."""
    return [
        PCAModel(pc=np.eye(3)[:, :2], explained_variance=np.array([2.0, 1.0]),
                 explained_variance_ratio=np.array([0.5, 0.25]), mean=np.zeros(3),
                 input_col="f", output_col="o", k=2, mean_centering=True, n_rows=10),
        KMeansModel(np.arange(6.0).reshape(2, 3), "f"),
        LinearRegressionModel(np.array([1.0, 2.0]), 0.5, "f"),
        StandardScalerModel(np.zeros(3), np.ones(3), "f", "o"),
        MinMaxScalerModel(np.zeros(3), np.ones(3), "f", "o"),
    ]


def test_estimator_roundtrip_all_three(spark, tmp_path):
    est = PCA(k=3, input_col="emb", output_col="proj", backend="spr",
              mean_centering=False)
    est.save(str(tmp_path / "pca_est"))
    got = PCA.load(str(tmp_path / "pca_est"))
    assert (got.k, got.input_col, got.output_col, got.backend,
            got.mean_centering) == (3, "emb", "proj", "spr", False)

    km = KMeans(k=5, feature_col="f", id_col="vid", max_iter=3, tol=1e-4)
    km.save(str(tmp_path / "km_est"))
    got = KMeans.load(str(tmp_path / "km_est"))
    assert (got.k, got.feature_col, got.id_col, got.max_iter, got.tol) == (
        5, "f", "vid", 3, 1e-4)

    lr = LinearRegression(feature_col="f", label_col="y", fit_intercept=False)
    lr.save(str(tmp_path / "lr_est"))
    got = LinearRegression.load(str(tmp_path / "lr_est"))
    assert (got.feature_col, got.label_col, got.fit_intercept) == ("f", "y", False)

    # wrong-class load must refuse
    with pytest.raises(ValueError, match="expected"):
        KMeans.load(str(tmp_path / "pca_est"))
    # ... and so must every model load, naming both classes
    models = _models()
    for m in models:
        m.save(spark, str(tmp_path / type(m).__name__))
    for saved, other in zip(models, models[1:] + models[:1]):
        tags = [f"{type(o).__module__}.{type(o).__name__}" for o in (other, saved)]
        with pytest.raises(ValueError, match=re.escape("expected {}, found {}".format(*tags))):
            type(other).load(spark, str(tmp_path / type(saved).__name__))


_M = "spark_rapids_ml_spark.ml."
# (saved object, metadata.json as earlier versions wrote it, data/ columns)
_PINNED = [
    (PCA(k=2, input_col="f", output_col="o", mean_centering=False, backend="spr"),
     {"class": _M + "pca.PCA", "params": {"k": 2, "input_col": "f", "output_col": "o",
                                          "mean_centering": False, "backend": "spr"}}, None),
    (KMeans(k=3, feature_col="f", id_col="i", max_iter=4, tol=0.5),
     {"class": _M + "kmeans.KMeans", "params": {"k": 3, "feature_col": "f", "id_col": "i",
                                                "max_iter": 4, "tol": 0.5}}, None),
    (LinearRegression(feature_col="f", label_col="y", fit_intercept=False),
     {"class": _M + "linreg.LinearRegression",
      "params": {"feature_col": "f", "label_col": "y", "fit_intercept": False}}, None),
    (StandardScaler(input_col="f", output_col="o"),
     {"class": _M + "scaler.StandardScaler", "params": {"input_col": "f", "output_col": "o"}},
     None),
    (MinMaxScaler(input_col="f", output_col="o"),
     {"class": _M + "scaler.MinMaxScaler", "params": {"input_col": "f", "output_col": "o"}},
     None),
] + list(zip(_models(), [
    {"class": _M + "pca.PCAModel", "k": 2, "input_col": "f", "output_col": "o",
     "mean_centering": True, "n_features": 3, "n_rows": 10},
    {"class": _M + "kmeans.KMeansModel", "feature_col": "f", "k": 2, "dim": 3},
    {"class": _M + "linreg.LinearRegressionModel", "feature_col": "f", "intercept": 0.5},
    {"class": _M + "scaler.StandardScalerModel", "input_col": "f", "output_col": "o", "dim": 3},
    {"class": _M + "scaler.MinMaxScalerModel", "input_col": "f", "output_col": "o", "dim": 3},
], [
    ["explained_variance", "explained_variance_ratio", "mean", "pc"],
    ["centroids"],
    ["coefficients"],
    ["mean", "std"],
    ["mn", "mx"],
]))


@pytest.mark.parametrize("obj, meta, columns", _PINNED,
                         ids=[type(p[0]).__name__ for p in _PINNED])
def test_persistence_format_is_pinned(spark, tmp_path, obj, meta, columns):
    """Saved directories keep the exact layout earlier versions wrote
    (metadata.json bytes; data/ parquet column names), so they still load."""
    path = str(tmp_path / "saved")
    if columns is None:
        obj.save(path)
    else:
        obj.save(spark, path)
        assert spark.read.parquet(f"{path}/data").columns == columns
    with open(f"{path}/metadata.json") as f:
        assert f.read() == json.dumps(meta)


@pytest.mark.parametrize(
    "make",
    [lambda: PCA(k=2), lambda: KMeans(k=2), LinearRegression, StandardScaler, MinMaxScaler],
    ids=["PCA", "KMeans", "LinearRegression", "StandardScaler", "MinMaxScaler"],
)
def test_fit_empty_input_all_estimators(reg_data, make):
    _, _, df = reg_data
    with pytest.raises(ValueError, match="empty input"):
        make().fit(df.limit(0))


def test_estimator_load_fit_parity(spark, reg_data, tmp_path):
    """A loaded estimator must fit to the same model as the original
    (the invariant PCASuite.scala:192-206 checks)."""
    x, y, df = reg_data
    lr = LinearRegression()
    lr.save(str(tmp_path / "lr"))
    m1 = lr.fit(df)
    m2 = LinearRegression.load(str(tmp_path / "lr")).fit(df)
    np.testing.assert_allclose(m1.coefficients, m2.coefficients, atol=0)
    assert m1.intercept == m2.intercept and m1.n_rows == m2.n_rows == 500


def test_schema_validation_fails_fast(spark, reg_data):
    """Bad input schemas must raise driver-side BEFORE any job — the
    validateAndTransformSchema contract (RapidsPCA.scala:127-129)."""
    from spark_rapids_ml_spark.ml.pca import PCA

    _, _, df = reg_data
    with pytest.raises(ValueError, match="not found"):
        PCA(k=2, input_col="nope").fit(df)
    with pytest.raises(ValueError, match="array<numeric> or Vector"):
        PCA(k=2, input_col="label").fit(df)  # scalar, not vector
    with pytest.raises(ValueError, match="already exists"):
        PCA(k=2, input_col="features", output_col="label").fit(df)
    with pytest.raises(ValueError, match="array<numeric> or Vector"):
        KMeans(k=2, feature_col="label").fit(df)
    with pytest.raises(ValueError, match="must be numeric"):
        LinearRegression(label_col="features").fit(df)
    # transform validates too
    model = PCA(k=2, input_col="features", output_col="proj").fit(df)
    with pytest.raises(ValueError, match="already exists"):
        model.transform(df.withColumnRenamed("label", "proj"))


# ----------------------------------------------------------- scalers

def test_standard_scaler_matches_numpy(spark):
    from spark_rapids_ml_spark.ml.scaler import StandardScaler

    rng = np.random.default_rng(5)
    x = rng.normal(size=(80, 6))
    x[:, 3] = 7.0  # constant column
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], ["id", "features"]
    )
    model = StandardScaler(input_col="features").fit(df)
    np.testing.assert_allclose(model.mean, x.mean(axis=0), rtol=1e-12)
    np.testing.assert_allclose(model.std, x.std(axis=0, ddof=1), rtol=1e-10)
    got = {r["id"]: np.array(r["scaled"]) for r in model.transform(df).collect()}
    expect = (x - x.mean(axis=0)) / np.where(
        x.std(axis=0, ddof=1) > 0, x.std(axis=0, ddof=1), 1.0
    )
    expect[:, 3] = 0.0  # constant column maps to 0
    for i in range(len(x)):
        np.testing.assert_allclose(got[i], expect[i], atol=1e-10)


def test_minmax_scaler_matches_numpy_and_roundtrips(spark, tmp_path):
    from spark_rapids_ml_spark.ml.scaler import MinMaxScaler, MinMaxScalerModel

    rng = np.random.default_rng(6)
    x = rng.uniform(-3, 9, size=(50, 4))
    x[:, 2] = 1.5  # constant column -> 0.5
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], ["id", "features"]
    )
    model = MinMaxScaler(input_col="features").fit(df)
    path = str(tmp_path / "mm")
    model.save(spark, path)
    loaded = MinMaxScalerModel.load(spark, path)
    np.testing.assert_array_equal(loaded.mn, model.mn)
    got = {r["id"]: np.array(r["scaled"]) for r in loaded.transform(df).collect()}
    rngs = x.max(axis=0) - x.min(axis=0)
    expect = (x - x.min(axis=0)) / np.where(rngs > 0, rngs, 1.0)
    expect[:, 2] = 0.5
    for i in range(len(x)):
        np.testing.assert_allclose(got[i], expect[i], atol=1e-12)


def test_standard_scaler_model_roundtrip(spark, tmp_path):
    from spark_rapids_ml_spark.ml.scaler import StandardScaler, StandardScalerModel

    df = spark.createDataFrame(
        [(i, [float(i), float(i * 2)]) for i in range(10)], ["id", "features"]
    )
    model = StandardScaler(input_col="features").fit(df)
    path = str(tmp_path / "ss")
    model.save(spark, path)
    loaded = StandardScalerModel.load(spark, path)
    np.testing.assert_array_equal(loaded.mean, model.mean)
    np.testing.assert_array_equal(loaded.std, model.std)


def test_scaler_rejects_bad_schema(spark):
    import pytest as _pytest

    from spark_rapids_ml_spark.ml.scaler import StandardScaler

    df = spark.createDataFrame([(1, "nope")], ["id", "features"])
    with _pytest.raises(ValueError):
        StandardScaler(input_col="features").fit(df)


def test_kmeans_declared_query_matches_numpy_replay(spark):
    """The DECLARED kmeans query (rows-only in the oracle harness) is
    pinned here value-by-value: replay Lloyd's with the same k,
    iteration budget, and smallest-id init on the actual embeddings
    table and require identical cluster sizes and centroid norms."""
    import pyarrow.parquet as pq

    from spark_rapids_ml_spark.ml_queries import kmeans_embedding_clusters
    from spark_rapids_ml_spark.functions.portable import duck_round

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    t = t.sort_values("vec_id")
    x = np.vstack(t["embedding"].map(lambda v: np.asarray(v, np.float64)))
    cents = numpy_lloyd(x, 4, 6, 1e-6)
    d2 = (x * x).sum(1)[:, None] - 2 * x @ cents.T + (cents * cents).sum(1)[None, :]
    lab = d2.argmin(1)
    expect = {
        j: (int((lab == j).sum()), duck_round(float(np.linalg.norm(cents[j])), 6))
        for j in range(4)
    }
    got = {
        r["cluster"]: (r["n"], r["centroid_norm"])
        for r in kmeans_embedding_clusters(spark, sf).collect()
    }
    assert got == expect
