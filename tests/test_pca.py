"""PCA parity tests — mirrors the reference's PCASuite strategy
(numpy/stock-oracle comparison, absTol 1e-5; PCASuite.scala:50-73) but
with an *exact* sign convention instead of the reference's abs()
workaround (PCASuite.scala:136-147).
"""

from __future__ import annotations

import numpy as np
import pytest

from spark_rapids_ml_spark.ml.pca import (
    PCA,
    PCAModel,
    compute_column_means,
    compute_covariance,
    compute_covariance_spr,
    sign_flip,
    triu_to_full,
)

ABS_TOL = 1e-5  # PCASuite.scala:71


def numpy_pca(x: np.ndarray, k: int, center: bool = True):
    """Independent oracle: covariance → eigh → descending → sign flip."""
    mu = x.mean(axis=0) if center else np.zeros(x.shape[1])
    xc = x - mu
    cov = xc.T @ xc / (x.shape[0] - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals = np.clip(vals[order], 0, None)
    vecs = sign_flip(vecs[:, order])
    return vecs[:, :k], vals[:k], vals[:k] / vals.sum()


# the canonical 3x5 input (PCASuite.scala:42-46; sparse row densified)
SMALL = np.array(
    [
        [2.0, 0.0, 3.0, 4.0, 5.0],
        [0.0, 1.0, 0.0, 7.0, 0.0],
        [4.0, 0.0, 0.0, 6.0, 7.0],
    ]
)


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(SMALL)], ["id", "features"]
    )


@pytest.fixture(scope="module")
def random_df(spark):
    # 100x100 uniform, fixed seed — mirrors RandomRDDs.uniformVectorRDD(sc,100,100,1)
    rng = np.random.default_rng(1)
    x = rng.uniform(size=(100, 100))
    return x, spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], ["id", "features"]
    )


def test_covariance_matches_numpy(spark, small_df):
    cov, mean, n = compute_covariance(small_df, "features")
    assert n == 3
    np.testing.assert_allclose(mean, SMALL.mean(axis=0), atol=1e-12)
    np.testing.assert_allclose(cov, np.cov(SMALL.T, ddof=1), atol=1e-12)


def test_spr_backend_matches_moments(spark, small_df, random_df):
    """The two covariance backends (A8 moments vs A9 spr/packed-
    triangular, RapidsRowMatrix.scala:170,202-252) must agree to 1e-9
    despite different summation order."""
    for df, x in [(small_df, SMALL), (random_df[1], random_df[0])]:
        c1, m1, n1 = compute_covariance(df, "features")
        c2, m2, n2 = compute_covariance_spr(df, "features")
        assert n1 == n2 == x.shape[0]
        np.testing.assert_allclose(m1, m2, atol=1e-12)
        np.testing.assert_allclose(c1, c2, atol=1e-9)
        np.testing.assert_allclose(c2, np.cov(x.T, ddof=1), atol=1e-9)


def test_column_means_only(spark, small_df):
    mean, n = compute_column_means(small_df, "features")
    assert n == 3
    np.testing.assert_allclose(mean, SMALL.mean(axis=0), atol=1e-12)


def test_triu_to_full_roundtrip():
    rng = np.random.default_rng(7)
    a = rng.normal(size=(6, 6))
    sym = a + a.T
    li, lj = np.tril_indices(6)
    packed = sym[lj, li]  # column-major upper triangle (spr layout)
    np.testing.assert_array_equal(triu_to_full(6, packed), sym)


def test_pca_spr_backend_end_to_end(spark, small_df):
    m1 = PCA(k=2, input_col="features").fit(small_df)
    m2 = PCA(k=2, input_col="features", backend="spr").fit(small_df)
    np.testing.assert_allclose(m1.pc, m2.pc, atol=1e-9)
    np.testing.assert_allclose(m1.explained_variance, m2.explained_variance, atol=1e-9)
    with pytest.raises(ValueError):
        PCA(k=2, backend="gpu")


def test_fit_small_matches_numpy(spark, small_df):
    model = PCA(k=3, input_col="features").fit(small_df)
    pc, var, ratio = numpy_pca(SMALL, 3)
    # 3 samples → rank-2 covariance: components 1-2 are determined and
    # must match exactly (incl. sign); component 3 spans the null space
    # (eigenvalue ~0) where any orthonormal basis vector is valid.
    np.testing.assert_allclose(model.pc[:, :2], pc[:, :2], atol=ABS_TOL)
    np.testing.assert_allclose(model.explained_variance, var, atol=ABS_TOL)
    np.testing.assert_allclose(model.explained_variance_ratio, ratio, atol=ABS_TOL)
    cov = np.cov(SMALL.T, ddof=1)
    v3 = model.pc[:, 2]
    np.testing.assert_allclose(cov @ v3, np.zeros(5), atol=ABS_TOL)  # null vector
    np.testing.assert_allclose(model.pc.T @ model.pc, np.eye(3), atol=ABS_TOL)


def test_transform_small_matches_numpy(spark, small_df):
    model = PCA(k=2, input_col="features", output_col="out").fit(small_df)
    got = {
        r["id"]: np.array(r["out"])
        for r in model.transform(small_df).select("id", "out").collect()
    }
    pc, _, _ = numpy_pca(SMALL, 2)
    expected = SMALL @ pc
    for i in range(3):
        np.testing.assert_allclose(got[i], expected[i], atol=ABS_TOL)


def test_fit_random_100x100_sign_exact(spark, random_df):
    """k=3 on 100x100 random data with EXACT sign comparison — the
    check the reference could not do (PCASuite.scala:136-147)."""
    x, df = random_df
    model = PCA(k=3, input_col="features").fit(df)
    pc, var, _ = numpy_pca(x, 3)
    np.testing.assert_allclose(model.pc, pc, atol=ABS_TOL)
    np.testing.assert_allclose(model.explained_variance, var, atol=ABS_TOL)
    # sign convention: max-|x| element of every component is positive
    for j in range(3):
        i = int(np.argmax(np.abs(model.pc[:, j])))
        assert model.pc[i, j] > 0


def test_dense_sparse_parity(spark):
    """Dense rows vs mostly-zero ('sparse') rows produce identical
    models (PCASuite.scala:155-190)."""
    rows = [
        [0.0, 1.0, 0.0, 7.0, 0.0],
        [2.0, 0.0, 3.0, 4.0, 5.0],
        [4.0, 0.0, 0.0, 6.0, 7.0],
    ]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(rows)], ["id", "features"])
    m = PCA(k=2, input_col="features").fit(df)
    pc, var, _ = numpy_pca(np.array(rows), 2)
    np.testing.assert_allclose(m.pc, pc, atol=ABS_TOL)


def test_vectorudt_dense_sparse_input(spark):
    """pyspark.ml.linalg VectorUDT input (dense AND sparse rows) must
    produce the same model and projections as the equivalent
    array<double> input — full parity with PCASuite.scala:155-190."""
    from pyspark.ml.linalg import Vectors

    vec_df = spark.createDataFrame(
        [
            (0, Vectors.dense(SMALL[0].tolist())),
            (1, Vectors.sparse(5, {1: 1.0, 3: 7.0})),
            (2, Vectors.dense(SMALL[2].tolist())),
        ],
        ["id", "features"],
    )
    m = PCA(k=2, input_col="features").fit(vec_df)
    pc, var, _ = numpy_pca(SMALL, 2)
    np.testing.assert_allclose(m.pc, pc, atol=ABS_TOL)
    np.testing.assert_allclose(m.explained_variance, var, atol=ABS_TOL)
    got = {
        r["id"]: np.array(r["pca_features"])
        for r in m.transform(vec_df).select("id", "pca_features").collect()
    }
    expected = SMALL @ pc
    for i in range(3):
        np.testing.assert_allclose(got[i], expected[i], atol=ABS_TOL)


def test_k_validation(spark, small_df):
    with pytest.raises(ValueError, match="k=9 > numFeatures=5"):
        PCA(k=9, input_col="features").fit(small_df)


@pytest.mark.parametrize("backend", PCA.BACKENDS)
def test_fit_empty_input(spark, small_df, backend):
    with pytest.raises(ValueError, match="empty input"):
        PCA(k=2, input_col="features", backend=backend).fit(small_df.limit(0))


def test_no_mean_centering(spark, small_df):
    model = PCA(k=2, input_col="features", mean_centering=False).fit(small_df)
    pc, var, _ = numpy_pca(SMALL, 2, center=False)
    np.testing.assert_allclose(model.pc, pc, atol=ABS_TOL)


def test_model_roundtrip(spark, small_df, tmp_path):
    """Write→read→identical (DefaultReadWriteTest parity,
    PCASuite.scala:192-206)."""
    model = PCA(k=2, input_col="features", output_col="o").fit(small_df)
    path = str(tmp_path / "pca_model")
    model.save(spark, path)
    loaded = PCAModel.load(spark, path)
    np.testing.assert_array_equal(model.pc, loaded.pc)
    np.testing.assert_array_equal(model.explained_variance, loaded.explained_variance)
    np.testing.assert_array_equal(model.mean, loaded.mean)
    assert (loaded.k, loaded.input_col, loaded.output_col) == (2, "features", "o")


def test_fit_embeddings_matches_numpy(spark, sf_dir):
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    x = np.vstack([np.array(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()])
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = PCA(k=8, input_col="embedding").fit(df)
    pc, var, ratio = numpy_pca(x, 8)
    np.testing.assert_allclose(model.pc, pc, atol=ABS_TOL)
    np.testing.assert_allclose(model.explained_variance_ratio, ratio, atol=ABS_TOL)
