"""Pipeline-API facade tests: the estimator must compose inside
pyspark.ml.Pipeline (the reference's public API shape, PCA.scala:27-37)
and agree with the core implementation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml import Pipeline
from pyspark.ml.param import Params

from spark_rapids_ml_spark.ml.pipeline_api import SparkPCA, SparkPCAModel


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(7)
    x = rng.normal(size=(200, 12))
    return x, spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], ["id", "features"]
    )


def test_params_roundtrip():
    est = SparkPCA(k=3, inputCol="f", outputCol="o", meanCentering=False)
    assert est.getK() == 3
    assert est.getInputCol() == "f"
    assert est.getOutputCol() == "o"
    assert est.getMeanCentering() is False
    est.setK(5).setInputCol("g")
    assert est.getK() == 5 and est.getInputCol() == "g"
    # copy() must preserve params (ParamsSuite.checkParams parity)
    c = est.copy()
    assert isinstance(c, Params) and c.getK() == 5


def test_fit_in_pipeline(spark, vec_df):
    x, df = vec_df
    pipe = Pipeline(stages=[SparkPCA(k=4, inputCol="features", outputCol="proj")])
    pmodel = pipe.fit(df)
    out = pmodel.transform(df)
    assert out.columns == ["id", "features", "proj"]
    rows = out.select("id", "proj").collect()
    assert len(rows) == 200 and len(rows[0]["proj"]) == 4
    stage = pmodel.stages[0]
    assert isinstance(stage, SparkPCAModel)
    assert stage.pc.shape == (12, 4)
    # projection parity with direct numpy computation
    got = {r["id"]: np.array(r["proj"]) for r in rows}
    expected = x @ stage.pc
    for i in (0, 57, 199):
        np.testing.assert_allclose(got[i], expected[i], atol=1e-5)


def test_model_persistence_via_facade(spark, vec_df, tmp_path):
    _x, df = vec_df
    model = SparkPCA(k=2, inputCol="features").fit(df)
    path = str(tmp_path / "facade_model")
    model.save_model(spark, path)
    loaded = SparkPCAModel.load_model(spark, path)
    np.testing.assert_array_equal(model.pc, loaded.pc)


def test_param_copy_is_independent():
    """copy(extra) must yield an INDEPENDENT params instance
    (ParamsSuite parity — a Pipeline clones stages through copy())."""
    from spark_rapids_ml_spark.ml.pipeline_api import SparkKMeans, SparkStandardScaler

    est = SparkPCA(k=3, inputCol="a", outputCol="b")
    c = est.copy({est.k: 7})
    assert c.getK() == 7 and est.getK() == 3
    assert c.getInputCol() == "a" and c.uid == est.uid
    km = SparkKMeans(k=4, inputCol="proj", idCol="rid", maxIter=3, tol=0.0)
    kc = km.copy()
    kc.setK(9)
    assert km.getK() == 4 and kc.getK() == 9
    assert kc.getIdCol() == "rid" and kc.getMaxIter() == 3
    sc_ = SparkStandardScaler(inputCol="x", outputCol="y").copy()
    assert sc_.getInputCol() == "x" and sc_.getOutputCol() == "y"


def test_three_stage_pipeline_nested_persistence(spark, vec_df, tmp_path):
    """PCASuite.scala:192-206 parity, widened to a 3-stage chain:
    scaler -> PCA -> k-means must fit inside Pipeline, and BOTH the
    unfitted Pipeline and the fitted PipelineModel must round-trip
    through ml persistence with every stage's params surviving."""
    from pyspark.ml import PipelineModel

    from spark_rapids_ml_spark.ml.pipeline_api import (
        SparkKMeans,
        SparkKMeansModel,
        SparkStandardScaler,
        SparkStandardScalerModel,
    )

    x, df = vec_df
    pipe = Pipeline(
        stages=[
            SparkStandardScaler(inputCol="features", outputCol="scaled"),
            SparkPCA(k=4, inputCol="scaled", outputCol="proj", meanCentering=True),
            SparkKMeans(k=3, inputCol="proj", outputCol="cluster", idCol="id", maxIter=5, tol=0.0),
        ]
    )

    # unfitted estimator chain round-trip (params only)
    epath = str(tmp_path / "pipe_est")
    pipe.save(epath)
    pipe2 = Pipeline.load(epath)
    s0, s1, s2 = pipe2.getStages()
    assert isinstance(s0, SparkStandardScaler) and s0.getOutputCol() == "scaled"
    assert isinstance(s1, SparkPCA) and s1.getK() == 4 and s1.getInputCol() == "scaled"
    assert isinstance(s2, SparkKMeans) and s2.getK() == 3 and s2.getIdCol() == "id"
    assert s2.getMaxIter() == 5 and s2.getTol() == 0.0

    # fitted chain round-trip (params + model payloads)
    pm = pipe.fit(df)
    out1 = {r["id"]: (tuple(np.round(r["proj"], 9)), r["cluster"])
            for r in pm.transform(df).select("id", "proj", "cluster").collect()}
    mpath = str(tmp_path / "pipe_model")
    pm.save(mpath)
    pm2 = PipelineModel.load(mpath)
    m0, m1, m2 = pm2.stages
    assert isinstance(m0, SparkStandardScalerModel)
    assert isinstance(m1, SparkPCAModel) and m1.getOutputCol() == "proj"
    assert isinstance(m2, SparkKMeansModel) and m2.getOutputCol() == "cluster"
    np.testing.assert_array_equal(pm.stages[1].pc, m1.pc)
    np.testing.assert_array_equal(pm.stages[2].clusterCenters, m2.clusterCenters)
    out2 = {r["id"]: (tuple(np.round(r["proj"], 9)), r["cluster"])
            for r in pm2.transform(df).select("id", "proj", "cluster").collect()}
    assert out1 == out2


def test_feature_import_path_parity(spark, vec_df):
    """The reference's user spelling is `com.nvidia.spark.ml.feature.PCA`
    (PCA.scala:27-37); our equivalent public path must exist and be the
    same Pipeline-composable classes, so a switching user only changes
    the package root."""
    from spark_rapids_ml_spark import feature
    from spark_rapids_ml_spark.ml.pipeline_api import SparkPCA, SparkPCAModel

    assert feature.PCA is SparkPCA
    assert feature.PCAModel is SparkPCAModel
    _, df = vec_df
    model = feature.PCA(k=2, inputCol="features", outputCol="proj").fit(df)
    assert isinstance(model, feature.PCAModel)
    row = model.transform(df).select("proj").first()
    assert len(row["proj"]) == 2
    assert set(feature.__all__) == {
        "PCA", "PCAModel", "KMeans", "KMeansModel",
        "StandardScaler", "StandardScalerModel",
    }


# ---------------------- input-type unification (round-10 verdict #6)
# PCASuite.scala:155-190 pins dense/sparse parity at the estimator
# level; the facade must give IDENTICAL components for array<double>,
# ml.linalg DenseVector, and ml.linalg SparseVector inputs, both
# standalone and inside a pyspark.ml.Pipeline.


@pytest.fixture(scope="module")
def typed_input_dfs(spark):
    """The SAME 150x10 matrix (half the entries zeroed so the sparse
    representation is genuinely sparse) as three frames: array,
    DenseVector, SparseVector."""
    from pyspark.ml.linalg import DenseVector, SparseVector, VectorUDT
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rng = np.random.default_rng(11)
    x = rng.normal(size=(150, 10))
    x[rng.random(size=x.shape) < 0.5] = 0.0
    arr = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        StructType(
            [
                StructField("id", LongType()),
                StructField("features", ArrayType(DoubleType())),
            ]
        ),
    )
    vec_schema = StructType(
        [StructField("id", LongType()), StructField("features", VectorUDT())]
    )
    dense = spark.createDataFrame(
        [(i, DenseVector(row)) for i, row in enumerate(x)], vec_schema
    )
    sparse = spark.createDataFrame(
        [
            (
                i,
                SparseVector(
                    10,
                    [int(j) for j in np.nonzero(row)[0]],
                    [float(v) for v in row[np.nonzero(row)[0]]],
                ),
            )
            for i, row in enumerate(x)
        ],
        vec_schema,
    )
    return x, {"array": arr, "dense": dense, "sparse": sparse}


@pytest.mark.parametrize("input_type", ["array", "dense", "sparse"])
@pytest.mark.parametrize("via_pipeline", [False, True], ids=["standalone", "pipeline"])
def test_pca_facade_input_type_parity(spark, typed_input_dfs, input_type, via_pipeline):
    """Identical principal components (exact deterministic sign flip,
    same covariance → same eigh) and identical projections regardless
    of input column type or composition route."""
    x, dfs = typed_input_dfs
    df = dfs[input_type]
    est = SparkPCA(k=3, inputCol="features", outputCol="proj")
    if via_pipeline:
        model = Pipeline(stages=[est]).fit(df).stages[0]
    else:
        model = est.fit(df)
    base = SparkPCA(k=3, inputCol="features", outputCol="proj").fit(dfs["array"])
    np.testing.assert_allclose(model.pc, base.pc, atol=1e-9)
    rows = model.transform(df).select("id", "proj").collect()
    assert len(rows) == 150 and len(rows[0]["proj"]) == 3
    got = {r["id"]: np.array(r["proj"]) for r in rows}
    mu = x.mean(axis=0)
    expected = (x - mu) @ base.pc + mu @ base.pc  # = x @ pc
    for i in (0, 74, 149):
        np.testing.assert_allclose(got[i], expected[i], atol=1e-6)


@pytest.mark.parametrize("input_type", ["dense", "sparse"])
@pytest.mark.parametrize(
    "estimator", ["KMeans", "LinearRegression", "StandardScaler", "MinMaxScaler"]
)
def test_core_estimator_input_type_parity(spark, typed_input_dfs, estimator, input_type):
    """Every core estimator, not only PCA, must read a VectorUDT column
    (dense or sparse rows) into the same fitted state and transform
    output as the equivalent array<double> column."""
    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.ml.kmeans import KMeans
    from spark_rapids_ml_spark.ml.linreg import LinearRegression
    from spark_rapids_ml_spark.ml.scaler import MinMaxScaler, StandardScaler

    make, state, out_col = {
        "KMeans": (lambda: KMeans(k=3, max_iter=3), lambda m: [m.centroids], "cluster"),
        "LinearRegression": (
            LinearRegression, lambda m: [m.coefficients, m.intercept], "prediction"
        ),
        "StandardScaler": (StandardScaler, lambda m: [m.mean, m.std], "scaled"),
        "MinMaxScaler": (MinMaxScaler, lambda m: [m.mn, m.mx], "scaled"),
    }[estimator]

    def run(df):
        df = df.withColumn("label", F.col("id").cast("double"))
        model = make().fit(df)
        rows = model.transform(df).select("id", out_col).collect()
        return state(model), {r["id"]: np.asarray(r[out_col], dtype=float) for r in rows}

    _x, dfs = typed_input_dfs
    base_state, base_out = run(dfs["array"])
    got_state, got_out = run(dfs[input_type])
    for got, base in zip(got_state, base_state):
        np.testing.assert_allclose(got, base, atol=1e-9)
    assert got_out.keys() == base_out.keys() and len(base_out) == 150
    for i, base in base_out.items():
        np.testing.assert_allclose(got_out[i], base, atol=1e-6)
