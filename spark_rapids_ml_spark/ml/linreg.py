"""Distributed linear regression via normal equations.

Reuses the engine's Gram-partial machinery (ml/pca.py): one linear
scan (one Spark job) gathers (n, Σz, ΣzzᵀT) for z = [x | y]; the
driver then solves
(XᵀX)β = Xᵀy — both blocks are sub-matrices of the z-Gram. Same scale
property as PCA fit: O(n_features²) partial per partition, driver
memory O(n_features²), row count irrelevant.

This is the classic scalable closed-form fit (the shape GPU ML
libraries accelerate); for n_features beyond ~10⁴ one would switch to
L-BFGS/SGD — out of scope for the declared contract.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from spark_rapids_ml_spark.ml.pca import _moments
from spark_rapids_ml_spark.ml.schema import (
    ParamsPersistence,
    load_model,
    save_model,
    validate_numeric_col,
    vector_column,
    with_batch_column,
)


class LinearRegression(ParamsPersistence):
    """fit(df, feature_col=array<numeric> or Vector, label_col=numeric) → model
    with .coefficients (per feature) and .intercept."""

    _PARAMS = ("feature_col", "label_col", "fit_intercept")

    def __init__(self, feature_col: str = "features", label_col: str = "label", fit_intercept: bool = True):
        self.feature_col = feature_col
        self.label_col = label_col
        self.fit_intercept = fit_intercept

    def fit(self, df: DataFrame) -> "LinearRegressionModel":
        vec = vector_column(df.schema, self.feature_col)  # fail fast, zero jobs
        validate_numeric_col(df.schema, self.label_col)
        # z = [x | y]; named after both inputs, so a degenerate row's
        # error names them
        z = f"[{self.feature_col}, {self.label_col}]"
        n, colsum, gram = _moments(
            df.select(
                F.concat(
                    vec.cast("array<double>"),
                    F.array(F.col(self.label_col).cast("double")),
                ).alias(z)
            ),
            z,
        )
        d = len(colsum) - 1  # features
        sx = colsum[:d]
        sy = colsum[d]
        gxx = gram[:d, :d]
        gxy = gram[:d, d]
        if self.fit_intercept:
            # centered normal equations: (Gxx - n·x̄x̄ᵀ)β = Gxy - n·x̄·ȳ
            xm = sx / n
            ym = sy / n
            a = gxx - n * np.outer(xm, xm)
            b = gxy - n * xm * ym
            beta = np.linalg.solve(a, b)
            intercept = float(ym - xm @ beta)
        else:
            beta = np.linalg.solve(gxx, gxy)
            intercept = 0.0
        return LinearRegressionModel(beta, intercept, self.feature_col, n_rows=n)


class LinearRegressionModel:
    def __init__(
        self,
        coefficients: np.ndarray,
        intercept: float,
        feature_col: str,
        n_rows: int | None = None,
    ):
        # n_rows comes free from the fit partials — consumers must not
        # pay a second full scan just to count (mirrors PCAModel.n_rows)
        self.n_rows = n_rows
        self.coefficients = coefficients
        self.intercept = intercept
        self.feature_col = feature_col

    def save(self, spark, path: str) -> None:
        """Persistence layout mirrors PCAModel (metadata.json + data/)."""
        meta = {"feature_col": self.feature_col, "intercept": self.intercept}
        save_model(spark, path, self, meta, {"coefficients": self.coefficients.tolist()})

    @classmethod
    def load(cls, spark, path: str) -> "LinearRegressionModel":
        meta, row = load_model(spark, path, cls)
        return cls(np.array(row["coefficients"]), meta["intercept"], meta["feature_col"])

    def transform(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        beta = self.coefficients.copy()
        b0 = self.intercept
        return with_batch_column(
            df, self.feature_col, output_col, len(beta), lambda x: x @ beta + b0, DoubleType()
        )
