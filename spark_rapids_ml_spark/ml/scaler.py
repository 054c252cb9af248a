"""Feature scalers over an array<numeric> or Vector column: StandardScaler
(z-score) and MinMaxScaler — the MLlib-core feature transformers a
user of the reference's ML-pipeline conventions expects next to PCA
(same Estimator/Model/persistence shape, RapidsPCA.scala:30-255).

fit = ONE distributed linear scan (one Spark job) producing packed
per-column moments (n, sum, sum-of-squares, min, max) — the colStats
pattern of RapidsRowMatrix.scala:152-166 extended with extrema;
transform = a scalar Arrow UDF applying the affine map (the same
staging shape as the PCA projection, A3).

Scale: the fit moves O(d) doubles per partition regardless of rows;
transform is stateless and shuffle-free.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType

from spark_rapids_ml_spark.ml.schema import (
    ParamsPersistence,
    fold,
    load_model,
    reduce_partials,
    save_model,
    with_batch_column,
)


def _merge_stats(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Merge two packed [n, sum(d), sumsq(d), min(d), max(d)] stats."""
    d = (len(a) - 1) // 4
    lo, hi = 1 + 2 * d, 1 + 3 * d
    return np.concatenate(
        (a[:lo] + b[:lo], np.minimum(a[lo:hi], b[lo:hi]), np.maximum(a[hi:], b[hi:]))
    )


def _column_stats(df: DataFrame, input_col: str) -> tuple[int, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(n, sum, sumsq, min, max) per column in one mapInArrow scan +
    driver merge of the tiny per-partition partials."""

    def stats(x: np.ndarray) -> np.ndarray:
        return np.concatenate(
            ([x.shape[0]], x.sum(axis=0), (x * x).sum(axis=0), x.min(axis=0), x.max(axis=0))
        )

    p = reduce_partials(df, input_col, lambda xs: fold(_merge_stats, map(stats, xs)), _merge_stats)
    d = (len(p) - 1) // 4
    s, ss, mn, mx = p[1:].reshape(4, d)
    return int(p[0]), s, ss, mn, mx


class StandardScaler(ParamsPersistence):
    """z-score scaling: (x - mean) / stddev_samp, constant columns map
    to 0 (stddev 0 guarded)."""

    _PARAMS = ("input_col", "output_col")

    def __init__(self, input_col: str = "features", output_col: str = "scaled"):
        self.input_col = input_col
        self.output_col = output_col

    def fit(self, df: DataFrame) -> "StandardScalerModel":
        n, s, ss, _mn, _mx = _column_stats(df, self.input_col)
        if n < 2:
            raise ValueError("need at least 2 rows")
        mean = s / n
        # sample variance via the raw-moment identity (exact enough in
        # float64 here; the PCA covariance path is the precise one)
        var = (ss - n * mean * mean) / (n - 1)
        std = np.sqrt(np.maximum(var, 0.0))
        return StandardScalerModel(mean, std, self.input_col, self.output_col)


class StandardScalerModel:
    def __init__(self, mean: np.ndarray, std: np.ndarray, input_col: str, output_col: str):
        self.mean = mean
        self.std = std
        self.input_col = input_col
        self.output_col = output_col

    def transform(self, df: DataFrame) -> DataFrame:
        mean, std = self.mean.copy(), self.std.copy()
        safe = np.where(std > 0, std, 1.0)

        def scale(x: np.ndarray) -> np.ndarray:
            z = (x - mean) / safe
            z[:, std == 0] = 0.0
            return z

        return with_batch_column(
            df, self.input_col, self.output_col, len(mean), scale, ArrayType(DoubleType())
        )

    def save(self, spark, path: str) -> None:
        meta = {"input_col": self.input_col, "output_col": self.output_col, "dim": len(self.mean)}
        save_model(spark, path, self, meta, {"mean": self.mean.tolist(), "std": self.std.tolist()})

    @classmethod
    def load(cls, spark, path: str) -> "StandardScalerModel":
        meta, row = load_model(spark, path, cls)
        return cls(
            np.array(row["mean"]), np.array(row["std"]), meta["input_col"], meta["output_col"]
        )


class MinMaxScaler(ParamsPersistence):
    """Rescale each column to [0, 1] by its observed range; constant
    columns map to 0.5 (Spark MLlib's convention)."""

    _PARAMS = ("input_col", "output_col")

    def __init__(self, input_col: str = "features", output_col: str = "scaled"):
        self.input_col = input_col
        self.output_col = output_col

    def fit(self, df: DataFrame) -> "MinMaxScalerModel":
        _n, _s, _ss, mn, mx = _column_stats(df, self.input_col)
        return MinMaxScalerModel(mn, mx, self.input_col, self.output_col)


class MinMaxScalerModel:
    def __init__(self, mn: np.ndarray, mx: np.ndarray, input_col: str, output_col: str):
        self.mn = mn
        self.mx = mx
        self.input_col = input_col
        self.output_col = output_col

    def transform(self, df: DataFrame) -> DataFrame:
        mn, mx = self.mn.copy(), self.mx.copy()
        rng = mx - mn
        safe = np.where(rng > 0, rng, 1.0)

        def scale(x: np.ndarray) -> np.ndarray:
            z = (x - mn) / safe
            z[:, rng == 0] = 0.5
            return z

        return with_batch_column(
            df, self.input_col, self.output_col, len(mn), scale, ArrayType(DoubleType())
        )

    def save(self, spark, path: str) -> None:
        meta = {"input_col": self.input_col, "output_col": self.output_col, "dim": len(self.mn)}
        save_model(spark, path, self, meta, {"mn": self.mn.tolist(), "mx": self.mx.tolist()})

    @classmethod
    def load(cls, spark, path: str) -> "MinMaxScalerModel":
        meta, row = load_model(spark, path, cls)
        return cls(
            np.array(row["mn"]), np.array(row["mx"]), meta["input_col"], meta["output_col"]
        )
