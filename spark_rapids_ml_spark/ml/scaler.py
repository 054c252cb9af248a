"""Feature scalers over an array<numeric> or Vector column: StandardScaler
(z-score) and MinMaxScaler — the MLlib-core feature transformers a
user of the reference's ML-pipeline conventions expects next to PCA
(same Estimator/Model/persistence shape, RapidsPCA.scala:30-255).

fit = ONE distributed linear scan producing packed per-column moments
(n, sum, sum-of-squares, min, max) — the colStats pattern of
RapidsRowMatrix.scala:152-166 extended with extrema; transform = a
batched Arrow pandas_udf applying the affine map (the same staging
shape as the PCA projection, A3).

Scale: the fit exchange carries O(d) doubles per partition regardless
of rows; transform is stateless and shuffle-free.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from spark_rapids_ml_spark.ml.schema import (
    ParamsPersistence,
    as_matrix,
    load_model,
    save_model,
    vector_column,
)

_PACKED = StructType([StructField("packed", ArrayType(DoubleType()))])


def _column_stats(df: DataFrame, input_col: str) -> tuple[int, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(n, sum, sumsq, min, max) per column in one mapInPandas scan +
    driver merge of the tiny per-partition partials."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = ss = mn = mx = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = as_matrix(pdf[input_col])
            n += x.shape[0]
            cs, css = x.sum(axis=0), (x * x).sum(axis=0)
            cmn, cmx = x.min(axis=0), x.max(axis=0)
            s = cs if s is None else s + cs
            ss = css if ss is None else ss + css
            mn = cmn if mn is None else np.minimum(mn, cmn)
            mx = cmx if mx is None else np.maximum(mx, cmx)
        if n > 0:
            yield pd.DataFrame(
                {"packed": [np.concatenate(([float(n)], s, ss, mn, mx)).tolist()]}
            )

    rows = df.select(vector_column(df.schema, input_col)).mapInPandas(run, _PACKED).collect()
    if not rows:
        raise ValueError("empty input")
    acc = None
    n_total = 0
    for r in rows:
        p = np.asarray(r["packed"])
        d = (len(p) - 1) // 4
        n_total += int(p[0])
        part = p[1:].reshape(4, d)
        if acc is None:
            acc = part.copy()
        else:
            acc[0] += part[0]
            acc[1] += part[1]
            acc[2] = np.minimum(acc[2], part[2])
            acc[3] = np.maximum(acc[3], part[3])
    return n_total, acc[0], acc[1], acc[2], acc[3]


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

        @F.pandas_udf(ArrayType(DoubleType()))
        def scale(series: pd.Series) -> pd.Series:
            x = as_matrix(series)
            z = (x - mean) / safe
            z[:, std == 0] = 0.0
            return pd.Series(list(z))

        return df.withColumn(self.output_col, scale(vector_column(df.schema, self.input_col)))

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

        @F.pandas_udf(ArrayType(DoubleType()))
        def scale(series: pd.Series) -> pd.Series:
            x = as_matrix(series)
            z = (x - mn) / safe
            z[:, rng == 0] = 0.5
            return pd.Series(list(z))

        return df.withColumn(self.output_col, scale(vector_column(df.schema, self.input_col)))

    def save(self, spark, path: str) -> None:
        meta = {"input_col": self.input_col, "output_col": self.output_col, "dim": len(self.mn)}
        save_model(spark, path, self, meta, {"mn": self.mn.tolist(), "mx": self.mx.tolist()})

    @classmethod
    def load(cls, spark, path: str) -> "MinMaxScalerModel":
        meta, row = load_model(spark, path, cls)
        return cls(
            np.array(row["mn"]), np.array(row["mx"]), meta["input_col"], meta["output_col"]
        )
