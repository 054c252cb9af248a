"""Distributed Lloyd's k-means over an array<numeric> or Vector column.

Per iteration: broadcast the k×d centroid matrix into an Arrow
mapInPandas stage; each batch assigns its rows to the nearest centroid
(vectorized numpy distance matrix) and emits per-cluster (count, sum)
partials; a groupBy(cluster) sum merges them; the driver updates
centroids. Deterministic: init = the k rows with the smallest id
column (no RNG), ties impossible on a unique id.

Scale: each iteration is ONE linear scan; shuffle carries k×d doubles
per partition. State on the driver is k×d. This is exactly the plan a
1000-executor k-means runs; k-means|| init would replace the seed rule
at real scale (kept id-deterministic here for oracle-ability).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from spark_rapids_ml_spark.ml.schema import (
    ParamsPersistence,
    as_matrix,
    load_model,
    save_model,
    vector_column,
)

# per-partition, per-cluster partial: [count, sum_0 .. sum_{d-1}]
# (count packed into the array so ONE explode+agg merges everything)
_ASSIGN_SCHEMA = StructType(
    [
        StructField("cluster", LongType()),
        StructField("packed", ArrayType(DoubleType())),
    ]
)


class KMeans(ParamsPersistence):
    _PARAMS = ("k", "feature_col", "id_col", "max_iter", "tol")

    def __init__(
        self,
        k: int,
        feature_col: str = "features",
        id_col: str = "id",
        max_iter: int = 10,
        tol: float = 1e-6,
    ):
        self.k = k
        self.feature_col = feature_col
        self.id_col = id_col
        self.max_iter = max_iter
        self.tol = tol

    def fit(self, df: DataFrame) -> "KMeansModel":
        feat = self.feature_col
        vec = vector_column(df.schema, feat)  # fail fast, zero jobs
        # Cache the projected training data for the duration of the
        # fit: every Lloyd iteration is a full pass, and without the
        # cache each pass re-reads and re-decodes the source (parquet
        # scan + cast) — the standard MLlib discipline (KMeans.run warns
        # when its input is uncached). The id column rides along so the
        # deterministic seed collect below materializes the SAME cached
        # pass the iterations read — previously the seed scan was a
        # separate uncached read of the source. Freed in the finally,
        # so no storage outlives the fit.
        data = df.select(
            self.id_col, vec.cast("array<double>").alias("v")
        ).persist()
        try:
            # deterministic init: rows with the k smallest ids. The cast
            # to double is exact (float32 widens losslessly), so seeds
            # are bit-identical to reading the raw feature column.
            seed_rows = data.orderBy(self.id_col).limit(self.k).collect()
            if not seed_rows:
                raise ValueError("empty input")
            centroids = as_matrix(pd.Series([r["v"] for r in seed_rows]))
            centroids = self._lloyd(data.select("v"), centroids)
        finally:
            data.unpersist()
        return KMeansModel(centroids, feat)

    def _lloyd(self, data: DataFrame, centroids: np.ndarray) -> np.ndarray:
        """max_iter Lloyd iterations over the cached projection; returns
        the final centroid matrix."""
        for _ in range(self.max_iter):
            c = centroids.copy()

            def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                counts = np.zeros(len(c), dtype=np.int64)
                sums = np.zeros_like(c)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    x = as_matrix(pdf["v"])
                    # pairwise squared distances via the Gram trick
                    d2 = (
                        (x * x).sum(axis=1)[:, None]
                        - 2 * x @ c.T
                        + (c * c).sum(axis=1)[None, :]
                    )
                    lab = d2.argmin(axis=1)
                    # vectorized scatter-accumulate: the per-cluster
                    # mask loop was O(k·rows) python at k≈√n (448
                    # passes per batch at sf10)
                    counts += np.bincount(lab, minlength=len(c))
                    np.add.at(sums, lab, x)
                rows = [
                    {
                        "cluster": j,
                        "packed": np.concatenate(([float(counts[j])], sums[j])).tolist(),
                    }
                    for j in range(len(c))
                    if counts[j] > 0
                ]
                if rows:
                    yield pd.DataFrame(rows)

            # collect the per-partition partials directly (≤ k rows per
            # partition, k×(d+1) doubles each) and merge on the driver —
            # one single-stage job per iteration instead of an extra
            # explode+shuffle round. At 1000-executor scale the partial
            # set is still only n_partitions×k rows; switch the merge to
            # treeAggregate if k×d×partitions ever outgrows the driver.
            partials = data.mapInPandas(assign, _ASSIGN_SCHEMA).collect()
            new_c = centroids.copy()
            cnts = np.zeros(self.k)
            sums = np.zeros_like(centroids)
            for r in partials:
                packed = np.asarray(r["packed"])
                cnts[r["cluster"]] += packed[0]
                sums[r["cluster"]] += packed[1:]
            for j in range(self.k):
                if cnts[j] > 0:
                    new_c[j] = sums[j] / cnts[j]
            shift = float(np.abs(new_c - centroids).max())
            centroids = new_c
            if shift < self.tol:
                break
        return centroids


class KMeansModel:
    def __init__(self, centroids: np.ndarray, feature_col: str):
        self.centroids = centroids
        self.feature_col = feature_col

    def save(self, spark, path: str) -> None:
        """Persistence layout mirrors PCAModel (metadata.json + data/)."""
        meta = {
            "feature_col": self.feature_col,
            "k": int(self.centroids.shape[0]),
            "dim": int(self.centroids.shape[1]),
        }
        save_model(spark, path, self, meta, {"centroids": self.centroids.ravel().tolist()})

    @classmethod
    def load(cls, spark, path: str) -> "KMeansModel":
        meta, row = load_model(spark, path, cls)
        c = np.array(row["centroids"]).reshape(meta["k"], meta["dim"])
        return cls(c, meta["feature_col"])

    def assign_batch(self, x: np.ndarray) -> np.ndarray:
        """Nearest-centroid labels for a (rows, d) float64 matrix — THE
        assignment arithmetic (Gram-trick distances + numpy argmin
        tiebreak), shared by transform() and callers that fuse the
        assignment into their own batch kernel so one pass emits both
        their codes and the coarse cell (no self-join of two
        projections of the same frame)."""
        c = self.centroids
        d2 = (x * x).sum(axis=1)[:, None] - 2 * x @ c.T + (c * c).sum(axis=1)[None, :]
        return d2.argmin(axis=1).astype(np.int64)

    def transform(self, df: DataFrame, output_col: str = "cluster") -> DataFrame:
        model = self

        @F.pandas_udf(LongType())
        def assign(series: pd.Series) -> pd.Series:
            return pd.Series(model.assign_batch(as_matrix(series)))

        return df.withColumn(output_col, assign(vector_column(df.schema, self.feature_col)))
