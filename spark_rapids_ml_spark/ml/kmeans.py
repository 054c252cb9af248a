"""Distributed Lloyd's k-means over an array<numeric> or Vector column.

Per iteration: broadcast the k×d centroid matrix into an Arrow
mapInArrow stage; each batch assigns its rows to the nearest centroid
(vectorized numpy distance matrix) and each partition emits one packed
per-cluster (counts, sums) partial; the driver sums the partials in
partition order and updates centroids. Deterministic: init = the k
rows with the smallest id column (no RNG), ties impossible on a unique
id.

Scale: each iteration is ONE linear scan, one Spark job; each
partition sends k×(d+1) doubles to the driver. State on the driver is
k×d. This is exactly the plan a 1000-executor k-means runs;
k-means|| init would replace the seed rule at real scale (kept
id-deterministic here for oracle-ability).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType

from spark_rapids_ml_spark.ml.schema import (
    ParamsPersistence,
    decode,
    load_model,
    reduce_partials,
    save_model,
    vector_column,
    with_batch_column,
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
        # seed rows come from the same cached pass. Freed in the
        # finally, so no storage outlives the fit.
        data = df.select(self.id_col, vec.cast("array<double>").alias(feat)).persist()
        try:
            # deterministic init: rows with the k smallest ids. The cast
            # to double is exact (float32 widens losslessly), so seeds
            # are bit-identical to reading the raw feature column.
            seeds = [r[feat] for r in data.orderBy(self.id_col).limit(self.k).collect()]
            centroids = decode(pa.array(seeds, pa.list_(pa.float64())), feat)
            if not len(centroids):
                raise ValueError("empty input")
            centroids = self._lloyd(data.select(feat), centroids)
        finally:
            data.unpersist()
        return KMeansModel(centroids, feat)

    def _lloyd(self, data: DataFrame, centroids: np.ndarray) -> np.ndarray:
        """max_iter Lloyd iterations over the cached projection; returns
        the final centroid matrix."""
        k, d = centroids.shape
        for _ in range(self.max_iter):
            c = centroids.copy()

            def assign(batches: Iterator[np.ndarray]) -> np.ndarray | None:
                """A partition's packed [counts(k), sums(k×d)]."""
                counts = np.zeros(k, dtype=np.int64)
                sums = np.zeros_like(c)
                for x in batches:
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
                    counts += np.bincount(lab, minlength=k)
                    np.add.at(sums, lab, x)
                return np.concatenate((counts, sums.ravel())) if counts.any() else None

            # one k×(d+1) partial per partition, summed on the driver in
            # partition order. At 1000-executor scale the partial set is
            # still only n_partitions×k×(d+1) doubles; switch the merge
            # to treeAggregate if that ever outgrows the driver.
            flat = reduce_partials(data, self.feature_col, assign, width=d)
            cnts, sums = flat[:k], flat[k:].reshape(k, d)
            new_c = centroids.copy()
            for j in range(k):
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
        return with_batch_column(
            df, self.feature_col, output_col, self.centroids.shape[1], self.assign_batch, LongType()
        )
