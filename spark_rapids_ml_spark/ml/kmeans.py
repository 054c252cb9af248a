"""Distributed Lloyd's k-means over an array<numeric> or Vector column,
in ONE Spark job per fit.

The fit is one ``schema.collective`` pass: a barrier-mode
``mapInArrow`` stage whose tasks each decode their partition once, keep
it for the whole fit, and exchange partials through a relay the driver
hosts for the fit:

1. Seeds. Every task sends its k smallest-id rows; every task then
   takes the k smallest ids of all of them (nulls first, as
   ``orderBy`` puts them; equal ids by partition, then row order).
   Deterministic: no RNG, ties impossible on a unique id.
2. Up to ``max_iter`` Lloyd rounds. Each task assigns its rows to the
   nearest centroid (``_nearest``, the arithmetic
   ``KMeansModel.assign_batch`` uses too) and sends one packed
   per-cluster (counts, sums) partial. Every task folds the partials
   in partition order, the fold ``reduce_partials`` does on the
   driver, so every task holds the same centroids bit for bit and
   stops on the same round (shift < ``tol``).

Partition 0 hands the k×d centroids to the driver, the fit's one
driver hop. Before this, a fit ran 1 + ``max_iter`` jobs (a seed
``orderBy.limit.collect`` over a persisted projection, then one
``reduce_partials`` job per iteration); with a job's fixed cost near
0.1 s and the data work a few ms per 10k rows, the jobs were the fit.
Spark's own ``BarrierTaskContext.allGather`` would keep the one job,
but it polls once a second, so each round would cost a second; the
relay answers a round as soon as its last task joins.

Scale: each round moves k×(d+1) doubles per partition through the
relay; each task holds its partition for the fit (the role the
persisted projection had); the stage runs at most
``defaultParallelism`` tasks, so a wider input is repartitioned first
(``collective``). k-means|| init would replace the seed rule at real
scale (kept id-deterministic here for oracle-ability).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType

from spark_rapids_ml_spark.ml.schema import (
    Comm,
    ParamsPersistence,
    collective,
    decode,
    load_model,
    ragged_width,
    save_model,
    with_batch_column,
)


def _nearest(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Nearest-centroid labels of a (rows, d) float64 matrix: pairwise
    squared distances via the Gram trick, numpy argmin tiebreak."""
    d2 = (x * x).sum(axis=1)[:, None] - 2 * x @ c.T + (c * c).sum(axis=1)[None, :]
    return d2.argmin(axis=1)


def _assign(xs: list[np.ndarray], c: np.ndarray) -> np.ndarray | None:
    """A partition's packed [counts(k), sums(k×d)] (None: no rows)."""
    k = len(c)
    counts = np.zeros(k, dtype=np.int64)
    sums = np.zeros_like(c)
    for x in xs:
        lab = _nearest(x, c)
        # vectorized scatter-accumulate: the per-cluster mask loop was
        # O(k·rows) python at k≈√n (448 passes per batch at sf10)
        counts += np.bincount(lab, minlength=k)
        np.add.at(sums, lab, x)
    return np.concatenate((counts, sums.ravel())) if counts.any() else None


def _seeds(xs: list[np.ndarray], keys: list[pa.Array], k: int, comm: Comm, name: str):
    """The k rows with the smallest ids over every partition (fewer when
    the input has fewer rows; None when it has none)."""
    mine = None
    if xs:
        ids = pa.concat_arrays(keys)
        pick = pc.sort_indices(ids, null_placement="at_start")[:k].to_numpy().astype(np.int64)
        starts = np.cumsum([0] + [len(x) for x in xs])
        batch = np.searchsorted(starts, pick, side="right") - 1
        rows = np.stack([xs[b][i] for b, i in zip(batch, pick - starts[batch])])
        mine = (ids.take(pick), rows)
    candidates = [c for c in comm.allgather(mine) if c is not None]
    if not candidates:
        return None
    rows = [r for _, part in candidates for r in part]
    ids = pa.concat_arrays([i for i, _ in candidates])
    pick = pc.sort_indices(ids, null_placement="at_start")[:k].to_numpy()
    # decode checks the seed rows' widths agree, as for any batch
    return decode(pa.array([rows[i] for i in pick], pa.list_(pa.float64())), name)


def _fit_task(xs, keys, comm: Comm, k: int, max_iter: int, tol: float, name: str):
    """One task's side of the fit: the seeds, then the Lloyd rounds."""
    centroids = _seeds(xs, keys, k, comm, name)
    if centroids is None:
        return None
    k, d = centroids.shape
    if xs and xs[0].shape[1] != d:
        raise ragged_width(name, xs[0].shape[1], xs[0].shape[1], d)
    for _ in range(max_iter):
        flat = comm.allreduce(_assign(xs, centroids))
        cnts, sums = flat[:k], flat[k:].reshape(k, d)
        new_c = centroids.copy()
        for j in range(k):
            if cnts[j] > 0:
                new_c[j] = sums[j] / cnts[j]
        shift = float(np.abs(new_c - centroids).max())
        centroids = new_c
        if shift < tol:
            break
    return centroids


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
        k, max_iter, tol, feat = self.k, self.max_iter, self.tol, self.feature_col

        def body(xs, keys, comm):
            return _fit_task(xs, keys, comm, k, max_iter, tol, feat)

        return KMeansModel(collective(df, feat, body, key_col=self.id_col), feat)


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
        """Nearest-centroid labels for a (rows, d) float64 matrix — the
        fit's own assignment arithmetic (``_nearest``), shared by
        transform() and callers that fuse the assignment into their own
        batch kernel so one pass emits both their codes and the coarse
        cell (no self-join of two projections of the same frame)."""
        return _nearest(x, self.centroids).astype(np.int64)

    def transform(self, df: DataFrame, output_col: str = "cluster") -> DataFrame:
        return with_batch_column(
            df, self.feature_col, output_col, self.centroids.shape[1], self.assign_batch, LongType()
        )
