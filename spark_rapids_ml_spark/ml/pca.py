"""Distributed PCA — PySpark-native parity with the reference engine.

The reference (wjxiz1992/spark-rapids-ml) implements exactly one
algorithm: GPU-accelerated PCA as a Spark ML Estimator/Model
(RapidsPCA.scala:30-255) over a distributed covariance
(RapidsRowMatrix.scala:149-257) with a cuSolver/RAFT eigendecomposition
and a deterministic sign-flip kernel (rapidsml_jni.cu:37-64). This
module re-expresses that contract Spark-first:

| reference                                      | here |
|------------------------------------------------|------|
| RDD[Vector] + per-partition densify + JNI GEMM (RapidsRowMatrix.scala:177-199) | mapInArrow: Arrow batch → ``schema.decode`` (flat values + reshape) → numpy ``X.T @ X`` partial Gram |
| dense or sparse Vector input, identical results (RapidsRowMatrix.scala:186, PCASuite.scala:155-190) | ``schema.vector_column``: a VectorUDT column becomes ``array<double>`` via ``vector_to_array`` before the Arrow stage; ``array<numeric>`` is read as is |
| Statistics.colStats mean + broadcast (RapidsRowMatrix.scala:152-166) | spr backend's first round: every task folds the (n, colsum) partials into the same mean, inside the one job |
| reduce(_+_) of n×n partials (RapidsRowMatrix.scala:201) | ``schema.reduce_partials``: one packed partial per partition, collected in ONE job and summed on the driver in partition order; the vector width is read off the partial's length (no probe job) |
| RAFT eigDC + reverse + sqrt + signFlip (rapidsml_jni.cu:302-356) | numpy.linalg.eigh + [::-1] + max-|x|-positive sign flip |
| scala UDF pcᵀ·v per row (RapidsPCA.scala:187-189) | scalar Arrow UDF: batched ``X @ pc``, encoded straight to an Arrow list column — the fast path the reference left commented out (RapidsPCA.scala:172-185) |
| params metadata JSON + 1-row parquet (RapidsPCA.scala:218-254) | save(): metadata.json + data/ parquet, symmetric load() |

Scale notes (100 TB): each backend is one job with no shuffle (the spr
backend's two rounds run over the partition each task decoded once);
the driver receives O(n_cols²) per partition (the Gram partial),
independent of row count. At thousands of partitions that
partial set is what a treeReduce (RapidsRowMatrix.scala:201) would
bound. Driver-side memory is one n×n matrix, guarded by the
reference's documented n_cols ≤ 65535 bound (RapidsRowMatrix.scala:
147,203-205), checked in the kernel before the first GEMM.
"""

from __future__ import annotations

from collections.abc import Iterator
from math import isqrt

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DoubleType

from spark_rapids_ml_spark.ml.schema import (
    ParamsPersistence,
    collective,
    fold,
    load_model,
    partials,
    reduce_partials,
    save_model,
    transform_schema,
    with_batch_column,
)

MAX_COLS = 65535  # RapidsRowMatrix.scala:147 — O(n²) driver matrix bound


def _moments_kernel(batches: Iterator[np.ndarray]) -> np.ndarray | None:
    """A partition's raw moments packed as [n, colsum(d), gram(d²)]."""

    def moments(x: np.ndarray) -> np.ndarray:
        if x.shape[1] > MAX_COLS:
            raise ValueError(f"n_cols {x.shape[1]} exceeds bound {MAX_COLS}")
        # the per-batch GEMM (reference: cuBLAS dgemm)
        return np.concatenate(([x.shape[0]], x.sum(axis=0), (x.T @ x).ravel()))

    return fold(np.add, map(moments, batches))


def _colsum_kernel(batches: Iterator[np.ndarray]) -> np.ndarray | None:
    """A partition's [n, colsum(d)]."""
    return fold(np.add, (np.concatenate(([x.shape[0]], x.sum(axis=0))) for x in batches))


def _partials(df: DataFrame, input_col: str) -> DataFrame:
    """One flat moments partial per partition, ``packed array<double>``
    — the unreduced form a Spark-side state merge folds."""
    return partials(df, input_col, _moments_kernel)


def _unpack_moments(flat: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, colsum, gram) of a summed [n, colsum(d), gram(d²)] vector;
    d is read off its length 1 + d + d²."""
    d = (isqrt(4 * len(flat) - 3) - 1) // 2
    return int(round(flat[0])), flat[1 : 1 + d], flat[1 + d :].reshape(d, d)


def _moments(df: DataFrame, input_col: str) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, colsum, gram) of ``input_col`` in one Spark job."""
    return _unpack_moments(reduce_partials(df, input_col, _moments_kernel))


def compute_column_means(df: DataFrame, input_col: str) -> tuple[np.ndarray, int]:
    """Distributed column mean in one colsum-only linear scan — the
    analogue of Statistics.colStats → mean (RapidsRowMatrix.scala:
    152-166). Unlike compute_covariance this never forms the O(d²)
    Gram, so a mean-only consumer moves O(d) per partition, not O(d²).

    Returns (mean: d ndarray, n_rows: int).
    """
    flat = reduce_partials(df, input_col, _colsum_kernel)
    n = int(round(flat[0]))
    return flat[1:] / n, n


def triu_to_full(n: int, packed: np.ndarray) -> np.ndarray:
    """Unpack a column-major upper-triangular vector (the BLAS spr
    layout) into a full symmetric matrix — parity with
    RapidsRowMatrix.triuToFull (RapidsRowMatrix.scala:265-287)."""
    li, lj = np.tril_indices(n)  # (lj, li) scans (0,0),(0,1),(1,1),… = spr order
    full = np.empty((n, n))
    full[lj, li] = packed
    full[li, lj] = packed
    return full


def _spr_task(xs: list[np.ndarray], comm, mean_centering: bool) -> np.ndarray | None:
    """One task of the spr backend: the colsum round (the mean), then
    the packed centered Gram round; returns [n, mean(d), packed]."""
    flat = comm.allreduce(_colsum_kernel(iter(xs)))
    if flat is None:
        return None
    n_rows = int(round(flat[0]))
    if n_rows < 2:
        raise ValueError("need at least 2 rows")
    mean = flat[1:] / n_rows
    d = len(mean)
    if d > MAX_COLS:  # the n <= 65535 packed-length guard (:204-205)
        raise ValueError(f"n_cols {d} exceeds bound {MAX_COLS}")
    center = mean if mean_centering else np.zeros(d)
    li, lj = np.tril_indices(d)

    def centered_gram(x: np.ndarray) -> np.ndarray:
        xc = x - center
        return (xc.T @ xc)[lj, li]  # pack upper triangle, spr order

    packed = comm.allreduce(fold(np.add, map(centered_gram, xs)))
    return np.concatenate(([n_rows], mean, packed))[None, :]


def compute_covariance_spr(df: DataFrame, input_col: str, mean_centering: bool = True):
    """A9: the reference's alternate covariance backend — packed
    upper-triangular centered Gram via treeAggregate
    (RapidsRowMatrix.scala:202-252: per-row BLAS.spr into a
    d(d+1)/2 packed buffer, combOp +=, triuToFull unpack, /(n-1)).

    Spark-first re-expression, in ONE job (``schema.collective``):
    round 1 is the colsum mean (every task folds the same partials, so
    each holds the meanBC of :206); round 2 packs the per-batch
    centered GEMM ``Xcᵀ·Xc`` into column-major upper-triangular order
    and folds the per-partition partials in partition order (the
    treeAggregate). Numerics differ from the moments path exactly as
    in the reference: centered Gram here vs raw-moment identity there.

    Scale: each partition's partial is d(d+1)/2 doubles — HALF the full
    Gram — which is why the reference ships this backend for high d;
    the cost is a second pass over the partition each task holds.

    Returns (cov: d×d ndarray, mean: d ndarray, n_rows: int).
    """
    flat = collective(
        df, input_col, lambda xs, _keys, comm: _spr_task(xs, comm, mean_centering)
    )[0]
    n_rows = int(round(flat[0]))
    d = (isqrt(8 * (len(flat) - 1) + 9) - 3) // 2  # len = 1 + d + d(d+1)/2
    mean, packed = flat[1 : 1 + d], flat[1 + d :]
    cov = triu_to_full(d, packed) / (n_rows - 1)
    if not mean_centering:
        mean = np.zeros(d)
    return cov, mean, n_rows


def sign_flip(pc: np.ndarray) -> np.ndarray:
    """Deterministic eigenvector sign convention (rapidsml_jni.cu:37-64):
    each column's maximum-|x| element is made positive. Fixes the
    sign-indeterminacy the reference's own tests had to abs() around
    (PCASuite.scala:136-147) — here the output is exactly reproducible."""
    flipped = pc.copy()
    for j in range(pc.shape[1]):
        i = int(np.argmax(np.abs(pc[:, j])))
        if pc[i, j] < 0:
            flipped[:, j] = -pc[:, j]
    return flipped


def compute_covariance(df: DataFrame, input_col: str, mean_centering: bool = True):
    """Distributed sample covariance (ddof=1) in a SINGLE scan.

    The reference runs two jobs (colStats mean, then centered Gram,
    RapidsRowMatrix.scala:152-201); here the raw moments (n, Σx, ΣxxᵀT)
    are gathered in one pass and centered algebraically on the driver:
    Σ(x−μ)(x−μ)ᵀ = Σxxᵀ − n·μμᵀ (exact identity; float64 is ample for
    data whose mean/σ ratio is sane — at 100 TB one fewer full scan
    halves the fit cost).

    Returns (cov: n×n ndarray, mean: n ndarray, n_rows: int).
    """
    n_rows, colsum, gram = _moments(df, input_col)
    if n_rows < 2:
        raise ValueError("need at least 2 rows")
    mean = colsum / n_rows
    if mean_centering:
        cov = (gram - n_rows * np.outer(mean, mean)) / (n_rows - 1)
    else:
        cov = gram / (n_rows - 1)
        mean = np.zeros(len(colsum))
    return cov, mean, n_rows


class PCA(ParamsPersistence):
    """Estimator: fit(df) → PCAModel.

    Params mirror the reference's param surface (RapidsPCA.scala:30-106):
    inputCol, outputCol, k, meanCentering. The GPU-routing params
    (useCuSolverSVD/gpuId) collapse into the single numpy backend;
    ``backend`` mirrors useGemm (RapidsRowMatrix.scala:170):
    "moments" is the single-scan GEMM path, "spr" the two-pass packed
    upper-triangular treeAggregate path (:202-252) — output-equivalent,
    different numerics and shuffle profile, exactly as in the reference.
    """

    BACKENDS = ("moments", "spr")
    # estimator persistence (RapidsPCA.scala:134-140; round-tripped by
    # PCASuite.scala:192-206)
    _PARAMS = ("k", "input_col", "output_col", "mean_centering", "backend")

    def __init__(
        self,
        k: int,
        input_col: str = "features",
        output_col: str = "pca_features",
        mean_centering: bool = True,
        backend: str = "moments",
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        if backend not in self.BACKENDS:
            raise ValueError(f"backend must be one of {self.BACKENDS}")
        self.k = k
        self.input_col = input_col
        self.output_col = output_col
        self.mean_centering = mean_centering
        self.backend = backend

    def transform_schema(self, schema) -> "StructType":
        """Driver-side schema check before any job launches —
        validateAndTransformSchema parity (RapidsPCA.scala:127-129)."""
        return transform_schema(schema, self.input_col, self.output_col)

    def fit(self, df: DataFrame) -> "PCAModel":
        # stage spans mirror the reference's NVTX ranges
        # (RapidsRowMatrix.scala:78,88,153) as job descriptions
        from spark_rapids_ml_spark.plans.profiling import span

        self.transform_schema(df.schema)  # fail fast, zero jobs
        cov_fn = compute_covariance if self.backend == "moments" else compute_covariance_spr
        with span(df.sparkSession, f"pca.fit.covariance[{self.backend}]"):
            cov, mean, n_rows = cov_fn(df, self.input_col, self.mean_centering)
        if self.k > len(mean):  # RapidsPCA.scala:117-119
            raise ValueError(f"k={self.k} > numFeatures={len(mean)}")
        # symmetric eigendecomposition — eigh is the numpy analogue of
        # the reference's raft eigDC on the PSD covariance
        eigvals, eigvecs = np.linalg.eigh(cov)
        order = np.argsort(eigvals)[::-1]  # descending (rapidsml_jni.cu:339-341)
        eigvals = np.clip(eigvals[order], 0.0, None)
        eigvecs = sign_flip(eigvecs[:, order])
        total_var = float(eigvals.sum()) or 1.0
        return PCAModel(
            pc=eigvecs[:, : self.k].copy(),
            explained_variance=eigvals[: self.k].copy(),
            explained_variance_ratio=(eigvals[: self.k] / total_var).copy(),
            mean=mean,
            input_col=self.input_col,
            output_col=self.output_col,
            k=self.k,
            mean_centering=self.mean_centering,
            n_rows=n_rows,
        )


class PCAModel:
    """Fitted model: principal components + explained variance.

    transform() is the batched matmul the reference intended but left
    disabled (RapidsPCA.scala:172-185) — Arrow streams row batches to
    numpy, one ``X @ pc`` per batch, no per-row UDF dispatch, and the
    result goes back as an Arrow list column.
    """

    def __init__(
        self,
        pc: np.ndarray,
        explained_variance: np.ndarray,
        explained_variance_ratio: np.ndarray,
        mean: np.ndarray,
        input_col: str,
        output_col: str,
        k: int,
        mean_centering: bool,
        n_rows: int | None = None,
    ):
        self.pc = pc
        self.explained_variance = explained_variance
        self.explained_variance_ratio = explained_variance_ratio
        self.mean = mean
        self.input_col = input_col
        self.output_col = output_col
        self.k = k
        self.mean_centering = mean_centering
        self.n_rows = n_rows

    def transform(self, df: DataFrame) -> DataFrame:
        transform_schema(df.schema, self.input_col, self.output_col)
        pc = self.pc.copy()
        # batched GEMM transform (ref: gemm_b, rapidsml_jni.cu:224-300).
        # Parity with reference/Spark MLlib: projection does NOT
        # re-center (RapidsPCA.scala:187-189 multiplies the raw vector)
        return with_batch_column(
            df, self.input_col, self.output_col, pc.shape[0], lambda x: x @ pc,
            ArrayType(DoubleType()),
        )

    # ---------------- persistence (RapidsPCA.scala:218-254 layout) ----

    def save(self, spark: SparkSession, path: str) -> None:
        meta = {
            "k": self.k,
            "input_col": self.input_col,
            "output_col": self.output_col,
            "mean_centering": self.mean_centering,
            "n_features": int(self.pc.shape[0]),
            "n_rows": self.n_rows,
        }
        data = {
            "pc": self.pc.ravel().tolist(),
            "explained_variance": self.explained_variance.tolist(),
            "explained_variance_ratio": self.explained_variance_ratio.tolist(),
            "mean": self.mean.tolist(),
        }
        save_model(spark, path, self, meta, data)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PCAModel":
        meta, row = load_model(spark, path, cls)
        n, k = meta["n_features"], meta["k"]
        return cls(
            pc=np.array(row["pc"]).reshape(n, k),
            explained_variance=np.array(row["explained_variance"]),
            explained_variance_ratio=np.array(row["explained_variance_ratio"]),
            mean=np.array(row["mean"]),
            input_col=meta["input_col"],
            output_col=meta["output_col"],
            k=k,
            mean_centering=meta["mean_centering"],
            n_rows=meta.get("n_rows"),
        )
