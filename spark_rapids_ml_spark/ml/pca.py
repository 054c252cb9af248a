"""Distributed PCA — PySpark-native parity with the reference engine.

The reference (wjxiz1992/spark-rapids-ml) implements exactly one
algorithm: GPU-accelerated PCA as a Spark ML Estimator/Model
(RapidsPCA.scala:30-255) over a distributed covariance
(RapidsRowMatrix.scala:149-257) with a cuSolver/RAFT eigendecomposition
and a deterministic sign-flip kernel (rapidsml_jni.cu:37-64). This
module re-expresses that contract Spark-first:

| reference                                      | here |
|------------------------------------------------|------|
| RDD[Vector] + per-partition densify + JNI GEMM (RapidsRowMatrix.scala:177-199) | mapInPandas: Arrow batch → numpy ``X.T @ X`` partial Gram |
| Statistics.colStats mean + broadcast (RapidsRowMatrix.scala:152-166) | first pass: partial (n, colsum) → driver mean, captured in closure |
| reduce(_+_) of n×n partials (RapidsRowMatrix.scala:201) | posexplode partials → groupBy(idx).sum — Catalyst partial+final agg |
| RAFT eigDC + reverse + sqrt + signFlip (rapidsml_jni.cu:302-356) | numpy.linalg.eigh + [::-1] + max-|x|-positive sign flip |
| scala UDF pcᵀ·v per row (RapidsPCA.scala:187-189) | pandas_udf: batched ``X @ pc`` — the fast path the reference left commented out (RapidsPCA.scala:172-185) |
| params metadata JSON + 1-row parquet (RapidsPCA.scala:218-254) | save(): metadata.json + data/ parquet, symmetric load() |

Scale notes (100 TB): both passes are single linear scans; shuffle
traffic is O(n_cols²) per partition (the Gram partial), independent of
row count — same property as the reference's treeReduce. Driver-side
memory is one n×n matrix, guarded by the reference's documented
n_cols ≤ 65535 bound (RapidsRowMatrix.scala:147,203-205).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

MAX_COLS = 65535  # RapidsRowMatrix.scala:147 — O(n²) driver matrix bound

def _to_vec(v) -> np.ndarray:
    """array<numeric> or ml.linalg Dense/SparseVector → float64 ndarray.
    Sparse inputs densify per batch, exactly as the reference does
    (RapidsRowMatrix.scala:186); dense and sparse rows must produce
    identical results (PCASuite.scala:155-190). Inside Arrow batches a
    VectorUDT arrives as its raw struct dict ({type,size,indices,values})."""
    if hasattr(v, "toArray"):  # driver-side Dense/SparseVector
        return v.toArray().astype(np.float64, copy=False)
    if isinstance(v, dict):  # VectorUDT through Arrow
        if v.get("type") == 1 or v.get("indices") is None:  # dense
            return np.asarray(v["values"], dtype=np.float64)
        out = np.zeros(int(v["size"]))
        out[np.asarray(v["indices"], dtype=np.int64)] = v["values"]
        return out
    return np.asarray(v, dtype=np.float64)


def _as_matrix(series) -> np.ndarray:
    """Stack an Arrow list/vector column into a dense float64 matrix —
    the densify step (RapidsRowMatrix.scala:186) done by Arrow+numpy.
    A VectorUDT column reaches scalar pandas_udfs as a pd.DataFrame of
    its struct fields; normalize that back to per-row dicts first."""
    if isinstance(series, pd.DataFrame):
        series = pd.Series(series.to_dict("records"))
    return np.vstack(series.map(_to_vec).to_numpy())


def _partials(df: DataFrame, input_col: str) -> DataFrame:
    """One flat partial per partition: [n, colsum(n), gram(n²)] packed
    into a single array so the whole reduction is ONE aggregation job."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = None
        g = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _as_matrix(pdf[input_col])
            n += x.shape[0]
            cs = x.sum(axis=0)
            gr = x.T @ x  # the per-batch GEMM (reference: cuBLAS dgemm)
            s = cs if s is None else s + cs
            g = gr if g is None else g + gr
        if n > 0:
            packed = np.concatenate(([float(n)], s, g.ravel()))
            yield pd.DataFrame({"packed": [packed.tolist()]})

    return df.select(input_col).mapInPandas(
        run, StructType([StructField("packed", ArrayType(DoubleType()))])
    )


def _reduce_flat(partials: DataFrame, length: int) -> np.ndarray:
    """Distributed elementwise sum of packed partial vectors via
    posexplode + group-by — Catalyst's partial+final aggregation is
    the treeReduce/treeAggregate (RapidsRowMatrix.scala:201,208), in
    one job. Shuffle volume is O(length) per partition, row-count
    independent."""
    rows = (
        partials.select(F.posexplode("packed").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.sum("val").alias("s"))
        .collect()
    )
    flat = np.zeros(length)
    for row in rows:
        flat[row["idx"]] = row["s"]
    return flat


def _sum_partials(partials: DataFrame, n_cols: int) -> tuple[int, np.ndarray, np.ndarray]:
    flat = _reduce_flat(partials, 1 + n_cols + n_cols * n_cols)
    n = int(round(flat[0]))
    colsum = flat[1 : 1 + n_cols]
    gram = flat[1 + n_cols :].reshape(n_cols, n_cols)
    return n, colsum, gram


def _probe_n_cols(df: DataFrame, input_col: str) -> int:
    """Vector width from the first row (one or two Spark jobs); raises
    on empty input."""
    first = df.select(input_col).first()
    if first is None:
        raise ValueError("empty input")
    return len(first[0])


def compute_column_means(df: DataFrame, input_col: str) -> tuple[np.ndarray, int]:
    """Distributed column mean in one colsum-only linear scan — the
    analogue of Statistics.colStats → mean (RapidsRowMatrix.scala:
    152-166). Unlike compute_covariance this never forms the O(d²)
    Gram, so a mean-only consumer pays O(d) shuffle, not O(d²).

    Returns (mean: d ndarray, n_rows: int).
    """
    return _column_means(df, input_col, _probe_n_cols(df, input_col))


def _column_means(df: DataFrame, input_col: str, n_cols: int) -> tuple[np.ndarray, int]:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _as_matrix(pdf[input_col])
            n += x.shape[0]
            cs = x.sum(axis=0)
            s = cs if s is None else s + cs
        if n > 0:
            yield pd.DataFrame(
                {"packed": [np.concatenate(([float(n)], s)).tolist()]}
            )

    partials = df.select(input_col).mapInPandas(
        run, StructType([StructField("packed", ArrayType(DoubleType()))])
    )
    flat = _reduce_flat(partials, 1 + n_cols)
    n = int(round(flat[0]))
    if n < 1:
        raise ValueError("empty input")
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


def compute_covariance_spr(df: DataFrame, input_col: str, mean_centering: bool = True):
    """A9: the reference's alternate covariance backend — packed
    upper-triangular centered Gram via treeAggregate
    (RapidsRowMatrix.scala:202-252: per-row BLAS.spr into a
    d(d+1)/2 packed buffer, combOp +=, triuToFull unpack, /(n-1)).

    Spark-first re-expression: pass 1 is the colsum mean
    (broadcast into the UDF closure, the meanBC of :206); pass 2
    packs the per-batch centered GEMM ``Xcᵀ·Xc`` into column-major
    upper-triangular order and reduces via posexplode+sum (the
    treeAggregate). Numerics differ from the moments path exactly as
    in the reference: centered Gram here vs raw-moment identity there.

    Scale: shuffle traffic is d(d+1)/2 per partition — HALF the full
    Gram — which is why the reference ships this backend for high d;
    the cost is a second linear scan for the mean.

    Returns (cov: d×d ndarray, mean: d ndarray, n_rows: int).
    """
    return _covariance_spr(df, input_col, mean_centering, _probe_n_cols(df, input_col))


def _covariance_spr(df: DataFrame, input_col: str, mean_centering: bool, n_cols: int):
    mean, n_rows = _column_means(df, input_col, n_cols)
    if n_rows < 2:
        raise ValueError("need at least 2 rows")
    d = len(mean)
    if d > MAX_COLS:  # the n <= 65535 packed-length guard (:204-205)
        raise ValueError(f"n_cols {d} exceeds bound {MAX_COLS}")
    center = mean if mean_centering else np.zeros(d)
    li, lj = np.tril_indices(d)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xc = _as_matrix(pdf[input_col]) - center
            g = (xc.T @ xc)[lj, li]  # pack upper triangle, spr order
            acc = g if acc is None else acc + g
        if acc is not None:
            yield pd.DataFrame({"packed": [acc.tolist()]})

    partials = df.select(input_col).mapInPandas(
        run, StructType([StructField("packed", ArrayType(DoubleType()))])
    )
    packed = _reduce_flat(partials, d * (d + 1) // 2)
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
    return _covariance(df, input_col, mean_centering, _probe_n_cols(df, input_col))


def _covariance(df: DataFrame, input_col: str, mean_centering: bool, n_cols: int):
    if n_cols > MAX_COLS:
        raise ValueError(f"n_cols {n_cols} exceeds bound {MAX_COLS}")

    n_rows, colsum, gram = _sum_partials(_partials(df, input_col), n_cols)
    if n_rows < 2:
        raise ValueError("need at least 2 rows")
    mean = colsum / n_rows
    if mean_centering:
        cov = (gram - n_rows * np.outer(mean, mean)) / (n_rows - 1)
    else:
        cov = gram / (n_rows - 1)
        mean = np.zeros(n_cols)
    return cov, mean, n_rows


class PCA:
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
        from spark_rapids_ml_spark.ml.schema import transform_schema

        return transform_schema(schema, self.input_col, self.output_col)

    def fit(self, df: DataFrame) -> "PCAModel":
        # stage spans mirror the reference's NVTX ranges
        # (RapidsRowMatrix.scala:78,88,153) via setJobDescription
        from spark_rapids_ml_spark.plans.profiling import span

        self.transform_schema(df.schema)  # fail fast, zero jobs
        n_features = _probe_n_cols(df, self.input_col)
        if self.k > n_features:  # RapidsPCA.scala:117-119
            raise ValueError(f"k={self.k} > numFeatures={n_features}")
        cov_fn = _covariance if self.backend == "moments" else _covariance_spr
        with span(df.sparkSession, f"pca.fit.covariance[{self.backend}]"):
            cov, mean, n_rows = cov_fn(df, self.input_col, self.mean_centering, n_features)
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

    # -------- estimator persistence (RapidsPCA.scala:134-140;
    # round-tripped by PCASuite.scala:192-206) --------

    _CLASS = "spark_rapids_ml_spark.ml.pca.PCA"

    def save(self, path: str) -> None:
        from spark_rapids_ml_spark.ml.schema import save_params

        save_params(
            path,
            self._CLASS,
            {
                "k": self.k,
                "input_col": self.input_col,
                "output_col": self.output_col,
                "mean_centering": self.mean_centering,
                "backend": self.backend,
            },
        )

    @classmethod
    def load(cls, path: str) -> "PCA":
        from spark_rapids_ml_spark.ml.schema import load_params

        return cls(**load_params(path, cls._CLASS))


class PCAModel:
    """Fitted model: principal components + explained variance.

    transform() is the batched matmul the reference intended but left
    disabled (RapidsPCA.scala:172-185) — Arrow streams row batches to
    numpy, one ``X @ pc`` per batch, no per-row UDF dispatch.
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
        from spark_rapids_ml_spark.ml.schema import transform_schema

        transform_schema(df.schema, self.input_col, self.output_col)
        pc = self.pc.copy()
        input_col = self.input_col

        @F.pandas_udf(ArrayType(DoubleType()))
        def project(series: pd.Series) -> pd.Series:
            x = _as_matrix(series)
            y = x @ pc  # batched GEMM transform (ref: gemm_b, rapidsml_jni.cu:224-300)
            return pd.Series(list(y))

        # parity with reference/Spark MLlib: projection does NOT
        # re-center (RapidsPCA.scala:187-189 multiplies the raw vector)
        return df.withColumn(self.output_col, project(F.col(input_col)))

    # ---------------- persistence (RapidsPCA.scala:218-254 layout) ----

    def save(self, spark: SparkSession, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        meta = {
            "class": "spark_rapids_ml_spark.ml.pca.PCAModel",
            "k": self.k,
            "input_col": self.input_col,
            "output_col": self.output_col,
            "mean_centering": self.mean_centering,
            "n_features": int(self.pc.shape[0]),
            "n_rows": self.n_rows,
        }
        with open(os.path.join(path, "metadata.json"), "w") as f:
            json.dump(meta, f)
        row = {
            "pc": self.pc.ravel().tolist(),
            "explained_variance": self.explained_variance.tolist(),
            "explained_variance_ratio": self.explained_variance_ratio.tolist(),
            "mean": self.mean.tolist(),
        }
        spark.createDataFrame([row]).repartition(1).write.mode("overwrite").parquet(
            os.path.join(path, "data")
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PCAModel":
        with open(os.path.join(path, "metadata.json")) as f:
            meta = json.load(f)
        row = spark.read.parquet(os.path.join(path, "data")).head()
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
