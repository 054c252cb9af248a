"""pyspark.ml-compatible facades over the core estimators.

The reference exposes its estimator through Spark ML's Pipeline API —
``com.nvidia.spark.ml.feature.PCA`` is a thin public subclass
(PCA.scala:27-37) of the real estimator (RapidsPCA.scala), with the
standard Params surface (inputCol/outputCol/k, RapidsPCA.scala:30-75).
This module provides the same shape for PySpark: ``SparkPCA`` (plus
``SparkStandardScaler`` and ``SparkKMeans``, so a full preprocessing →
decomposition → clustering chain composes) are ``pyspark.ml.Estimator``
subclasses with proper ``Param``s that delegate to the core
implementations, composing inside ``pyspark.ml.Pipeline`` next to
stock stages.

Persistence is the full ``pyspark.ml`` contract (PCASuite.scala:192-206
round-trips the estimator and model through MLWriter/MLReader):
estimators are DefaultParams{Writable,Readable}; models write
DefaultParams metadata (uid + params, so ``Pipeline``/``PipelineModel``
save/load dispatches to them by class tag) plus the core model's own
parquet payload under ``<path>/core``.
"""

from __future__ import annotations

import os

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasInputCol, HasOutputCol
from pyspark.ml.util import (
    DefaultParamsReadable,
    DefaultParamsReader,
    DefaultParamsWritable,
    DefaultParamsWriter,
    MLReadable,
    MLReader,
    MLWritable,
    MLWriter,
)

from spark_rapids_ml_spark.ml.kmeans import KMeans as CoreKMeans
from spark_rapids_ml_spark.ml.kmeans import KMeansModel as CoreKMeansModel
from spark_rapids_ml_spark.ml.pca import PCA as CorePCA
from spark_rapids_ml_spark.ml.pca import PCAModel as CorePCAModel
from spark_rapids_ml_spark.ml.scaler import StandardScaler as CoreStandardScaler
from spark_rapids_ml_spark.ml.scaler import StandardScalerModel as CoreStandardScalerModel


class _CoreModelWriter(MLWriter):
    """DefaultParams metadata + the wrapped core model's parquet
    payload under ``<path>/core`` — the standard custom-model writer
    shape, so PipelineModel.save round-trips these stages."""

    def __init__(self, instance: "Model"):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        DefaultParamsWriter.saveMetadata(self.instance, path, self.sc)
        self.instance._core.save(self.sparkSession, os.path.join(path, "core"))


class _CoreModelReader(MLReader):
    def __init__(self, cls_):
        super().__init__()
        self._cls = cls_

    def load(self, path: str):
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        core = self._cls._core_cls.load(self.sparkSession, os.path.join(path, "core"))
        model = self._cls(core)
        model._resetUid(metadata["uid"])
        DefaultParamsReader.getAndSetParams(model, metadata)
        return model


class _CoreModel(Model, MLWritable, MLReadable):
    """A fitted facade over one core model (``_core_cls``): transform
    delegates to it, and persistence is the writer/reader pair above."""

    _core_cls: type

    def __init__(self, core=None):
        super().__init__()
        self._core = core

    def _transform(self, dataset):
        return self._core.transform(dataset)

    def write(self) -> MLWriter:
        return _CoreModelWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _CoreModelReader(cls)


class _PCAParams(HasInputCol, HasOutputCol):
    """Param surface mirroring RapidsPCA.scala:30-75 (k, inputCol,
    outputCol, meanCentering; the GPU-routing params collapse into the
    numpy backend — see ml/pca.py)."""

    k = Param(
        Params._dummy(),
        "k",
        "number of principal components",
        typeConverter=TypeConverters.toInt,
    )
    meanCentering = Param(
        Params._dummy(),
        "meanCentering",
        "whether to center the data before computing the covariance",
        typeConverter=TypeConverters.toBoolean,
    )

    def getK(self) -> int:
        return self.getOrDefault(self.k)

    def getMeanCentering(self) -> bool:
        return self.getOrDefault(self.meanCentering)


class SparkPCA(Estimator, _PCAParams, DefaultParamsWritable, DefaultParamsReadable):
    """Pipeline-composable PCA estimator (public API parity with
    com.nvidia.spark.ml.feature.PCA, PCA.scala:27-37)."""

    @keyword_only
    def __init__(self, *, k=2, inputCol="features", outputCol="pca_features", meanCentering=True):
        super().__init__()
        self._setDefault(k=2, meanCentering=True)
        self._set(
            k=k, inputCol=inputCol, outputCol=outputCol, meanCentering=meanCentering
        )

    @keyword_only
    def setParams(self, *, k=None, inputCol=None, outputCol=None, meanCentering=None):
        kwargs = {k_: v for k_, v in self._input_kwargs.items() if v is not None}
        return self._set(**kwargs)

    def setK(self, value: int) -> "SparkPCA":
        return self._set(k=value)

    def setInputCol(self, value: str) -> "SparkPCA":
        return self._set(inputCol=value)

    def setOutputCol(self, value: str) -> "SparkPCA":
        return self._set(outputCol=value)

    def _fit(self, dataset) -> "SparkPCAModel":
        core = CorePCA(
            k=self.getK(),
            input_col=self.getInputCol(),
            output_col=self.getOutputCol(),
            mean_centering=self.getMeanCentering(),
        ).fit(dataset)
        model = SparkPCAModel(core)
        model._resetUid(self.uid)
        return self._copyValues(model)


class SparkPCAModel(_CoreModel, _PCAParams):
    """Fitted Pipeline-composable model wrapping the core PCAModel."""

    _core_cls = CorePCAModel

    @property
    def pc(self):
        return self._core.pc

    @property
    def explainedVariance(self):
        return self._core.explained_variance_ratio

    def save_model(self, spark, path: str) -> None:
        self._core.save(spark, path)

    @classmethod
    def load_model(cls, spark, path: str) -> "SparkPCAModel":
        return cls(CorePCAModel.load(spark, path))


# ---------------------------------------------------------------- scaler


class _ScalerParams(HasInputCol, HasOutputCol):
    pass


class SparkStandardScaler(
    Estimator, _ScalerParams, DefaultParamsWritable, DefaultParamsReadable
):
    """Pipeline-composable z-score scaler delegating to
    ml/scaler.StandardScaler (one mapInArrow stats job)."""

    @keyword_only
    def __init__(self, *, inputCol="features", outputCol="scaled"):
        super().__init__()
        self._setDefault(inputCol="features", outputCol="scaled")
        self._set(inputCol=inputCol, outputCol=outputCol)

    def setInputCol(self, value: str) -> "SparkStandardScaler":
        return self._set(inputCol=value)

    def setOutputCol(self, value: str) -> "SparkStandardScaler":
        return self._set(outputCol=value)

    def _fit(self, dataset) -> "SparkStandardScalerModel":
        core = CoreStandardScaler(
            input_col=self.getInputCol(), output_col=self.getOutputCol()
        ).fit(dataset)
        model = SparkStandardScalerModel(core)
        model._resetUid(self.uid)
        return self._copyValues(model)


class SparkStandardScalerModel(_CoreModel, _ScalerParams):
    _core_cls = CoreStandardScalerModel

    @property
    def mean(self):
        return self._core.mean

    @property
    def std(self):
        return self._core.std


# ---------------------------------------------------------------- k-means


class _KMeansParams(HasInputCol, HasOutputCol):
    k = Param(
        Params._dummy(),
        "k",
        "number of clusters",
        typeConverter=TypeConverters.toInt,
    )
    idCol = Param(
        Params._dummy(),
        "idCol",
        "unique id column seeding the deterministic init (the k "
        "smallest ids — no RNG, see ml/kmeans.py)",
        typeConverter=TypeConverters.toString,
    )
    maxIter = Param(
        Params._dummy(),
        "maxIter",
        "maximum Lloyd iterations",
        typeConverter=TypeConverters.toInt,
    )
    tol = Param(
        Params._dummy(),
        "tol",
        "centroid-shift convergence tolerance (0.0 = fixed iterations)",
        typeConverter=TypeConverters.toFloat,
    )

    def getK(self) -> int:
        return self.getOrDefault(self.k)

    def getIdCol(self) -> str:
        return self.getOrDefault(self.idCol)

    def getMaxIter(self) -> int:
        return self.getOrDefault(self.maxIter)

    def getTol(self) -> float:
        return self.getOrDefault(self.tol)


class SparkKMeans(Estimator, _KMeansParams, DefaultParamsWritable, DefaultParamsReadable):
    """Pipeline-composable k-means delegating to ml/kmeans.KMeans
    (per-iteration linear scans, k×d driver state)."""

    @keyword_only
    def __init__(
        self,
        *,
        k=2,
        inputCol="features",
        outputCol="cluster",
        idCol="id",
        maxIter=10,
        tol=1e-6,
    ):
        super().__init__()
        self._setDefault(
            k=2, inputCol="features", outputCol="cluster", idCol="id", maxIter=10, tol=1e-6
        )
        self._set(
            k=k, inputCol=inputCol, outputCol=outputCol, idCol=idCol, maxIter=maxIter, tol=tol
        )

    def setK(self, value: int) -> "SparkKMeans":
        return self._set(k=value)

    def setInputCol(self, value: str) -> "SparkKMeans":
        return self._set(inputCol=value)

    def setOutputCol(self, value: str) -> "SparkKMeans":
        return self._set(outputCol=value)

    def _fit(self, dataset) -> "SparkKMeansModel":
        core = CoreKMeans(
            k=self.getK(),
            feature_col=self.getInputCol(),
            id_col=self.getIdCol(),
            max_iter=self.getMaxIter(),
            tol=self.getTol(),
        ).fit(dataset)
        model = SparkKMeansModel(core)
        model._resetUid(self.uid)
        return self._copyValues(model)


class SparkKMeansModel(_CoreModel, _KMeansParams):
    _core_cls = CoreKMeansModel

    @property
    def clusterCenters(self):
        return self._core.centroids

    def _transform(self, dataset):
        return self._core.transform(dataset, self.getOutputCol())
