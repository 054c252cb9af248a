"""Input adapter, batch decoder, schema validation and persistence —
the one place each of these lives for the five estimators in ``ml/``.

Parity targets in the reference:
- ``validateAndTransformSchema`` (RapidsPCA.scala:127-129 via Spark's
  PCAParams → SchemaUtils.checkColumnType(VectorUDT)): reject a
  wrongly-typed input column BEFORE any job launches — the reference
  fails fast on schema; without this check we'd fail inside the first
  Arrow batch with an opaque worker traceback.
- Dense and sparse ``Vector`` input give identical results
  (PCASuite.scala:155-190). ``vector_column`` is the single input
  adapter: a VectorUDT column (dense or sparse) becomes
  ``array<double>`` through ``vector_to_array`` before any Python stage
  sees it, and an ``array<numeric>`` column passes through untouched
  (same plan). ``as_matrix`` is the single batch decoder every
  ``mapInPandas``/``pandas_udf`` uses on such a column.
- ``DefaultParamsWriter/Readable`` (RapidsPCA.scala:134-140,
  RapidsPCAModel reader/writer :207-255; round-tripped by
  PCASuite.scala:192-206): estimators persist their *params* as JSON
  metadata (``ParamsPersistence``); models persist metadata plus a
  one-row ``data/`` parquet (``save_model``/``load_model``). Every
  load checks the class tag (``module.qualname`` of the saved class).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

_NUMERIC = (DoubleType, FloatType, LongType, IntegerType, ShortType, ByteType)


def _is_vector_udt(dt) -> bool:
    # ml.linalg VectorUDT without importing the UDT class directly
    return type(dt).__name__ == "VectorUDT"


def _is_vector_like(dt) -> bool:
    if isinstance(dt, ArrayType) and isinstance(dt.elementType, _NUMERIC):
        return True
    return _is_vector_udt(dt)


def validate_vector_col(schema: StructType, input_col: str) -> None:
    """Fail fast (driver-side, zero jobs) unless ``input_col`` exists
    and is array<numeric> or an ml VectorUDT."""
    if input_col not in schema.names:
        raise ValueError(
            f"input column '{input_col}' not found; columns: {schema.names}"
        )
    dt = schema[input_col].dataType
    if not _is_vector_like(dt):
        raise ValueError(
            f"input column '{input_col}' must be array<numeric> or Vector, "
            f"got {dt.simpleString()}"
        )


def vector_column(schema: StructType, name: str) -> Column:
    """Validated input column, as the Python stages read it: a VectorUDT
    column (dense or sparse rows) densifies to ``array<double>`` under
    its own name — the reference's per-partition densify
    (RapidsRowMatrix.scala:186) done by Spark; any other accepted column
    is ``F.col(name)`` unchanged."""
    validate_vector_col(schema, name)
    if _is_vector_udt(schema[name].dataType):
        from pyspark.ml.functions import vector_to_array

        return vector_to_array(F.col(name)).alias(name)
    return F.col(name)


def as_matrix(series: pd.Series) -> np.ndarray:
    """Stack one Arrow batch of a ``vector_column`` into a dense float64
    (rows, d) matrix."""
    return np.vstack(series.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())


def validate_numeric_col(schema: StructType, col: str) -> None:
    if col not in schema.names:
        raise ValueError(f"column '{col}' not found; columns: {schema.names}")
    dt = schema[col].dataType
    if not isinstance(dt, _NUMERIC) and type(dt).__name__ != "DecimalType":
        raise ValueError(
            f"column '{col}' must be numeric, got {dt.simpleString()}"
        )


def transform_schema(
    schema: StructType, input_col: str, output_col: str
) -> StructType:
    """The transformSchema contract (RapidsPCA.scala:127-129,193-200):
    validate the input column, reject an already-present output column,
    and return the post-transform schema."""
    validate_vector_col(schema, input_col)
    if output_col in schema.names:
        raise ValueError(f"output column '{output_col}' already exists")
    return StructType(
        schema.fields + [StructField(output_col, ArrayType(DoubleType()))]
    )


# ---------------- persistence ----------------


def _class_tag(cls: type) -> str:
    return f"{cls.__module__}.{cls.__qualname__}"


def _read_metadata(path: str, clazz: str) -> dict:
    with open(os.path.join(path, "metadata.json")) as f:
        meta = json.load(f)
    if meta.get("class") != clazz:
        raise ValueError(f"expected {clazz}, found {meta.get('class')}")
    return meta


def save_params(path: str, clazz: str, params: dict) -> None:
    """DefaultParamsWriter parity: metadata.json carrying the class tag
    and the param map (plain JSON — estimators hold no fitted data)."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "metadata.json"), "w") as f:
        json.dump({"class": clazz, "params": params}, f)


def load_params(path: str, clazz: str) -> dict:
    return _read_metadata(path, clazz)["params"]


class ParamsPersistence:
    """Estimator ``save(path)`` / ``load(path)`` over the constructor
    arguments named in ``_PARAMS`` (each stored as the same-named
    attribute), tagged with the estimator's class."""

    _PARAMS: tuple[str, ...] = ()

    def save(self, path: str) -> None:
        save_params(
            path, _class_tag(type(self)), {p: getattr(self, p) for p in self._PARAMS}
        )

    @classmethod
    def load(cls, path: str):
        return cls(**load_params(path, _class_tag(cls)))


def save_model(spark: SparkSession, path: str, obj, meta: dict, data: dict) -> None:
    """Model persistence in the RapidsPCA.scala:218-254 layout:
    ``metadata.json`` = ``{"class": <obj's class tag>, **meta}`` and
    ``data/`` = ``data`` as a one-row parquet."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "metadata.json"), "w") as f:
        json.dump({"class": _class_tag(type(obj)), **meta}, f)
    spark.createDataFrame([data]).repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "data")
    )


def load_model(spark: SparkSession, path: str, cls: type) -> tuple[dict, Row]:
    """(metadata, data row) of a directory ``save_model`` wrote for
    ``cls``; a directory saved by another class raises ``ValueError``."""
    meta = _read_metadata(path, _class_tag(cls))
    return meta, spark.read.parquet(os.path.join(path, "data")).head()
