"""Input adapter, batch codec, partial reduction, schema validation
and persistence — the one place each of these lives for the five
estimators in ``ml/``.

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
  (same plan).
- The batch codec is the one way a Python stage reads and writes such a
  column: ``decode`` turns an Arrow ``list`` column into a dense float64
  (rows, d) matrix (flat values + one reshape, no per-row objects) and
  rejects a null row, a null element or a ragged width by name;
  ``encode`` builds the ``list`` column back from offsets + flat values.
- ``reduce(_+_)`` of per-partition partials (RapidsRowMatrix.scala:201):
  ``partials`` runs one ``mapInArrow`` kernel per partition that emits
  one packed float64 partial; ``reduce_partials`` collects them (one
  job) and folds them on the driver in partition order, so the result
  never depends on shuffle fetch order. Model transforms are scalar
  Arrow UDFs over the same codec (``with_batch_column``).
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
import re
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.errors import PythonException
from pyspark.sql import Column, DataFrame, Row, SparkSession
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


def decode(col: pa.Array | pa.ChunkedArray, name: str, width: int | None = None) -> np.ndarray:
    """One Arrow ``list``/``large_list`` column as a dense float64
    (rows, d) matrix; float32 and integer elements widen exactly as
    ``np.asarray(v, dtype=float64)`` would. NaN passes through; a null
    row, a null element or a row whose width differs from ``width``
    (default: the first row's) raises ``ValueError`` naming ``name``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"vector column '{name}': null row")
    values = col.flatten()
    if values.null_count:
        raise ValueError(f"vector column '{name}': null element")
    widths = np.diff(col.offsets.to_numpy())
    if width is None:
        width = int(widths[0]) if len(widths) else 0
    if (widths != width).any():
        raise ValueError(
            f"vector column '{name}': ragged width "
            f"({widths.min()} to {widths.max()} values, expected {width})"
        )
    return values.to_numpy().astype(np.float64, copy=False).reshape(len(col), width)


def encode(y: np.ndarray) -> pa.Array:
    """``decode``'s inverse for a (rows, d) matrix: a ``list<double>``
    column built from offsets + the flat values."""
    rows, d = y.shape
    offsets = pa.array(np.arange(rows + 1, dtype=np.int32) * d)
    return pa.ListArray.from_arrays(offsets, pa.array(np.ravel(y), pa.float64()))


def with_batch_column(
    df: DataFrame, input_col: str, output_col: str, width: int, fn: Callable, return_type
) -> DataFrame:
    """``df`` plus ``output_col`` = ``fn`` applied to each decoded Arrow
    batch of ``input_col`` (rows ``width`` wide) as a scalar Arrow UDF.
    ``fn`` returns a (rows, d) matrix for an array column or a (rows,)
    vector for a scalar one."""

    def run(col):  # unannotated: arrow_udf defaults it to SCALAR
        y = fn(decode(col, input_col, width))
        return encode(y) if y.ndim == 2 else pa.array(y)

    udf = F.arrow_udf(run, return_type)
    return df.withColumn(output_col, udf(vector_column(df.schema, input_col)))


def fold(merge: Callable, items: Iterable[np.ndarray]) -> np.ndarray | None:
    """Left fold ``merge`` over ``items`` in order; None when empty."""
    acc = None
    for item in items:
        acc = item if acc is None else merge(acc, item)
    return acc


# a partition's decoded batches -> its packed partial (None: no rows)
Kernel = Callable[[Iterator[np.ndarray]], "np.ndarray | None"]


def partials(df: DataFrame, input_col: str, kernel: Kernel, width: int | None = None) -> DataFrame:
    """One ``mapInArrow`` pass: ``kernel`` folds a partition's decoded
    batches (empty ones skipped; every row ``width`` wide, default the
    partition's first row's) into one packed float64 vector, emitted as
    a one-row ``packed array<double>`` partial; a partition whose
    kernel returns None emits nothing."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        d = width

        def matrices() -> Iterator[np.ndarray]:
            nonlocal d
            for b in batches:
                if b.num_rows:
                    x = decode(b.column(0), input_col, d)
                    d = x.shape[1]
                    yield x

        acc = kernel(matrices())
        if acc is not None:
            yield pa.RecordBatch.from_arrays([encode(acc[None, :])], ["packed"])

    return df.select(vector_column(df.schema, input_col)).mapInArrow(
        run, "packed array<double>"
    )


def reduce_partials(
    df: DataFrame, input_col: str, kernel: Kernel, merge: Callable = np.add, width: int | None = None
) -> np.ndarray:
    """``partials`` collected in partition order (ONE job) and folded
    with ``merge`` on the driver. A ``ValueError`` raised in a kernel
    (the codec's degenerate-row checks) re-raises here as a
    ``ValueError``; no partial at all raises ``empty input``."""
    try:
        table = partials(df, input_col, kernel, width).toArrow()
    except PythonException as e:
        m = re.search(r"^ValueError: (.*)$", str(e), re.MULTILINE)
        if m is None:
            raise
        raise ValueError(m.group(1)) from e
    try:
        rows = decode(table.column("packed"), "packed")
    except ValueError:  # partials of unequal length: widths differ across partitions
        raise ValueError(f"vector column '{input_col}': ragged width across partitions")
    acc = fold(merge, rows)
    if acc is None:
        raise ValueError("empty input")
    return acc


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
