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
- An iterative fit (KMeans, the spr covariance) is still one job:
  ``collective`` runs one barrier-mode ``mapInArrow`` pass whose tasks
  fold each round's partials themselves, in the same partition order,
  through a relay the driver hosts.
- ``DefaultParamsWriter/Readable`` (RapidsPCA.scala:134-140,
  RapidsPCAModel reader/writer :207-255; round-tripped by
  PCASuite.scala:192-206): estimators persist their *params* as JSON
  metadata (``ParamsPersistence``); models persist metadata plus a
  one-row ``data/`` parquet (``save_model``/``load_model``). Every
  load checks the class tag (``module.qualname`` of the saved class).
"""

from __future__ import annotations

import functools
import hmac
import json
import os
import pickle
import re
import secrets
import socket
import struct
import threading
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
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


def ragged_width(name: str, lo: int, hi: int, width: int) -> ValueError:
    """The codec's error for rows ``lo`` to ``hi`` values wide where
    ``width`` was expected."""
    return ValueError(
        f"vector column '{name}': ragged width ({lo} to {hi} values, expected {width})"
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
        raise ragged_width(name, widths.min(), widths.max(), width)
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


def _matrices(batches: Iterable[pa.RecordBatch], name: str, width: int | None = None):
    """(batch, its first column decoded) per non-empty batch, every row
    ``width`` wide (default: the first row's)."""
    for b in batches:
        if b.num_rows:
            x = decode(b.column(0), name, width)
            width = x.shape[1]
            yield b, x


def partials(df: DataFrame, input_col: str, kernel: Kernel, width: int | None = None) -> DataFrame:
    """One ``mapInArrow`` pass: ``kernel`` folds a partition's decoded
    batches (empty ones skipped; every row ``width`` wide, default the
    partition's first row's) into one packed float64 vector, emitted as
    a one-row ``packed array<double>`` partial; a partition whose
    kernel returns None emits nothing."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = kernel(x for _, x in _matrices(batches, input_col, width))
        if acc is not None:
            yield pa.RecordBatch.from_arrays([encode(acc[None, :])], ["packed"])

    return df.select(vector_column(df.schema, input_col)).mapInArrow(
        run, "packed array<double>"
    )


def _to_arrow(df: DataFrame) -> pa.Table:
    """``df`` collected as an Arrow table; a ``ValueError`` raised in
    one of its Python tasks (the codec's degenerate-row checks)
    re-raises as a ``ValueError`` with the task's message."""
    try:
        return df.toArrow()  # bounded: a partial per partition, or one collective result
    except PythonException as e:
        m = re.search(r"^ValueError: (.*)$", str(e), re.MULTILINE)
        if m is None:
            raise
        raise ValueError(m.group(1)) from e


_ACROSS = "vector column '{}': ragged width across partitions"


def reduce_partials(
    df: DataFrame, input_col: str, kernel: Kernel, merge: Callable = np.add, width: int | None = None
) -> np.ndarray:
    """``partials`` collected in partition order (ONE job) and folded
    with ``merge`` on the driver. A ``ValueError`` raised in a kernel
    (the codec's degenerate-row checks) re-raises here as a
    ``ValueError``; no partial at all raises ``empty input``."""
    table = _to_arrow(partials(df, input_col, kernel, width))
    try:
        rows = decode(table.column("packed"), "packed")
    except ValueError:  # partials of unequal length: widths differ across partitions
        raise ValueError(_ACROSS.format(input_col))
    acc = fold(merge, rows)
    if acc is None:
        raise ValueError("empty input")
    return acc


# ---------------- one job per fit: the in-job collective ----------------

_DATA, _ERROR, _ABORTED = b"D", b"E", b"A"
_LEN = struct.Struct("!Q")
_PID = struct.Struct("!I")


class _Aborted(Exception):
    """The relay gave up on this collective (another task failed)."""


def _recv_exact(sock: socket.socket, size: int) -> bytes:
    buf = bytearray()
    while len(buf) < size:
        chunk = sock.recv(size - len(buf))
        if not chunk:
            raise ConnectionError("collective relay: connection closed")
        buf += chunk
    return bytes(buf)


def _frame(kind: bytes, payload: bytes) -> bytes:
    return kind + _LEN.pack(len(payload)) + payload


class Comm:
    """A task's end of the relay: each call is one round in which every
    task of the stage takes part, in the same order."""

    def __init__(self, sock: socket.socket, input_col: str):
        self._sock, self._input_col = sock, input_col

    def allgather(self, obj) -> list:
        """Every task's ``obj`` (any picklable value, None included),
        in partition order."""
        self._sock.sendall(_frame(_DATA, pickle.dumps(obj, pickle.HIGHEST_PROTOCOL)))
        if _recv_exact(self._sock, 1) != _DATA:
            raise _Aborted
        out = []
        for _ in range(_LEN.unpack(_recv_exact(self._sock, _LEN.size))[0]):
            size = _LEN.unpack(_recv_exact(self._sock, _LEN.size))[0]
            out.append(pickle.loads(_recv_exact(self._sock, size)))
        return out

    def allreduce(self, partial: np.ndarray | None) -> np.ndarray | None:
        """Every task's packed partial (None: no rows) summed in
        partition order, exactly as ``reduce_partials`` folds them on
        the driver; None when no task had one."""
        rows = [p for p in self.allgather(partial) if p is not None]
        if len({len(p) for p in rows}) > 1:
            raise ValueError(_ACROSS.format(self._input_col))
        return fold(np.add, rows)

    def report(self, message: str) -> None:
        """Hand the relay the ``ValueError`` this task raised; every
        task waiting in a round, now or later, is aborted."""
        self._sock.sendall(_frame(_ERROR, message.encode()))


class _Relay:
    """The driver end of ``collective``: a TCP server on the driver host
    that answers each round once all ``n`` tasks joined it, with their
    payloads in partition order. A task proves itself with the secret
    (``hmac.compare_digest``) before any payload is read. A reported
    ``ValueError``, or a task hanging up before a round it owes, aborts
    every waiting round. The relay never unpickles a payload."""

    def __init__(self, host: str):
        self.n = 0  # the stage's task count, set before its job runs
        self.secret = secrets.token_bytes(32)
        self.error: str | None = None  # first ValueError message a task reported
        self.lost: str | None = None  # why the relay aborted otherwise
        self._server = socket.create_server((host, 0))
        self.address = (host, self._server.getsockname()[1])
        self._cond = threading.Condition()
        self._rounds: dict[int, dict[int, bytes]] = {}
        self._replies: dict[int, int] = {}
        self._pids: set[int] = set()
        self._gone: set[int] = set()
        self._closed = False
        self._conns: list[socket.socket] = []
        self._threads = [threading.Thread(target=self._accept, name="collective-relay", daemon=True)]
        self._threads[0].start()

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self._server.accept()
            except OSError:  # closed
                return
            with self._cond:
                if self._closed:
                    conn.close()
                    return
                t = threading.Thread(target=self._serve, args=(conn,), name="collective-relay", daemon=True)
                self._conns.append(conn)
                self._threads.append(t)
                t.start()

    def _aborted(self) -> bool:
        return self.error is not None or self.lost is not None

    def _abort(self, error: str | None = None, lost: str | None = None) -> None:
        with self._cond:
            if not self._aborted():
                self.error, self.lost = error, lost
            self._cond.notify_all()

    def _serve(self, conn: socket.socket) -> None:
        pid = None
        try:
            if not hmac.compare_digest(_recv_exact(conn, len(self.secret)), self.secret):
                return
            (pid,) = _PID.unpack(_recv_exact(conn, _PID.size))
            with self._cond:
                if pid >= self.n or pid in self._pids:  # a retried attempt: the rounds cannot replay
                    pid = None
                    self._abort(lost="a task joined twice or out of range")
                    return
                self._pids.add(pid)
            r = 0
            while kind := conn.recv(1):
                payload = _recv_exact(conn, _LEN.unpack(_recv_exact(conn, _LEN.size))[0])
                if kind == _ERROR:
                    self._abort(error=payload.decode())
                    continue
                conn.sendall(self._join(pid, r, payload))
                r += 1
        except OSError:
            pass
        finally:
            conn.close()
            if pid is not None:
                with self._cond:
                    self._gone.add(pid)
                    self._cond.notify_all()

    def _join(self, pid: int, r: int, payload: bytes) -> bytes:
        with self._cond:
            got = self._rounds.setdefault(r, {})
            got[pid] = payload
            self._cond.notify_all()
            self._cond.wait_for(
                lambda: len(got) == self.n
                or self._closed
                or self._aborted()
                or any(p not in got for p in self._gone)
            )
            if len(got) < self.n or self._aborted():
                self._abort(lost="a task exited before a round it owed")
                return _ABORTED
            reply = _DATA + _LEN.pack(self.n) + b"".join(
                _LEN.pack(len(got[p])) + got[p] for p in range(self.n)
            )
            self._replies[r] = self._replies.get(r, 0) + 1
            if self._replies[r] == self.n:
                del self._rounds[r], self._replies[r]
            return reply

    def close(self) -> None:
        """Stop accepting, hang up every task and join every thread."""
        with self._cond:
            self._closed = True
            self._cond.notify_all()
        for sock in [self._server, *self._conns]:
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        self._server.close()
        for t in self._threads:
            t.join()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _has_exchange(plan) -> bool:
    """Whether a physical plan (an adaptive one: its input plan) runs a
    shuffle or broadcast of its own; a cached relation's plan is not
    its child, so a cached frame has none."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName().endswith("ExchangeExec"):
            return True
        todo.extend(_seq(node.children()))
    return False


def _stage_fits_barrier(rdd, n: int) -> bool:
    """Whether every RDD of ``rdd``'s last stage (narrow dependencies,
    up to the first shuffle) has ``n`` partitions, as a barrier stage
    requires (a union or a coalesce breaks it)."""
    todo = [rdd]
    while todo:
        r = todo.pop()
        if r.getNumPartitions() != n:
            return False
        for dep in _seq(r.dependencies()):
            if dep.getClass().getName() != "org.apache.spark.ShuffleDependency":
                todo.append(dep.rdd())
    return True


def _barrier_stage(frame: DataFrame, key: str, task: Callable) -> tuple[DataFrame, int]:
    """``frame.mapInArrow(task)`` as a barrier stage, and its task count.
    A frame with no exchange of its own keeps its partitions when they
    are at most the session's task slots and its last stage is
    uniform; the count is then read off the planned RDD (no job run;
    the action reuses that plan). Any other frame is hash-repartitioned
    on ``key`` to the slot count and sorted by ``key`` within each
    partition first."""
    slots = frame.sparkSession.sparkContext.defaultParallelism
    out = frame.mapInArrow(task, "packed array<double>", barrier=True)
    qe = out._jdf.queryExecution()
    if not _has_exchange(qe.executedPlan()):
        rdd = qe.toRdd()
        n = rdd.getNumPartitions()
        if n <= slots and _stage_fits_barrier(rdd, n):
            return out, n
    wide = frame.repartition(slots, key).sortWithinPartitions(key)
    return wide.mapInArrow(task, "packed array<double>", barrier=True), slots


# a partition's decoded batches, their key columns (empty without a key)
# and the task's Comm -> the fit's (rows, d) result (None: no rows)
Body = Callable[[list, list, Comm], "np.ndarray | None"]


def _collective_task(
    address, secret: bytes, input_col: str, keyed: bool, body: Body, batches: Iterator[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """One task of ``collective``: join the relay, decode the partition,
    run ``body``; partition 0 emits the result."""
    pid = TaskContext.get().partitionId()
    with socket.create_connection(address) as sock:
        sock.sendall(secret + _PID.pack(pid))
        comm = Comm(sock, input_col)
        try:
            xs, keys = [], []
            for b, x in _matrices(batches, input_col):
                xs.append(x)
                if keyed:
                    keys.append(b.column(1))
            out = body(xs, keys, comm)
        except _Aborted:
            return
        except ValueError as e:
            comm.report(str(e))
            return
    if pid == 0 and out is not None:
        yield pa.RecordBatch.from_arrays([encode(out)], ["packed"])


def collective(df: DataFrame, input_col: str, body: Body, key_col: str | None = None) -> np.ndarray:
    """A whole iterative fit in ONE Spark job: one barrier-mode
    ``mapInArrow`` pass whose tasks exchange their partials as often as
    the fit needs, through a relay the driver hosts for the call.

    Each task decodes its partition once (``_matrices``, every batch as
    wide as the partition's first row), keeps the batches, and runs
    ``body(xs, keys, comm)``; ``keys`` are the batches' ``key_col``
    Arrow columns. ``comm.allgather``/``comm.allreduce`` are rounds of
    the relay, which answers each once every task joined it, in
    partition order, so every task folds the same partials in the same
    order as ``reduce_partials`` does on the driver and holds the same
    bits. Partition 0's result is the one row set that reaches the
    driver (the ``(rows, d)`` matrix ``body`` returned); no result
    raises ``empty input``. A ``ValueError`` in any task (the codec's
    checks, a body's own) aborts every task's rounds and re-raises here
    as that ``ValueError``.

    Barrier mode only gang-schedules the tasks, so no task waits on
    a peer that has no slot; the stage therefore waits until all its
    tasks have a slot at once (a fit beside a busy job starts when that
    job frees its slots). Spark's own ``BarrierTaskContext.allGather``
    is not used: it polls once a second, so every round would cost a
    second. The stage never has more partitions than the session has
    task slots (``defaultParallelism``): a wider input, one whose last
    stage a barrier cannot run (a union), or one that runs a shuffle of
    its own (its partition count is known only once that has run) is
    hash-repartitioned on ``key_col``
    (default: the vector itself) to that many partitions and sorted
    within them, so its result is the same from run to run."""
    spark = df.sparkSession
    cols = [vector_column(df.schema, input_col)] + ([F.col(key_col)] if key_col else [])
    relay = _Relay(spark.conf.get("spark.driver.host"))
    task = functools.partial(
        _collective_task, relay.address, relay.secret, input_col, key_col is not None, body
    )
    try:
        out, relay.n = _barrier_stage(df.select(*cols), key_col or input_col, task)
        table = _to_arrow(out)
    finally:
        relay.close()
    if relay.error is not None:
        raise ValueError(relay.error)
    if relay.lost is not None:
        raise RuntimeError(f"collective aborted: {relay.lost}")
    if not table.num_rows:
        raise ValueError("empty input")
    return decode(table.column("packed"), "packed")


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
