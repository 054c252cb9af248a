"""The in-job collective (``ml/schema.collective``): an iterative fit in
ONE Spark job whose barrier-stage tasks exchange their partials through
a relay the driver hosts.

- KMeans (seeds + every Lloyd round) and PCA ``backend="spr"`` (mean,
  then the packed centered Gram) each run one job, and give the bits a
  numpy replay of the partition-order fold gives. The KMeans fit of the
  declared query ``dedup_semantic_clusters`` runs one job too.
- An input wider than the session's task slots is repartitioned on the
  id and gives the same bits on every fit, whatever its layout.
- Degenerate input keeps the codec's errors; a failing task leaves no
  relay thread or listening socket behind, and its peers do not hang.
- The relay itself (Spark-free): the secret gates every connection,
  rounds answer in partition order, a reported error or a hang-up
  aborts the waiting rounds.
"""

from __future__ import annotations

import socket
import threading
import time

import numpy as np
import pytest
from pyspark.ml.linalg import SparseVector, Vectors
from pyspark.sql import functions as F

from spark_rapids_ml_spark.ml import schema
from spark_rapids_ml_spark.ml.kmeans import KMeans
from spark_rapids_ml_spark.ml.pca import compute_covariance_spr
from spark_rapids_ml_spark.query_run import query_run
from spark_rapids_ml_spark.registry import all_queries
from tests.conftest import SF_SMALL as SF


def _relay_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name == "collective-relay"]


@pytest.fixture(scope="module")
def four_partitions(spark):
    """A cached 4-partition frame whose values span six decades (float
    sums depend on the order they are added in), plus its rows per
    partition in partition order."""
    rng = np.random.default_rng(11)
    x = rng.normal(size=(600, 4)) * [1e-3, 1.0, 1e3, 1e6] + [0.0, 5.0, -7e3, 1e6]
    df = (
        spark.createDataFrame([(i, r.tolist()) for i, r in enumerate(x)], ["id", "features"])
        .repartition(4)
        .cache()
    )
    rows = df.withColumn("pid", F.spark_partition_id()).collect()
    parts = [np.array([r["features"] for r in rows if r["pid"] == p]) for p in range(4)]
    ids = [np.array([r["id"] for r in rows if r["pid"] == p]) for p in range(4)]
    assert all(len(p) for p in parts)
    yield df, parts, ids
    df.unpersist()


def _replay_kmeans(parts, ids, k, max_iter, tol):
    """The parent's fit in numpy: the k smallest-id rows, then per
    iteration one (counts, sums) partial per partition, added in
    partition order on the driver."""
    order = np.argsort(np.concatenate(ids), kind="stable")[:k]
    c = np.concatenate(parts)[order]
    for _ in range(max_iter):
        acc = None
        for x in parts:
            d2 = (x * x).sum(axis=1)[:, None] - 2 * x @ c.T + (c * c).sum(axis=1)[None, :]
            lab = d2.argmin(axis=1)
            sums = np.zeros_like(c)
            np.add.at(sums, lab, x)
            p = np.concatenate((np.bincount(lab, minlength=len(c)), sums.ravel()))
            acc = p if acc is None else acc + p
        cnts, sums = acc[: len(c)], acc[len(c) :].reshape(c.shape)
        new_c = c.copy()
        for j in range(len(c)):
            if cnts[j] > 0:
                new_c[j] = sums[j] / cnts[j]
        shift = float(np.abs(new_c - c).max())
        c = new_c
        if shift < tol:
            break
    return c


@pytest.mark.parametrize("max_iter", [3, 10])
def test_kmeans_fit_is_one_job(spark, four_partitions, max_iter):
    df, _, _ = four_partitions
    with query_run(spark, f"kmeans-{max_iter}") as run:
        KMeans(k=3, max_iter=max_iter, tol=0.0).fit(df)
    assert len(run.job_ids) == 1  # was: 1 + max_iter


def test_semantic_dedup_fit_keeps_its_layout(spark, monkeypatch):
    # dedup_semantic_clusters' planted corpus is one scan, so the
    # barrier stage runs the cached frame as is (was: a union of two
    # scans, hash-repartitioned first, 3 jobs)
    jobs, fit = [], KMeans.fit

    def counted(self, df):
        with query_run(spark, "semdedup-fit") as run:
            model = fit(self, df)
        jobs.append(len(run.job_ids))
        return model

    monkeypatch.setattr(KMeans, "fit", counted)
    spec = all_queries()["dedup_semantic_clusters"]
    with query_run(spark, spec.name):
        assert spec.fn(spark, SF).count() == 4
    assert jobs == [1]


@pytest.mark.parametrize("max_iter,tol", [(2, 0.0), (10, 0.0), (50, 1e-6)])
def test_kmeans_matches_partition_order_replay(four_partitions, max_iter, tol):
    df, parts, ids = four_partitions
    want = _replay_kmeans(parts, ids, 5, max_iter, tol)
    for _ in range(2):
        got = KMeans(k=5, max_iter=max_iter, tol=tol).fit(df).centroids
        assert np.array_equal(got, want)


def test_spr_covariance_matches_two_pass_replay(spark, four_partitions):
    """The spr backend in one job gives the parent's two-pass bits:
    colsum partials folded in partition order for the mean, then the
    packed centered-Gram partials folded the same way."""
    df, parts, _ = four_partitions
    flat = None
    for x in parts:
        p = np.concatenate(([x.shape[0]], x.sum(axis=0)))
        flat = p if flat is None else flat + p
    n = int(round(flat[0]))
    mean = flat[1:] / n
    li, lj = np.tril_indices(len(mean))
    packed = None
    for x in parts:
        xc = x - mean
        p = (xc.T @ xc)[lj, li]
        packed = p if packed is None else packed + p
    full = np.empty((len(mean), len(mean)))
    full[lj, li] = packed
    full[li, lj] = packed
    with query_run(spark, "spr") as run:
        cov, got_mean, got_n = compute_covariance_spr(df, "features")
    assert len(run.job_ids) == 1  # was: 2
    assert got_n == n and np.array_equal(got_mean, mean)
    assert np.array_equal(cov, full / (n - 1))


def test_wide_input_is_deterministic(spark):
    """More partitions than task slots: the input is repartitioned on
    the id and sorted within partitions, so repeated fits, and fits of
    the same rows in another layout, give the same bits."""
    slots = spark.sparkContext.defaultParallelism
    rng = np.random.default_rng(4)
    x = rng.normal(size=(900, 6)) * np.logspace(-3, 3, 6)
    rows = [(i, r.tolist()) for i, r in enumerate(x)]
    frames = [
        spark.createDataFrame(rows, ["id", "features"]).repartition(n).cache()
        for n in (slots + 1, 2 * slots + 3)
    ]
    try:
        assert frames[0].rdd.getNumPartitions() > slots
        fits = [KMeans(k=4, max_iter=5, tol=0.0).fit(f).centroids for f in frames for _ in range(2)]
        for got in fits[1:]:
            assert np.array_equal(got, fits[0])
        want = _replay_kmeans([x], [np.arange(len(x))], 4, 5, 0.0)
        assert np.allclose(fits[0], want, rtol=1e-9, atol=0.0)
    finally:
        for f in frames:
            f.unpersist()


def test_empty_input_raises(spark):
    empty = spark.createDataFrame([], "id long, features array<double>")
    with pytest.raises(ValueError, match="empty input"):
        KMeans(k=2).fit(empty)
    with pytest.raises(ValueError, match="empty input"):
        compute_covariance_spr(empty, "features")


def test_k_above_row_count_keeps_every_row(spark):
    rows = [(3, [1.0, 0.0]), (1, [0.0, 2.0]), (2, [5.0, 5.0])]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    got = KMeans(k=10, max_iter=3).fit(df).centroids
    assert np.array_equal(got, np.array([[0.0, 2.0], [5.0, 5.0], [1.0, 0.0]]))


def test_nan_passes_through_and_sparse_equals_dense(spark):
    x = [[1.0, 0.0, 3.0], [0.0, 0.0, 1.0], [4.0, 5.0, 0.0], [2.0, 0.0, 2.0], [0.0, 7.0, 0.0]]

    def frame(make):
        return spark.createDataFrame([(i, make(v)) for i, v in enumerate(x)], ["id", "features"])

    def sparse(v):
        nz = [i for i, a in enumerate(v) if a]
        return SparseVector(len(v), nz, [v[i] for i in nz])

    dense = KMeans(k=2, max_iter=4).fit(frame(Vectors.dense)).centroids
    assert np.array_equal(KMeans(k=2, max_iter=4).fit(frame(sparse)).centroids, dense)
    nan_rows = [(i, [float("nan"), *v[1:]] if i == 4 else v) for i, v in enumerate(x)]
    df = spark.createDataFrame(nan_rows, "id long, features array<double>")
    assert np.isnan(KMeans(k=2, max_iter=4).fit(df).centroids).any()


def _one_row_per_partition(spark, vectors):
    """Row i (id i) alone in partition i: each partition's width is
    consistent, so only the widths across partitions differ."""
    rdd = spark.sparkContext.parallelize(list(enumerate(vectors)), len(vectors))
    return spark.createDataFrame(rdd, "id long, features array<double>")


@pytest.mark.parametrize("k", [2, 4])  # the short row past the seeds, then among them
def test_ragged_width_across_partitions(spark, k):
    df = _one_row_per_partition(spark, [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [7.0, 8.0, 9.0], [1.0, 2.0]])
    assert df.rdd.getNumPartitions() == 4
    with pytest.raises(ValueError, match=r"vector column 'features': ragged width"):
        KMeans(k=k, max_iter=2).fit(df)
    with pytest.raises(ValueError, match="vector column 'features': ragged width across partitions"):
        compute_covariance_spr(df, "features")


def test_failing_task_leaves_no_relay(spark, monkeypatch):
    """A codec error in one task surfaces as that ValueError; the relay's
    threads are joined and its listening socket is closed."""
    relays = []

    class Recorded(schema._Relay):
        def __init__(self, host):
            super().__init__(host)
            relays.append(self)

    monkeypatch.setattr(schema, "_Relay", Recorded)
    df = _one_row_per_partition(spark, [[1.0, 2.0], [3.0, None], [5.0, 6.0]])
    with pytest.raises(ValueError, match="vector column 'features': null element"):
        KMeans(k=2).fit(df)
    (relay,) = relays
    assert relay.error == "vector column 'features': null element"
    assert _relay_threads() == []
    assert relay._server.fileno() == -1
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(relay.address, timeout=5)


def test_task_raising_other_error_does_not_hang(spark):
    """A task that dies of a non-codec error hangs up on the relay; its
    peers, waiting in the round it owed, are aborted and the job fails
    with the task's own error."""
    df = _one_row_per_partition(spark, [[1.0], [2.0], [3.0]])

    def body(xs, keys, comm):
        if xs and xs[0][0, 0] == 2.0:
            raise RuntimeError("task refused")
        comm.allreduce(np.ones(1))
        return np.ones((1, 1))

    with pytest.raises(Exception, match="task refused"):
        schema.collective(df, "features", body)
    assert _relay_threads() == []


def test_fit_beside_a_busy_job_completes(spark, four_partitions):
    """The barrier stage waits until all its tasks have a slot, then
    runs: a fit started while another job holds every slot completes
    once that job is done."""
    df, parts, ids = four_partitions
    slots = spark.sparkContext.defaultParallelism

    def busy(it):
        time.sleep(3)
        return it

    sleeper = spark.range(slots, numPartitions=slots).rdd.mapPartitions(busy)
    worker = threading.Thread(target=sleeper.count)
    worker.start()
    time.sleep(1)
    try:
        got = KMeans(k=3, max_iter=3, tol=0.0).fit(df).centroids
    finally:
        worker.join(60)
    assert not worker.is_alive()
    assert np.array_equal(got, _replay_kmeans(parts, ids, 3, 3, 0.0))


# ------------------------------------------------ the relay, Spark-free


def _client(relay, pid, secret=None):
    sock = socket.create_connection(relay.address)
    sock.sendall((secret or relay.secret) + schema._PID.pack(pid))
    return sock


def _gather_all(relay, values):
    """Each value allgathered by its own task thread; the replies."""
    out = {}

    def task(pid):
        with _client(relay, pid) as sock:
            try:
                out[pid] = schema.Comm(sock, "features").allgather(values[pid])
            except schema._Aborted:
                out[pid] = "aborted"

    threads = [threading.Thread(target=task, args=(p,)) for p in range(len(values))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
        assert not t.is_alive()
    return out


def test_relay_answers_in_partition_order_and_checks_secret():
    relay = schema._Relay("localhost")
    relay.n = 3
    try:
        with _client(relay, 0, secret=b"x" * len(relay.secret)) as intruder:
            intruder.sendall(b"D" + schema._LEN.pack(3) + b"abc")
            try:  # hung up without reading past the secret: FIN or RST
                assert intruder.recv(1) == b""
            except ConnectionResetError:
                pass
        got = _gather_all(relay, [np.arange(2.0), None, "two"])
        for pid in range(3):
            assert got[pid][0].tolist() == [0.0, 1.0] and got[pid][1:] == [None, "two"]
    finally:
        relay.close()
    assert relay.error is None and relay.lost is None
    assert _relay_threads() == []


def test_relay_aborts_a_round_on_report_or_hang_up():
    relay = schema._Relay("localhost")
    relay.n = 2
    try:
        with _client(relay, 1) as failing:
            schema.Comm(failing, "features").report("vector column 'features': null row")
            assert _gather_all(relay, [1.0])[0] == "aborted"
    finally:
        relay.close()
    assert relay.error == "vector column 'features': null row"

    relay = schema._Relay("localhost")
    relay.n = 2
    try:
        _client(relay, 1).close()  # a task that exits without joining its round
        assert _gather_all(relay, [1.0])[0] == "aborted"
    finally:
        relay.close()
    assert relay.error is None and relay.lost
    assert _relay_threads() == []
