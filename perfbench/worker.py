"""One benchmark run inside a Spark driver process.

Started by ``run.py`` with an isolated environment (``PYTHONPATH``,
``SPARK_LOCAL_DIRS``, ``TMPDIR``, working directory). Writes one JSON
result file; ``run.py`` turns it into the benchmark's output line.

Run shape (one Spark driver on ``local[nproc]``, one query at a time):

1. One set-up: the SparkSession (which launches the JVM) plus the
   workload's discarded warm-up passes (passes -n .. -1).
2. Timed passes until ``--seconds`` have elapsed and at least the
   workload's ``min_passes`` have run. The seed shuffles the query
   order of every pass. Every query's output is checked.
3. With ``--trace 1`` the passes alternate untraced and traced; the
   traced ones give the per-layer metrics and the span file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
from metrics import OP_MODULES, SELF_LAYERS  # noqa: E402
from workloads import KMEANS_ITERS, KMEANS_K, PCA_K, WORKLOADS, load_expected, scale_dir  # noqa: E402

# the program's stage span around the PCA covariance (plans.profiling)
PCA_COVARIANCE_SPAN = "pca.fit.covariance[moments]"
RSS_PERIOD_S = 0.2
RSS_RESCAN = 5
RSS_MIN_AGE_S = 1.0


# ----------------------------------------------------------------- units


class QueryUnit:
    """A declared query: build = ``spec.fn``, action = the row count plus
    the order-independent xxhash64 row-hash sum ``bench.py`` computes."""

    def __init__(self, spec, sf_dir: str, expected):
        self.name = spec.name
        self.module = spec.fn.__module__.rsplit(".", 1)[-1]
        self.spec, self.sf_dir, self.expected = spec, sf_dir, expected

    def build(self, spark):
        return self.spec.fn(spark, self.sf_dir)

    def action(self, spark, df):
        from pyspark.sql import functions as F

        hashable = [
            F.to_json(f.name) if f.dataType.typeName() == "map" else F.col(f.name)
            for f in df.schema.fields
        ]
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*hashable).cast("decimal(28,0)")).alias("h"),
        ).collect()[0]
        return [int(row["n"]), str(row["h"])]

    def check(self, result) -> str | None:
        if self.expected is None:
            return "no pinned digest"
        if result != self.expected:
            return f"digest {result} != pinned {self.expected}"
        return None


def pca_oracle(x: np.ndarray, k: int) -> np.ndarray:
    """Top-k principal axes of ``x``: eigh of the sample covariance,
    descending, each column's largest-|x| entry made positive."""
    w, v = np.linalg.eigh(np.cov(x, rowvar=False))
    v = v[:, np.argsort(w)[::-1][:k]]
    signs = np.sign(v[np.abs(v).argmax(axis=0), np.arange(k)])
    return v * signs


def lloyd_oracle(x: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Lloyd's k-means seeded with the k smallest ids (rows 0..k-1),
    stopping early once no centroid moves by more than 1e-6."""
    c = x[:k].copy()
    for _ in range(iters):
        d2 = (x * x).sum(1)[:, None] - 2 * x @ c.T + (c * c).sum(1)[None, :]
        lab = d2.argmin(axis=1)
        new = c.copy()
        for j in range(k):
            if (lab == j).any():
                new[j] = x[lab == j].mean(axis=0)
        shift = float(np.abs(new - c).max())
        c = new
        if shift < 1e-6:
            break
    return c


class MLFit:
    """The ml-fit workload's three units over one generated matrix."""

    def __init__(self, path: str, x: np.ndarray):
        self.path = path
        self.model = None
        self.pc = pca_oracle(x, PCA_K)
        self.proj_sum = float((x @ self.pc).sum())
        self.centroids = lloyd_oracle(x, KMEANS_K, KMEANS_ITERS)
        self.rows = len(x)

    def units(self) -> list:
        from pyspark.sql import functions as F

        from spark_rapids_ml_spark.ml.kmeans import KMeans
        from spark_rapids_ml_spark.ml.pca import PCA

        def close(a, b, tol):
            err = float(np.abs(a - b).max())
            return None if err <= tol else f"max abs error {err:.3g} > {tol:g}"

        def fit(spark):
            self.model = PCA(k=PCA_K).fit(spark.read.parquet(self.path))
            return self.model

        def transform(spark):
            return self.model.transform(spark.read.parquet(self.path))

        def consume(spark, df):
            total = F.aggregate("pca_features", F.lit(0.0), lambda acc, v: acc + v)
            n, s = df.agg(F.count(F.lit(1)), F.sum(total)).collect()[0]
            return n, s

        def kmeans(spark):
            return KMeans(k=KMEANS_K, max_iter=KMEANS_ITERS).fit(spark.read.parquet(self.path))

        def check_transform(r):
            n, s = r
            if n != self.rows:
                return f"{n} rows != {self.rows}"
            return close(np.array([s]), np.array([self.proj_sum]), 1e-9 * max(1.0, abs(self.proj_sum)))

        return [
            Unit("pca.fit", "ml.pca", fit, None, lambda m: close(m.pc, self.pc, 1e-6)),
            Unit("pca.transform", "ml.pca", transform, consume, check_transform),
            Unit("kmeans.fit", "ml.kmeans", kmeans, None,
                 lambda m: close(m.centroids, self.centroids, 1e-6)),
        ]


class Unit:
    def __init__(self, name, module, build, action, check):
        self.name, self.module = name, module
        self.build = build
        self.action = action or (lambda spark, obj: obj)
        self.check = check


# --------------------------------------------------------------- helpers


def isolate_paths(run_dir: str) -> list[str]:
    """Point the program's hard-coded scratch locations into the run
    directory. Returns the locations that were redirected."""
    from spark_rapids_ml_spark.operators import sources_io
    from spark_rapids_ml_spark.sources.catalog import table_path
    from spark_rapids_ml_spark.streaming import stream_queries

    moved = [
        f"sources_io.SINK_ROOT={sources_io.SINK_ROOT}",
        f"stream_queries._CHECKPOINT_ROOT={stream_queries._CHECKPOINT_ROOT}",
        "stream_queries._stream_dir (the file-stream staging directory)",
    ]
    sources_io.SINK_ROOT = os.path.join(run_dir, "sinks")
    stream_queries._CHECKPOINT_ROOT = os.path.join(run_dir, "checkpoints")

    def stream_dir(sf_dir: str) -> str:
        # same single-file staging directory the program builds, in the run dir
        d = os.path.join(run_dir, "stream_src", sf_dir.strip("/").replace("/", "_"))
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.abspath(table_path(sf_dir, "events")), link)
        return d

    stream_queries._stream_dir = stream_dir
    return moved


def tree_pids(root: int) -> list[int]:
    """``root`` and those of its descendants that are at least
    ``RSS_MIN_AGE_S`` old. Younger ones are left out: the JVM spawns
    short-lived helpers (Hadoop's shell commands), and until such a
    child execs, the kernel reports the JVM's whole RSS for it too."""
    with open("/proc/uptime") as f:
        ticks_now = float(f.read().split()[0]) * os.sysconf("SC_CLK_TCK")
    min_ticks = RSS_MIN_AGE_S * os.sysconf("SC_CLK_TCK")
    parent, young = {}, set()
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            if ticks_now - int(fields[19]) < min_ticks:
                young.add(int(d))
    keep, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        keep += [c for c in kids if c not in young]
        frontier += kids
    return keep


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the summed RSS of this process and its descendants every
    ``RSS_PERIOD_S`` seconds (the process list is refreshed every
    ``RSS_RESCAN`` samples, so a sample reads a handful of files and
    holds the interpreter lock briefly). ``take_peak()`` returns the
    peak since the previous call."""

    def __init__(self):
        self._peak = 0
        self._pids = tree_pids(os.getpid())
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(RSS_PERIOD_S):
            n += 1
            if n % RSS_RESCAN == 0:
                self._pids = tree_pids(os.getpid())
            rss = rss_bytes(self._pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        rss = rss_bytes(self._pids)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def storage(spark) -> tuple[int, int]:
    """(persisted RDDs, their in-memory bytes) right now."""
    jsc = spark.sparkContext._jsc
    mem = sum(int(i.memSize()) for i in jsc.sc().getRDDStorageInfo())
    return int(jsc.getPersistentRDDs().size()), mem


# ------------------------------------------------------------------- run


class Runner:
    def __init__(self, units, tracer, seed: int, shuffle: bool):
        self.units, self.tracer, self.shuffle = units, tracer, shuffle
        self.rng = random.Random(seed)
        self.records: list[dict] = []
        self.errors: list[str] = []

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def run_unit(self, spark, unit, pass_idx: int, traced: bool) -> dict:
        from spark_rapids_ml_spark.operators import dedup
        from spark_rapids_ml_spark.plans import profiling

        cov0 = profiling.timings().get(PCA_COVARIANCE_SPAN, 0.0)
        rec = {"name": unit.name, "module": unit.module, "pass": pass_idx, "traced": traced,
               "j0": next_job_id(spark), "start_epoch": time.time()}
        t0 = time.perf_counter()
        with self.span("query", query_name=unit.name, pass_idx=pass_idx) as qspan:
            try:
                with self.span("query.build"):
                    obj = unit.build(spark)
                with self.span("query.action"):
                    result = unit.action(spark, obj)
                err = unit.check(result)
            except Exception:  # a failing query is counted, the run goes on
                err = traceback.format_exc()
            if traced:
                rec["cache_frames"], rec["cache_mem_bytes"] = storage(spark)
            dedup.release_caches()
        rec["wall"] = time.perf_counter() - t0
        rec["end_epoch"] = time.time()
        rec["j1"] = next_job_id(spark)
        rec["pca_covariance_s"] = profiling.timings().get(PCA_COVARIANCE_SPAN, 0.0) - cov0
        rec["span"] = qspan["id"] if qspan else None
        rec["error"] = err
        if err:
            self.errors.append(f"{unit.name} (pass {pass_idx}): {err}")
        self.records.append(rec)
        return rec

    def run_pass(self, spark, pass_idx: int, traced: bool) -> float:
        order = list(self.units)
        if self.shuffle:
            self.rng.shuffle(order)
        if self.tracer:
            self.tracer.enabled = traced
        t0 = time.perf_counter()
        for unit in order:
            self.run_unit(spark, unit, pass_idx, traced)
        return time.perf_counter() - t0


def new_session(run_dir: str, trace: bool):
    from spark_rapids_ml_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", cpus=os.cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", required=True, help="directory holding the generated catalogs")
    p.add_argument("--run-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--spans", help="span file (traced runs)")
    args = p.parse_args(argv)
    wl = WORKLOADS[args.workload]
    t_worker = time.perf_counter()
    phases = {}

    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracer.install()  # before the registry imports the operator modules
    from spark_rapids_ml_spark.registry import all_queries

    redirected = isolate_paths(args.run_dir)
    if wl.matrix:
        rows, cols, rank = wl.matrix
        x = datagen.matrix(args.seed, rows, cols, rank)
        path = os.path.join(args.run_dir, "matrix.parquet")
        datagen.write_matrix(path, x)
        units = MLFit(path, x).units()
        shuffle = False  # transform consumes the model the fit made
    else:
        specs = all_queries()
        missing = [q for q in wl.queries if q not in specs]
        if missing:
            raise SystemExit(f"pinned queries missing from the registry: {missing}")
        digests = load_expected()["digests"].get(scale_dir(wl.sf), {})
        sf_dir = os.path.join(args.data, scale_dir(wl.sf))
        units = [QueryUnit(specs[q], sf_dir, digests.get(q)) for q in wl.queries]
        shuffle = True

    phases["prepare_s"] = round(time.perf_counter() - t_worker, 3)
    runner = Runner(units, tracer, args.seed, shuffle)
    t0 = time.perf_counter()
    spark = new_session(args.run_dir, bool(args.trace))
    session_s = time.perf_counter() - t0
    warm_s = sum(runner.run_pass(spark, -i, traced=False) for i in range(wl.warmup_passes, 0, -1))
    setup_s = time.perf_counter() - t0

    listener = None
    if tracer:
        listener = tracing.StreamListener()
        spark.streams.addListener(listener.listener)

    passes: list[dict] = []
    t_start = time.perf_counter()
    with RssSampler() as rss:
        rss.take_peak()
        while (
            len(passes) < wl.min_passes
            or time.perf_counter() - t_start < args.seconds
            or (args.trace and len(passes) < 2)
        ):
            traced = bool(args.trace) and len(passes) % 2 == 1
            e0 = time.time()
            wall = runner.run_pass(spark, len(passes), traced)
            passes.append({"wall": wall, "peak_rss": rss.take_peak(), "traced": traced,
                           "start_epoch": e0, "end_epoch": time.time()})
    fit_spr_s = 0.0
    if tracer and wl.matrix:
        from spark_rapids_ml_spark.ml.pca import PCA

        tracer.enabled = False
        t0 = time.perf_counter()
        PCA(k=PCA_K, backend="spr").fit(spark.read.parquet(path))
        fit_spr_s = time.perf_counter() - t0
    if listener:
        time.sleep(0.5)  # let the last progress events arrive
        spark.streams.removeListener(listener.listener)
    t_stop = time.perf_counter()
    spark.stop()
    phases["stop_s"] = round(time.perf_counter() - t_stop, 3)

    timed = [r for r in runner.records if r["pass"] >= 0 and not r["traced"]]
    result = {
        "setup_s": setup_s,
        "pass_s": [p["wall"] for p in passes if not p["traced"]],
        "query_s": {u.name: [r["wall"] for r in timed if r["name"] == u.name] for u in units},
        "peak_rss_bytes": [p["peak_rss"] for p in passes if not p["traced"]],
        "attempted": len(runner.records),
        "failed": len(runner.errors),
        "errors": runner.errors,
        "redirected": redirected,
        "phases": phases,
    }
    if tracer:
        log_dir = os.path.join(args.run_dir, "eventlog")
        newest = max((os.path.join(log_dir, f) for f in os.listdir(log_dir)), key=os.path.getmtime)
        elog = tracing.read_event_log(newest)
        result["layers"] = layer_metrics(
            runner.records, passes, tracer, elog, listener.progress,
            session_s, warm_s, fit_spr_s,
        )
        if args.spans:
            tracer.dump(args.spans, {"records": runner.records, "passes": passes,
                                     "jobs": {str(k): v for k, v in elog["jobs"].items()}})
    with open(args.out, "w") as f:
        json.dump(result, f)


# ------------------------------------------------------- per-layer metrics


def layer_metrics(records, passes, tracer, elog, progress, session_s, warm_s, fit_spr_s) -> dict:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    jobs, stages = elog["jobs"], elog["stages"]
    cores = os.cpu_count()

    def epoch(t: float) -> float:
        return tracer.epoch0 + t

    def top(name_prefix: str, pass_idx: int) -> list[dict]:
        """Spans of a layer in a pass that are not nested in the same layer."""
        out = []
        for s in spans:
            if not s["name"].startswith(name_prefix) or s["end"] is None or s["query"] is None:
                continue
            if by_id[s["query"]].get("pass_idx") != pass_idx:
                continue
            parent = by_id.get(s["parent"])
            if parent is not None and parent["name"].startswith(name_prefix):
                continue
            out.append(s)
        return out

    def total(ss):
        return sum(s["end"] - s["start"] for s in ss)

    per_pass = []
    for idx, pa in enumerate(passes):
        if not pa["traced"]:
            continue
        recs = [r for r in records if r["pass"] == idx]
        m: dict[str, float] = {}
        m["query.build_s"] = total(top("query.build", idx))
        m["query.action_s"] = total(top("query.action", idx))
        for mod in OP_MODULES:
            m[f"op.{mod}.s"] = sum(r["wall"] for r in recs if r["module"] == mod)

        job_ids = [j for r in recs for j in range(r["j0"], r["j1"])]
        # a stage's tasks run once; stages a job skips belong to an earlier job
        run_stages = [sid for sid, st in stages.items()
                      if pa["start_epoch"] <= st["first_launch"] <= pa["end_epoch"]]
        agg = {k: sum(stages[s][k] for s in run_stages) for k in tracing._empty_stage()}
        m["spark.jobs"] = len(job_ids)
        m["spark.stages"] = len(run_stages)
        m["spark.tasks"] = agg["tasks"]
        m["spark.failed_tasks"] = agg["failed_tasks"]
        gap = 0.0
        for r in recs:
            ivs = []
            for j in range(r["j0"], r["j1"]):
                job = jobs.get(j)
                if job and job["end"] is not None:
                    a, b = max(job["start"], r["start_epoch"]), min(job["end"], r["end_epoch"])
                    if b > a:
                        ivs.append((a, b))
            gap += max(0.0, r["wall"] - tracing.union_length(ivs))
        m["driver.gap_s"] = gap
        m["exec.run_s"] = agg["run_s"]
        m["exec.cpu_s"] = agg["cpu_s"]
        m["exec.gc_s"] = agg["gc_s"]
        m["exec.slot_util"] = agg["run_s"] / (pa["wall"] * cores)
        m["shuffle.write_bytes"] = agg["shuffle_write_bytes"]
        m["shuffle.read_bytes"] = agg["shuffle_read_bytes"]
        m["shuffle.fetch_wait_s"] = agg["fetch_wait_s"]
        m["scan.input_bytes"] = agg["input_bytes"]
        m["scan.input_rows"] = agg["input_rows"]
        m["spill.bytes"] = agg["spill_bytes"]
        m["sink.output_bytes"] = agg["output_bytes"]
        m["sink.output_rows"] = agg["output_rows"]
        m["driver.result_bytes"] = agg["result_bytes"]

        cat = top("catalog.", idx)
        m["catalog.load_calls"] = sum(1 for s in spans if s["name"] == "catalog.load"
                                      and s["query"] is not None
                                      and by_id[s["query"]].get("pass_idx") == idx)
        m["catalog.widen_calls"] = sum(1 for s in cat if s["name"] != "catalog.load")
        m["catalog.s"] = total(cat)
        m["cache.frames"] = sum(r.get("cache_frames", 0) for r in recs)
        m["cache.mem_bytes"] = sum(r.get("cache_mem_bytes", 0) for r in recs)
        m["cache.release_s"] = total(top("cache.release", idx))

        fits = top("ml.pca.fit", idx)
        m["ml.pca.fit_s"] = total(fits)
        m["ml.pca.transform_s"] = total(top("ml.pca.transform", idx))
        m["ml.pca.fit_jobs"] = sum(
            1 for j in job_ids
            if any(epoch(s["start"]) <= jobs[j]["start"] <= epoch(s["end"]) for s in fits)
        )
        rows = sum(s.get("rows") or 0 for s in fits)
        m["ml.pca.fit_rows_per_s"] = rows / m["ml.pca.fit_s"] if m["ml.pca.fit_s"] else 0.0
        m["ml.pca.covariance_s"] = sum(r["pca_covariance_s"] for r in recs)
        m["ml.pca.covariance_share"] = (
            m["ml.pca.covariance_s"] / m["ml.pca.fit_s"] if m["ml.pca.fit_s"] else 0.0
        )
        m["ml.pca.fit_spr_s"] = fit_spr_s
        kfits = top("ml.kmeans.fit", idx)
        m["ml.kmeans.fit_s"] = total(kfits)
        m["ml.kmeans.fit_calls"] = len(kfits)
        m["ml.kmeans.transform_s"] = total(top("ml.kmeans.transform", idx))

        m.update(stream_metrics(recs, progress))
        selfs: dict[str, float] = {}
        for r in recs:
            for layer, v in tracing.self_times(spans, by_id[r["span"]]).items():
                selfs[layer] = selfs.get(layer, 0.0) + v
        for layer in SELF_LAYERS:
            m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
        per_pass.append(m)

    out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["session.start_s"] = session_s
    out["warmup.pass_s"] = warm_s
    traced = [p["wall"] for p in passes if p["traced"]]
    plain = [p["wall"] for p in passes if not p["traced"]]
    out["trace.overhead"] = statistics.median(traced) / statistics.median(plain)
    return out


def stream_metrics(recs: list[dict], progress: list[dict]) -> dict:
    """Micro-batch progress charged to the query that was running (the
    latest query started before the progress event was received)."""
    starts = sorted((r["start_epoch"], i) for i, r in enumerate(recs))
    per_q: dict[int, list[dict]] = {}
    for ev in progress:
        owner = None
        for s, i in starts:
            if s <= ev["received"]:
                owner = i
        if owner is not None and ev["received"] <= recs[owner]["end_epoch"] + 0.5:
            per_q.setdefault(owner, []).append(ev)
    evs = [e for es in per_q.values() for e in es]

    def dur(e, k):
        return e["duration_ms"].get(k, 0) / 1000.0

    trig = sum(dur(e, "triggerExecution") for e in evs)
    walls = sum(recs[i]["wall"] for i in per_q)
    rows = sum(e["rows"] for e in evs)
    return {
        "stream.batches": len(evs),
        "stream.input_rows": rows,
        "stream.rows_per_s": rows / walls if walls else 0.0,
        "stream.trigger_s": trig,
        "stream.add_batch_s": sum(dur(e, "addBatch") for e in evs),
        "stream.commit_s": sum(dur(e, "walCommit") + dur(e, "commitOffsets") for e in evs),
        "stream.outside_trigger_s": max(0.0, walls - trig),
        "stream.state_rows": sum(max(e["state_rows"] for e in es) for es in per_q.values()),
        "stream.state_mem_bytes": sum(max(e["state_mem"] for e in es) for es in per_q.values()),
        "stream.state_commit_s": sum(e["state_commit_ms"] for e in evs) / 1000.0,
    }


if __name__ == "__main__":
    main()
