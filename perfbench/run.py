"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything else (host context, redirected locations,
a readable summary, Spark's own logging) goes to standard error.

The run holds an exclusive lock on ``.perfbench/lock`` for its whole
duration, builds the generated catalogs into ``.perfbench/data`` on
first use (checked against pinned fingerprints before every run), and
runs the Spark driver (``worker.py``) in its own process group, working
directory, warehouse, ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under
``.perfbench/runs``. Every process of that group is stopped and waited
for before the result is printed.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS, catalog_scales, load_expected, scale_dir  # noqa: E402

RUN_LIMIT_S = 160  # the whole run, group stop included, must end within 180 s
# Driver JVM heap. With 3g the heap grew by a different amount in each
# run (JVM RSS 1.5-1.9 GB, the tree's peak 1.9-2.9 GB over five runs);
# 1g fills in every run, so peak_rss_mb is steady. Passes run 4-7 % slower.
DRIVER_MEM = "1g"


def cpu_canary() -> float:
    """Fixed-work CPU canary (seconds, best of 3): a 2000x2000 float64
    matmul, the same work as ``bench.py``'s canary."""
    import numpy as np

    a = np.random.default_rng(0).random((2000, 2000))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ a).sum()
        best = min(best, time.perf_counter() - t0)
    return best


def host_context() -> dict:
    ctx = {"nproc": os.cpu_count(), "loadavg": os.getloadavg(), "canary_s": cpu_canary()}
    with open("/proc/cpuinfo") as f:
        ctx["cpu_model"] = next(
            (ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), None
        )
    with open("/proc/meminfo") as f:
        ctx["mem_total_kb"] = next(
            (int(ln.split()[1]) for ln in f if ln.startswith("MemTotal")), None
        )
    return ctx


def provision() -> str:
    """Build (first use) and verify the generated catalogs. The build is
    outside every metric."""
    pinned = load_expected()["fingerprints"]
    data = os.path.join(WORK, "data")
    for sf in catalog_scales():
        d = os.path.join(data, scale_dir(sf))
        want = pinned.get(scale_dir(sf))
        if want is None:
            raise SystemExit(f"no pinned fingerprint for {scale_dir(sf)}; run perfbench/pin.py")
        if os.path.isdir(d) and datagen.fingerprint(d) == want:
            continue
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        datagen.write_catalog(d, sf)
        print(f"# built {d} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        if datagen.fingerprint(d) != want:
            raise SystemExit(f"generated {scale_dir(sf)} does not match its pinned fingerprint")
    return data


def group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def stop_group(pgid: int) -> None:
    """Stop every process of the worker's group and wait until all have ended."""
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while group_pids(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        time.sleep(0.2)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def end_to_end(res: dict) -> dict:
    per_query = [statistics.median(walls) for walls in res["query_s"].values()]
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(res["pass_s"]),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_query)),
        "peak_rss_mb": statistics.median(res["peak_rss_bytes"]) / 2**20,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_begin = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "spark_rapids_ml_spark")):
        print("perfbench: the program (spark_rapids_ml_spark/) is not next to perfbench/",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return locked_run(args, t_begin)


def locked_run(args, t_begin: float) -> int:
    ctx_start = host_context()
    print(f"# host at start: {json.dumps(ctx_start)}", file=sys.stderr)
    data = provision()

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    out = os.path.join(run_dir, "result.json")

    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--run-dir", run_dir, "--out", out, "--spans", spans,
    ]
    t_worker = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t_begin)))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        stop_group(proc.pid)
        proc.wait()
    t_worker_end = time.monotonic()
    ctx_end = host_context()
    print(f"# host at end: {json.dumps(ctx_end)}", file=sys.stderr)
    res = None
    if rc == 0 and os.path.exists(out):
        with open(out) as f:
            res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        print(f"perfbench: worker failed ({rc})", file=sys.stderr)
        return 1

    for loc in res["redirected"]:
        print(f"# program location redirected into the run directory: {loc}", file=sys.stderr)
    for name, walls in res["query_s"].items():
        print(f"# query {name}: {[round(v, 3) for v in walls]} s", file=sys.stderr)
    for err in res["errors"]:
        print(f"# FAILED {err}", file=sys.stderr)
    if args.trace:
        layers = res["layers"]
        if set(layers) != set(PER_LAYER):
            print(f"perfbench: layer metrics differ from PER_LAYER: "
                  f"{sorted(set(layers) ^ set(PER_LAYER))}", file=sys.stderr)
            return 1
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        print(f"# spans: {spans}", file=sys.stderr)
    else:
        e2e = end_to_end(res)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    attempted, failed = res["attempted"], res["failed"]
    print(f"# error_rate {failed}/{attempted} = {failed / attempted:.4f}", file=sys.stderr)
    print(f"# set-up {res['setup_s']:.3f} s, "
          f"timed passes {[round(v, 3) for v in res['pass_s']]} s, "
          f"worker phases {res['phases']}, worker process {t_worker_end - t_worker:.1f} s "
          f"of {time.monotonic() - t_begin:.1f} s", file=sys.stderr)
    for k, v in metrics.items():
        print(f"#   {k:28s} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
