"""Per-query Spark JOB profile: run each named query exactly the way
bench.py times it (fn() + consume-every-column hash aggregate) inside
a session with the event log enabled, then parse the event log into
the per-job wall clock — job description, submit->end seconds, number
of stages/tasks. A query whose time is spread over many sub-100ms
jobs is DRIVER-ROUND-TRIP bound (iterative fit loops, count()s,
collect()s), not data bound; one dominated by a single long job needs
operator work instead (guide §1: decide WHERE the time goes before
changing anything).

Usage: SPARK_GRAFT_SF_DIR=... python tools/job_profile.py name1 name2 ...
Emits one JSON line per query: {"query": ..., "wall": s, "jobs": [
  {"desc": ..., "dur": s, "stages": n, "tasks": n}, ...]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOG_DIR = "/tmp/spark-job-profile-events"


def main() -> None:
    import shutil

    shutil.rmtree(LOG_DIR, ignore_errors=True)
    os.makedirs(LOG_DIR, exist_ok=True)

    from spark_rapids_ml_spark.registry import all_queries
    from spark_rapids_ml_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "jobprofile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{LOG_DIR}",
            # single uncompressed file so the parser below can stream it
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from spark_rapids_ml_spark.operators.dedup import release_caches

    specs = all_queries()
    names = sys.argv[1:]

    # one warm-up execution of every requested query so codegen /
    # python-worker pools are warm (bench.py discards a full pass too)
    marks: dict[str, tuple[float, float]] = {}

    def run_once(name: str) -> float:
        spec = specs[name]
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        hashable = [
            F.to_json(c) if t.typeName() in ("map",) else F.col(c)
            for c, t in ((f.name, f.dataType) for f in df.schema.fields)
        ]
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*hashable).cast("decimal(28,0)")).alias("h"),
        ).collect()
        dt = time.perf_counter() - t0
        release_caches()
        return dt

    for name in names:
        run_once(name)  # warm-up, not recorded
    for name in names:
        t0 = time.time()
        wall = run_once(name)
        marks[name] = (t0, wall)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    # parse the event log
    jobs = []  # (submit_ms, end_ms, desc, n_stages)
    stage_tasks: dict[int, int] = {}
    # Spark 4 defaults to the rolling v2 layout: a directory
    # eventlog_v2_<appid>/ holding events_N_<appid> part files.
    path = os.path.join(LOG_DIR, app_id)
    if not os.path.exists(path):
        path = next(
            (
                os.path.join(LOG_DIR, f)
                for f in os.listdir(LOG_DIR)
                if app_id in f
            ),
            path,
        )
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        parts = [path]

    def _lines():
        for p in parts:
            with open(p) as f:
                yield from f

    starts: dict[int, tuple[float, str, list[int]]] = {}
    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = ev.get("Properties", {}).get("spark.job.description", "") or ""
                sids = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
                for s in ev.get("Stage Infos", []):
                    stage_tasks[s["Stage ID"]] = s.get("Number of Tasks", 0)
                starts[jid] = (ev["Submission Time"], desc, sids)
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in starts:
                    sub, desc, sids = starts[jid]
                    jobs.append((sub, ev["Completion Time"], desc, sids))

    for name in names:
        t0, wall = marks[name]
        t0_ms = t0 * 1000.0
        t1_ms = t0_ms + wall * 1000.0 + 50
        q_jobs = [
            {
                "desc": desc[:60],
                "dur": round((end - sub) / 1000.0, 3),
                "stages": len(sids),
                "tasks": sum(stage_tasks.get(s, 0) for s in sids),
            }
            for sub, end, desc, sids in jobs
            if sub >= t0_ms - 50 and end <= t1_ms + 2000 and sub < t1_ms
        ]
        gaps = round(wall - sum(j["dur"] for j in q_jobs), 3)
        print(
            json.dumps(
                {
                    "query": name,
                    "wall": round(wall, 3),
                    "n_jobs": len(q_jobs),
                    "driver_gap": gaps,
                    "jobs": q_jobs,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
