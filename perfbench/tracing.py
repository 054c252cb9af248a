"""Spans and counters for the traced run.

Everything here wraps the program from outside: module functions and
class methods are replaced by timing wrappers, Spark's own event log
supplies executor metrics, and a ``StreamingQueryListener`` supplies
micro-batch progress. Nothing in ``spark_rapids_ml_spark`` is edited.

``Tracer.install()`` must run before the registry imports the operator
modules, because those modules bind ``catalog.load`` and the cache
helpers by name at import time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time

# (module, attribute, span name): wrapped before the operator modules load
FUNCTIONS = (
    ("spark_rapids_ml_spark.sources.catalog", "load", "catalog.load"),
    ("spark_rapids_ml_spark.sources.catalog", "load_wide", "catalog.load_wide"),
    ("spark_rapids_ml_spark.sources.catalog", "widen_frame", "catalog.widen_frame"),
    ("spark_rapids_ml_spark.operators.dedup", "release_caches", "cache.release"),
)
# (module, class, method, span name)
METHODS = (
    ("spark_rapids_ml_spark.ml.pca", "PCA", "fit", "ml.pca.fit"),
    ("spark_rapids_ml_spark.ml.pca", "PCAModel", "transform", "ml.pca.transform"),
    ("spark_rapids_ml_spark.ml.kmeans", "KMeans", "fit", "ml.kmeans.fit"),
    ("spark_rapids_ml_spark.ml.kmeans", "KMeansModel", "transform", "ml.kmeans.transform"),
)


def layer_of(name: str) -> str:
    """Span name -> layer: ``catalog.load`` -> ``catalog``,
    ``ml.pca.fit`` -> ``ml.pca``, ``query.build`` -> ``query.build``."""
    if name.startswith("ml."):
        return name.rsplit(".", 1)[0]
    if name.startswith("query"):
        return name
    return name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. Spans: name, start, end (seconds since
    the tracer was made), parent span id and query id. A span opened on
    a thread with no open span of its own (a query's thread pool) takes
    the current query span as its parent."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()
        self.enabled = True
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._query: dict | None = None

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._query
        with self._lock:
            sp = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "query": parent["query"] if parent else None,
                "start": self.now(),
                "end": None,
                **attrs,
            }
            self.spans.append(sp)
        if name == "query":
            sp["query"] = sp["id"]
            self._query = sp
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = self.now()
            if name == "query":
                self._query = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if sp is not None and getattr(result, "n_rows", None) is not None:
                    sp["rows"] = int(result.n_rows)  # PCAModel: training rows
                return result

        return wrapper

    def install(self) -> None:
        """Replace the traced functions and methods for this process."""
        for mod, attr, name in FUNCTIONS:
            m = importlib.import_module(mod)
            setattr(m, attr, self._wrap(getattr(m, attr), name))
        for mod, cls, meth, name in METHODS:
            c = getattr(importlib.import_module(mod), cls)
            setattr(c, meth, self._wrap(c.__dict__[meth], name))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"epoch0": self.epoch0, "spans": self.spans, **extra}, f)


def self_times(spans: list[dict], root: dict) -> dict[str, float]:
    """Self time per layer inside ``root``'s interval: every instant is
    charged to the deepest span open at that instant (the latest-started
    one among equals), so the values are >= 0 and sum to root's wall."""
    by_id = {s["id"]: s for s in spans}

    def depth(s: dict) -> int:
        d = 0
        while s["parent"] is not None and s["id"] != root["id"]:
            s = by_id[s["parent"]]
            d += 1
        return d

    inside = [
        s
        for s in spans
        if s["query"] == root["query"] and s["end"] is not None
        and root["start"] <= s["start"] and s["end"] <= root["end"]
    ]
    cuts = sorted({root["start"], root["end"], *(s["start"] for s in inside), *(s["end"] for s in inside)})
    keyed = [((depth(s), s["start"]), s) for s in inside]
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [(k, s) for k, s in keyed if s["start"] <= a and b <= s["end"]]
        owner = max(live, key=lambda ks: ks[0])[1] if live else root
        layer = layer_of(owner["name"])
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


class StreamListener:
    """Collects ``StreamingQueryProgress`` records (epoch-stamped)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append(
                    {
                        "received": time.time(),
                        "rows": int(p.numInputRows),
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                        "state_mem": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
                        "state_commit_ms": sum(int(s.commitTimeMs) for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def read_event_log(path: str) -> dict:
    """Per job: stage ids and submit/complete epoch seconds; per stage
    that ran tasks: summed task metrics and its first task's launch
    epoch. From one uncompressed Spark JSON event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "stages": list(ev["Stage IDs"]),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _empty_stage())
                launch = ev["Task Info"]["Launch Time"] / 1000.0
                st["first_launch"] = min(st.get("first_launch", launch), launch)
                st["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["result_bytes"] += m.get("Result Size", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                st["input_bytes"] += im.get("Bytes Read", 0)
                st["input_rows"] += im.get("Records Read", 0)
                om = m.get("Output Metrics") or {}
                st["output_bytes"] += om.get("Bytes Written", 0)
                st["output_rows"] += om.get("Records Written", 0)
    return {"jobs": jobs, "stages": stages}


def _empty_stage() -> dict:
    return {
        k: 0
        for k in (
            "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "result_bytes",
            "spill_bytes", "shuffle_read_bytes", "fetch_wait_s", "shuffle_write_bytes",
            "input_bytes", "input_rows", "output_bytes", "output_rows",
        )
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
