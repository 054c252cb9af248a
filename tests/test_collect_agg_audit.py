"""CI guard: every collection aggregate (`collect_list` /
`collect_set` / `array_agg`) in engine code must be on the audited
bounded-group allowlist — the fourth 100 TB hazard class, closing the
set opened by tests/test_driver_hops.py (driver materializations),
tests/test_window_audit.py (unpartitioned windows), and
tests/test_crossjoin_audit.py (non-broadcast cross joins).

A collection aggregate materializes its ENTIRE group as one array in
one aggregation buffer. When the group size scales with the corpus (a
per-user event list, a per-key posting list), that buffer grows
unboundedly with the data — the classic executor-OOM shape that
count/sum-style partial aggregation never hits, and it also defeats
map-side combine (the partial state IS the whole group). Every
allowed site below bounds its group by a FIXED window frame, a value
DOMAIN, or a single-document length — never by fact-table volume.
Adding a new collect_list/collect_set/array_agg requires an entry
here WITH its boundedness invariant.

Detection is AST-based and covers BOTH spellings: (a) attribute/name
calls (`F.collect_list(...)`), and (b) the SQL form inside any string
literal (`F.expr("array_sort(collect_list(...))")`, selectExpr,
spark.sql) — matched at an identifier boundary so prose like
"collect_list order is partition-dependent" in a docstring never
false-positives (docstrings are excluded by requiring the `(`).
Allowlist markers are matched at identifier boundaries, not by bare
substring containment, so a new violating site whose text happens to
contain a marker as a substring cannot ride an existing exemption.
"""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_rapids_ml_spark",
)

_AGG_NAMES = ("collect_list", "collect_set", "array_agg")
_SQL_AGG_RE = re.compile(r"(?<![A-Za-z0-9_])(collect_list|collect_set|array_agg)\s*\(")

# file -> {marker: matched at an identifier boundary against the
# flattened source segment}: one entry per allowed collection
# aggregate, each with the boundedness invariant it relies on.
ALLOWED = {
    "operators/timeseries.py": {
        'F.collect_list("value").over(w)',  # rolling median: w is a FIXED rowsBetween(-MEDIAN_FRAME, MEDIAN_FRAME) frame — 2*MEDIAN_FRAME+1 rows per buffer regardless of corpus size
        'F.collect_list("iv").over(wf)',  # integer EWMA: wf is a FIXED rowsBetween(-(EWMA_FRAME-1), 0) frame — EWMA_FRAME rows per buffer
        "array_sort(collect_list(struct(dur, n_risk",  # Kaplan-Meier packed steps: grouped over DISTINCT day-resolution lifetimes — O(time-range/day) value domain (~2.5k rows/7 years), not corpus rows
        "array_sort(collect_list(dur))",  # same 1-row global agg over the distinct-duration domain as above
    },
    "operators/aggregates.py": {
        'F.collect_set("c_mktsegment")',  # value DOMAIN: distinct c_mktsegment = 5 market segments at every scale
    },
    "operators/textstats.py": {
        'F.collect_list(F.struct("pos", "tok"))',  # RAKE phrase runs: group is (doc_id, run) — bounded by a SINGLE document's token count, never cross-document
    },
    "operators/similarity.py": {
        'F.collect_list( F.when(F.col("vec_id") < cap',  # _corpus_head: when() emits NULL for non-head rows and collect_list skips NULLs — buffer bounded at cap (<= 36) rows regardless of corpus size
    },
}


from tests.audit_util import marker_matches as _marker_matches  # noqa: E402


def _collect_agg_sites(tree: ast.AST, src: str):
    """Yield (lineno, flattened_segment) for every collection-aggregate
    use: direct calls AND SQL spellings inside string literals."""
    seen: set[tuple[int, str]] = set()
    lines = src.splitlines()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = (
                fn.attr
                if isinstance(fn, ast.Attribute)
                else fn.id
                if isinstance(fn, ast.Name)
                else None
            )
            if name in _AGG_NAMES:
                # full source LINES the call spans (not just the inner
                # call segment), so a chained `.over(w)` frame on the
                # same line is visible to the allowlist marker
                span = lines[node.lineno - 1 : (node.end_lineno or node.lineno)]
                seg = " ".join(" ".join(span).split())
                seen.add((node.lineno, seg))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _SQL_AGG_RE.search(node.value):
                seg = " ".join(node.value.split())
                seen.add((node.lineno, seg))
    yield from sorted(seen)


def test_no_unaudited_collection_aggregates():
    violations = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as f:
                src = f.read()
            allowed = ALLOWED.get(rel, set())
            for lineno, flat in _collect_agg_sites(ast.parse(src), src):
                if any(_marker_matches(m, flat) for m in allowed):
                    continue
                violations.append(f"{rel}:{lineno}: {flat[:140]}")
    assert not violations, (
        "unaudited collection-aggregate site(s) — collect_list/"
        "collect_set/array_agg buffers its WHOLE group in one "
        "aggregation buffer; bound the group by a fixed frame, a value "
        "domain, or a per-document scope, then add the site to "
        "tests/test_collect_agg_audit.py ALLOWED with the boundedness "
        "argument:\n" + "\n".join(violations)
    )


def test_allowlist_entries_still_exist():
    stale = []
    for rel, markers in ALLOWED.items():
        path = os.path.join(PKG, rel)
        with open(path) as f:
            flat_src = " ".join(f.read().split())
        for m in markers:
            if not _marker_matches(m, flat_src):
                stale.append(f"{rel}: {m!r}")
    assert not stale, (
        "stale test_collect_agg_audit.py ALLOWED entries:\n" + "\n".join(stale)
    )


# ------------------------------------------------- detector self-tests


def test_detects_direct_call_form():
    src = 'x = df.groupBy("k").agg(F.collect_list("v").alias("vs"))\n'
    sites = list(_collect_agg_sites(ast.parse(src), src))
    assert len(sites) == 1 and "collect_list" in sites[0][1]


def test_detects_sql_string_form():
    src = 'x = df.select(F.expr("array_sort(collect_set(v))"))\n'
    sites = list(_collect_agg_sites(ast.parse(src), src))
    assert any("collect_set" in s for _, s in sites)


def test_prose_mention_does_not_trip():
    src = '"""raw collect_list order is partition-dependent."""\n'
    assert not list(_collect_agg_sites(ast.parse(src), src))


def test_marker_requires_identifier_boundary():
    # 'giant.crossJoin(nc)'-style substring rides must not exempt
    assert not _marker_matches("nt.f(nc)", "x = giant.f(nc)")
    assert _marker_matches("nt.f(nc)", "x = nt.f(nc)")
