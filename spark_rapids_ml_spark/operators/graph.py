"""Iterative graph analytics on DataFrames: PageRank over the
customer-supplier bipartite graph implied by orders x lineitem.

Companion to the connected-components operator in dedup.py: together
they cover the two canonical message-passing shapes (label min /
weighted contribution sum). The rank state is FIXED-POINT INTEGER
(nano-units), not float: a parallel float reduction's result depends
on combine order, so a float PageRank is not even self-deterministic
across partitionings, let alone cross-engine. Integer contributions
(`rank div degree`) and integer damping make every iteration bit-exact
on any topology AND identical in the DuckDB oracle, which unrolls the
same five iterations as SQL CTEs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.query_run import cache, checkpoint, release
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.sources.catalog import load

_ITERS = 5
_ONE = 1_000_000_000  # 1.0 rank in nano-units
_TELEPORT = 150_000_000  # 0.15
_DAMP_NUM, _DAMP_DEN = 850, 1000  # 0.85 as a ratio
_SUPPLIER_BASE = 1_000_000  # node-id offset for the supplier side


def _pagerank_oracle() -> str:
    its = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        its.append(
            f"""it{i} AS (
  SELECT ed.dst AS id,
         -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT; bring the rank
         -- back to BIGINT so the output schema matches Spark's
         CAST({_TELEPORT} + ({_DAMP_NUM} * SUM({prev}.r // ed.d)) // {_DAMP_DEN} AS BIGINT) AS r
  FROM ed JOIN {prev} ON {prev}.id = ed.src
  GROUP BY ed.dst
)"""
        )
        prev = f"it{i}"
    chain = ",\n".join(its)
    return f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey AS src, {_SUPPLIER_BASE} + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_orderkey <= 6000
),
sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
ed AS (SELECT s.src, s.dst, deg.d FROM sym s JOIN deg ON deg.src = s.src),
r0 AS (SELECT src AS id, CAST({_ONE} AS BIGINT) AS r FROM deg),
{chain}
SELECT id, r AS rank_nano FROM it{_ITERS}
ORDER BY rank_nano DESC, id
LIMIT 20
"""


@register(
    "graph_pagerank_bipartite",
    tags=("graph", "scale"),
    bench=True,  # round 10: a graph-iteration headline row beyond k-core
    oracle=_pagerank_oracle(),
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five fixed PageRank iterations (damping 0.85, teleport per
    node) on the symmetric customer-supplier graph; top-20 nodes by
    final rank, in exact nano-unit integers.

    Scale: each iteration is ONE shuffle — messages equi-join ranks on
    src (rank state is deg-sized, AQE broadcasts it when small) and
    aggregate on dst with map-side partial sums. The edge list with
    degrees is reused across iterations (at 100 TB: cache/checkpoint
    it and checkpoint ranks every few iterations to cut lineage — the
    same discipline as dedup.py's label propagation, which shares this
    message-passing shape). O(iterations) jobs, O(E) work each,
    bounded state; the fixed-point arithmetic makes the result
    independent of partition count and combine order (asserted in
    tests/test_graph.py by re-running under a different
    parallelism).
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 6000)
        .select("l_orderkey", "l_suppkey")
    )
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(_SUPPLIER_BASE) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    sym = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed = sym.join(deg, "src")
    ranks = deg.select(F.col("src").alias("id"), F.lit(_ONE).cast("bigint").alias("r"))
    for _ in range(_ITERS):
        msgs = ed.join(ranks, ed.src == ranks.id).select(
            "dst", F.expr("r div d").alias("c")
        )
        ranks = msgs.groupBy(F.col("dst").alias("id")).agg(
            (
                F.lit(_TELEPORT)
                + F.expr(f"({_DAMP_NUM} * sum(c)) div {_DAMP_DEN}")
            ).alias("r")
        )
    return (
        ranks.select("id", F.col("r").alias("rank_nano"))
        .orderBy(F.col("rank_nano").desc(), "id")
        .limit(20)
    )


CO_SUPPORT_THRESH = 10_000_000  # lineitem rows above which edges need 2 co-purchases
# De-noised co-purchase graph shared by label propagation and link
# prediction: support >= GRAPH_MIN_SUP at every scale. LPA additionally
# bumps to GRAPH_MIN_SUP + 1 above CO_SUPPORT_THRESH; link prediction
# deliberately does NOT (see its block comment — the support-3 graph
# leaves zero wedge-connected non-edges). Triangle count keeps its own
# support-1 history below the threshold — its oriented join tolerates
# the dense graph.
GRAPH_MIN_SUP = 2


@register(
    "graph_triangle_count",
    tags=("graph", "scale"),
    oracle=f"""
WITH sup AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM lineitem) > {CO_SUPPORT_THRESH}
              THEN 2 ELSE 1 END AS min_sup
),
-- MATERIALIZED: e is consumed five times (deg, tri x3, count); inlined,
-- DuckDB would run the ~90M-group co-occurrence aggregation for each
-- consumer concurrently and exhaust its memory budget at sf10
e AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_co
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
  ) WHERE n_co >= (SELECT min_sup FROM sup)
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
wed AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       wed.n_wedges,
       tri.n_triangles,
       ROUND(3.0 * tri.n_triangles / wed.n_wedges, 6) AS clustering_coeff
FROM tri, wed
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the part
    co-purchase graph (parts are adjacent when some order contains
    both). Edges are ORIENTED by key (a < b), so each triangle is
    enumerated exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c) — the standard
    orientation trick that also bounds the join fan-out by the
    out-degree of the smaller endpoint. Wedges come from the degree
    distribution (Σ d(d-1)/2), giving coeff = 3·triangles/wedges.

    Scale: edge construction is a self-join on l_orderkey (bounded by
    per-order line counts) + a co-occurrence count. The wedge join's
    cost is the graph's wedge count — and a co-purchase graph left
    unthresholded goes DENSE as the corpus grows (every popular part
    pair eventually shares some order), so above CO_SUPPORT_THRESH
    lineitem rows an edge requires >= 2 co-purchases (adaptive
    min-support, mirrored in the oracle via a COUNT(*) subquery;
    results bit-identical to history below the threshold). That keeps
    wedges bounded by genuine correlation, not corpus size. No driver
    state beyond the 1-row result.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # adaptive co-occurrence min-support: at big corpora a single shared
    # order is noise (any two popular parts co-occur somewhere), and the
    # noise edges make the graph DENSE — billions of wedges, a quadratic
    # triangle join (measured: disk-filling shuffle at 60M lineitem
    # rows). Above the threshold an edge needs >= 2 co-purchases, the
    # standard co-occurrence-thresholding practice; below it (all
    # driver-check scales and sf1) support is 1 and results are
    # bit-identical to history. The oracle gates the identical rule
    # with a COUNT(*) scalar subquery.
    min_sup = 2 if li.count() > CO_SUPPORT_THRESH else 1
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= min_sup)
        .select("a", "b")
    )

    # cached, freed when the query scope closes:
    # the edge list feeds four consumers (degree, triangles x3, count)
    e = cache(e)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (
        n_edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )
    return out


_BFS_HOPS = 4
_BFS_SEED_NATION = 0


@register(
    "graph_bfs_shortest_path",
    tags=("graph", "scale"),
    oracle=f"""
WITH RECURSIVE
e AS (
  SELECT DISTINCT {_SUPPLIER_BASE} + l_suppkey AS src, l_partkey AS dst FROM lineitem
  UNION
  SELECT DISTINCT l_partkey AS src, {_SUPPLIER_BASE} + l_suppkey AS dst FROM lineitem
),
walk(node, dist) AS (
  SELECT {_SUPPLIER_BASE} + s_suppkey, 0 FROM supplier WHERE s_nationkey = {_BFS_SEED_NATION}
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < {_BFS_HOPS}
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(dist) AS BIGINT) AS dist
FROM walk GROUP BY node ORDER BY node
""",
)
def graph_bfs_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS / shortest hop distance (unweighted
    single-source-set shortest path): distance from the seed set
    (suppliers of one nation) to every node of the supplier-part
    bipartite graph within {_BFS_HOPS} hops — the frontier-expansion
    primitive under friends-of-friends, blast-radius, and lineage
    queries. Level-synchronous: each hop joins the CURRENT frontier
    to the edge list, anti-joins already-visited nodes (so a node
    keeps its minimal distance), and the new nodes become the next
    frontier — Pregel's superstep expressed as two DataFrame joins.

    Scale: O(hops) jobs, each ONE equi-join frontier⋈edges (shuffle on
    node id; AQE broadcasts small frontiers) plus an anti-join against
    the visited set — per-superstep cost proportional to touched
    edges, exactly GraphX/Pregel's model; visited/frontier are
    bounded by |V|. The hop cap bounds work on high-diameter graphs
    (cf. dedup.py's label propagation for the run-to-convergence
    variant).

    Lineage: each level's visited set is cut with an eager
    localCheckpoint and the NEXT frontier is re-derived from the
    checkpointed frame (dist == d), so every superstep analyzes a
    constant-size plan — a LogicalRDD ∪ one join — instead of one that
    embeds all prior levels (measured 13.7 s build / 0.27 s exec at
    sf0.01 before the cut, 6.5 s after, hash-identical). Live storage
    is one level: the README's loop rule (Query scope).
    """
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    sp = li.select(
        (F.lit(_SUPPLIER_BASE) + F.col("l_suppkey")).alias("src"),
        F.col("l_partkey").alias("dst"),
    ).distinct()
    edges = cache(
        sp.unionByName(sp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    seeds = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == _BFS_SEED_NATION)
        .select((F.lit(_SUPPLIER_BASE) + F.col("s_suppkey")).alias("node"))
        .distinct()
    )
    visited = checkpoint(seeds.withColumn("dist", F.lit(0)).localCheckpoint(eager=True))
    frontier = visited.select("node")
    for d in range(1, _BFS_HOPS + 1):
        step = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = step.join(visited.select("node"), "node", "left_anti").withColumn(
            "dist", F.lit(d)
        )
        prev = visited
        visited = checkpoint(visited.unionByName(new).localCheckpoint(eager=True))
        release(prev)
        # re-derive the frontier FROM the checkpoint (not from `new`)
        # so the next superstep's plan starts at a LogicalRDD
        frontier = visited.where(F.col("dist") == d).select("node")
    out = visited.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    ).orderBy("node")
    # the scope frees the result's checkpoint after the caller
    # materializes it
    out = checkpoint(out.localCheckpoint(eager=True))
    release(visited)
    release(edges)
    return out


_KCORE_ROUNDS = 4  # bounded level-synchronous peel rounds
_KCORE_KEY_CAP = 30000  # bounded order slice for the co-purchase graph


def _kcore_oracle() -> str:
    """Unrolled peel rounds as materialized CTEs (the bounded-iteration
    unroll convention of the kmeans Lloyd oracle); k is the adaptive
    mean-degree+1 threshold computed with exact integer division."""
    ctes = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey <= {_KCORE_KEY_CAP} AND b.l_orderkey <= {_KCORE_KEY_CAP}
)""",
        # NULLIF/COALESCE: an empty edge slice has a zero node count;
        # the impl's vr==0 branch emits k=1, so the oracle must degrade
        # identically instead of erroring on division by zero
        """kv AS MATERIALIZED (
  SELECT COALESCE((2 * (SELECT COUNT(*) FROM e0))
         // NULLIF((SELECT COUNT(*) FROM (SELECT a AS node FROM e0 UNION SELECT b FROM e0)), 0), 0) + 1 AS k
)""",
    ]
    rows = [
        "SELECT 0 AS round, (SELECT k FROM kv) AS k,"
        " (SELECT COUNT(*) FROM (SELECT a AS node FROM e0 UNION SELECT b FROM e0)) AS n_nodes,"
        " (SELECT COUNT(*) FROM e0) AS n_edges"
    ]
    for r in range(_KCORE_ROUNDS):
        ctes.append(
            f"""k{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, COUNT(*) AS d FROM (
      SELECT a AS node FROM e{r} UNION ALL SELECT b AS node FROM e{r}
    ) GROUP BY node
  ) WHERE d >= (SELECT k FROM kv)
)"""
        )
        ctes.append(
            f"""e{r + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r} e
  JOIN k{r} ka ON e.a = ka.node
  JOIN k{r} kb ON e.b = kb.node
)"""
        )
        rows.append(
            f"SELECT {r + 1} AS round, (SELECT k FROM kv) AS k,"
            f" (SELECT COUNT(*) FROM (SELECT a AS node FROM e{r + 1} UNION SELECT b FROM e{r + 1})) AS n_nodes,"
            f" (SELECT COUNT(*) FROM e{r + 1}) AS n_edges"
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH {','.join(ctes)}
SELECT CAST(round AS BIGINT) AS round, CAST(k AS BIGINT) AS k,
       CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
FROM ({union}) ORDER BY round
"""


def _kcore_peel(a: np.ndarray, b: np.ndarray, rounds: int) -> list[tuple[int, int, int, int]]:
    """The k-core peel trajectory of the distinct undirected edges
    ``(a[i], b[i])``: one ``(round, k, n_nodes, n_edges)`` row per round
    0..``rounds``. k = mean degree + 1 is fixed at round 0 with the
    oracle's exact integer arithmetic (k = 1 for an empty slice); an
    edge survives a round when both its endpoints have degree >= k."""
    k = None
    traj = []
    for r in range(rounds + 1):
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        vr, er = len(nodes), len(a)
        if k is None:
            k = (2 * er) // vr + 1 if vr else 1
        traj.append((r, k, vr, er))
        if r == rounds:
            break
        ok = np.bincount(inv, minlength=vr) >= k
        keep = ok[inv[:er]] & ok[inv[er:]]
        a, b = a[keep], b[keep]
    return traj


@register("graph_kcore_peeling", bench=True, tags=("graph", "scale"), oracle=_kcore_oracle())
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive k-core peeling profile: starting from the part
    co-purchase graph, repeatedly drop every node with degree < k
    (k = mean degree + 1, exact integer arithmetic so both engines
    agree on the threshold) and report the (nodes, edges) trajectory
    per round — the standard core-decomposition / dense-region
    diagnostic (and the degeneracy-ordering building block). The
    trajectory is the declared output because a near-regular graph's
    above-mean core is all-or-nothing: HOW FAST the graph collapses
    under peeling is the informative, scale-stable statistic, where a
    surviving-node list degenerates to all-or-empty.

    Scale: the co-purchase graph is built from the orders with key
    <= ``_KCORE_KEY_CAP`` only, so its edge slice is bounded by a
    constant of the query at every SF: at most 30000 orders x C(7,2)
    pairs = 630k distinct (a, b) pairs, two int64 columns, ~10 MB
    (242k pairs at sf0.1). Spark builds the distinct slice (one
    self-join + distinct) and it crosses to the driver in ONE
    ``toArrow`` hop; the peel rounds run in numpy (``_kcore_peel``).
    No Spark loop remains, and none is needed: on a slice this size a
    Spark job per round is scheduling overhead, not data work.
    """
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= _KCORE_KEY_CAP)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .distinct()
        .toArrow()  # bounded: the key-capped edge slice, <= 630k pairs at any SF
    )
    traj = _kcore_peel(
        edges.column("a").to_numpy(), edges.column("b").to_numpy(), _KCORE_ROUNDS
    )
    return local_df(
        spark, traj, "round bigint, k bigint, n_nodes bigint, n_edges bigint"
    ).orderBy("round")


# --------------------------------------------- link prediction

# Link prediction runs on the SAME de-noised graph as label
# propagation (support >= 2 at every scale, 3 above CO_SUPPORT_THRESH):
# with single-support edges the graph goes dense in the multi-million-
# row sub-threshold regime and the UNDIRECTED wedge join explodes
# (measured: 305 s at sf1 vs 7 s for LPA on the de-noised graph — the
# support floor, not the wedge join, is the scale lever). Support
# stays 2 at EVERY scale for this operator: the support-2 sf10 graph
# has only 217k wedge pairs (the wedge join is trivial there), while
# LPA's +1 bump would leave zero wedge-connected non-edges at all.
# On the de-noised graph every wedge-connected non-edge is a candidate
# (floor 1): a count-based floor is density-dependent and empties
# non-monotonically with corpus size (measured: >= 2 yields 100
# candidates at sf0.01 but ZERO at sf1 and sf10), while the Jaccard
# ranking already weighs the shared-neighbor evidence.
LP_MIN_COMMON = 1
LP_TOP_K = 25


@register(
    "graph_link_prediction_jaccard",
    tags=("graph",),
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {GRAPH_MIN_SUP}
),
sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
cn AS (
  SELECT n1.src AS a, n2.src AS b, COUNT(*) AS n_common
  FROM sym n1 JOIN sym n2 ON n1.dst = n2.dst AND n1.src < n2.src
  GROUP BY 1, 2
),
cand AS (
  SELECT c.a, c.b, c.n_common, da.d AS deg_a, db.d AS deg_b,
         CAST(c.n_common AS DOUBLE) / (da.d + db.d - c.n_common) AS jac
  FROM cn c
  JOIN deg da ON c.a = da.src
  JOIN deg db ON c.b = db.src
  LEFT JOIN e ON c.a = e.a AND c.b = e.b
  WHERE e.a IS NULL AND c.n_common >= {LP_MIN_COMMON}
)
SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
       CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b,
       ROUND(jac, 6) AS jaccard
FROM cand ORDER BY jac DESC, a, b LIMIT {LP_TOP_K}
""",
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    2003): for part pairs NOT currently co-purchased, score how much
    their co-purchase neighborhoods overlap — the top candidates are
    the "customers also bought together" suggestions. The anti-join on
    the existing edge set is what makes it a *prediction*: every
    reported pair is a wedge-connected non-edge.

    Scale: identical shapes to graph_triangle_count — edge build is an
    equi-join on l_orderkey on the FIXED support-2 de-noised graph
    (sparse at every measured scale: 217k wedge pairs at sf10; the
    LPA-style +1 bump would empty the candidate set), the candidate generator
    is the wedge join on the shared-neighbor key, and the existing-edge
    exclusion is a left-anti hash join. Jaccard is one exact-integer
    IEEE division, so the ranking is bit-stable cross-engine.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = cache(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= GRAPH_MIN_SUP)
        .select("a", "b")
    )
    sym = cache(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n1, n2 = sym.alias("n1"), sym.alias("n2")
    cn = (
        n1.join(
            n2,
            (F.col("n1.dst") == F.col("n2.dst"))
            & (F.col("n1.src") < F.col("n2.src")),
        )
        .groupBy(F.col("n1.src").alias("a"), F.col("n2.src").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= LP_MIN_COMMON)
    )
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("d").alias("deg_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    )
    return (
        cn.join(e, ["a", "b"], "left_anti")
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            jac.alias("jac"),
        )
        .orderBy(F.col("jac").desc(), "a", "b")
        .limit(LP_TOP_K)
        .select(
            "a", "b", "n_common", "deg_a", "deg_b", F.round("jac", 6).alias("jaccard")
        )
    )


# --------------------------------------------- label propagation (LPA)

LPA_ROUNDS = 4  # fixed synchronous supersteps (unrolled in the oracle)
LPA_MIN_SUP = GRAPH_MIN_SUP  # co-purchase support floor (+1 above CO_SUPPORT_THRESH)


def _lpa_cte_chain() -> str:
    """The unrolled LPA trajectory as a joined CTE string (edge build,
    support floor, symmetric edges, LPA_ROUNDS label supersteps) —
    shared by the community-size oracle and the modularity oracle."""
    ctes = [
        f"""sup AS (SELECT CASE WHEN (SELECT COUNT(*) FROM lineitem) > {CO_SUPPORT_THRESH}
                    THEN {LPA_MIN_SUP + 1} ELSE {LPA_MIN_SUP} END AS ms)""",
        """e AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT ms FROM sup)
)""",
        "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e)",
        "lbl0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM sym)",
    ]
    for i in range(1, LPA_ROUNDS + 1):
        ctes.append(
            f"cnt{i} AS (SELECT s.src AS v, l.lbl, COUNT(*) AS c"
            f" FROM sym s JOIN lbl{i - 1} l ON s.dst = l.v GROUP BY 1, 2)"
        )
        ctes.append(
            f"lbl{i} AS MATERIALIZED (SELECT v, lbl FROM (SELECT v, lbl,"
            f" ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rk"
            f" FROM cnt{i}) WHERE rk = 1)"
        )
    return ",\n".join(ctes)


def _lpa_oracle() -> str:
    return f"""WITH {_lpa_cte_chain()}
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM lbl{LPA_ROUNDS} GROUP BY lbl
ORDER BY n_members DESC, community LIMIT 25"""


@register("graph_label_propagation", tags=("graph", "scale"), oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the part co-purchase graph: every node starts as
    its own label; each superstep adopts the most frequent label among
    neighbors, ties broken by SMALLEST label — the deterministic
    variant (vanilla LPA's random tie-break isn't reproducible, let
    alone cross-engine). A fixed LPA_ROUNDS (4)-round horizon makes the
    whole trajectory unrollable as oracle CTEs, like pagerank's.
    Output: the 25 largest communities.

    Edges need >= 2 co-purchases at every scale (one shared order is
    noise that fuses everything into 2 giant communities — measured at
    sf0.01), bumped to 3 above CO_SUPPORT_THRESH like the other
    co-purchase operators.

    Scale: per superstep, one |E|-row equi-join (neighbor label fetch)
    + one (v, lbl) groupBy + one per-node argmax window — all keyed
    shuffles, state is one label per node. Each superstep's label
    table is an eager localCheckpoint read back as a LogicalRDD (the
    lineage cut in _lpa_run).
    """
    sym, lbl = _lpa_run(spark, sf_dir)
    out = (
        lbl.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(F.col("lbl").alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), "community")
        .limit(25)
    )
    rows = out.collect()  # bounded: top-25 communities
    release(lbl)
    release(sym)
    return local_df(spark, rows, "community bigint, n_members bigint").orderBy(
        F.col("n_members").desc(), "community"
    )


def _lpa_run(spark: SparkSession, sf_dir: str):
    """Shared LPA trajectory: (symmetric edges, final labels), both
    registered with the query scope — the label table feeding both the
    community-size view and the modularity evaluation. The caller
    releases both once it has materialized its result.

    Lineage: each round's label table is an eager localCheckpoint and
    the next round's join reads the checkpointed LogicalRDD, so every
    superstep analyzes a constant-size plan instead of one embedding
    all prior rounds (the HITS plan-growth lesson; cache+count bounds
    storage but NOT Catalyst re-analysis). Live label storage is one
    round: the README's loop rule (Query scope)."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    min_sup = LPA_MIN_SUP + 1 if li.count() > CO_SUPPORT_THRESH else LPA_MIN_SUP
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= min_sup)
        .select("a", "b")
    )
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    sym = cache(sym.repartition("dst"))  # join key of every superstep
    lbl = checkpoint(
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    wv = Window.partitionBy("v").orderBy(F.col("c").desc(), "lbl")
    for _ in range(LPA_ROUNDS):
        cnt = (
            sym.join(lbl, sym["dst"] == lbl["v"])
            .groupBy(sym["src"].alias("vv"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("vv").alias("v"), "lbl", "c")
        )
        nxt = checkpoint(
            cnt.withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select("v", "lbl")
            .localCheckpoint(eager=True)  # cut: next round reads a LogicalRDD
        )
        release(lbl)
        lbl = nxt
    return sym, lbl


# ---------------------------------------- degree distribution (CCDF)


@register(
    "graph_degree_distribution_ccdf",
    tags=("graph", "scale", "scan"),
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {GRAPH_MIN_SUP}
),
sym AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
hist AS MATERIALIZED (SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY d),
tot AS (SELECT SUM(n_nodes) AS total FROM hist),
c AS (SELECT degree, n_nodes,
             SUM(n_nodes) OVER (ORDER BY degree DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_ge
      FROM hist)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_ge AS BIGINT) AS n_nodes_ge,
       ROUND(CAST(n_ge AS DOUBLE) / (SELECT total FROM tot), 6) AS ccdf
FROM c ORDER BY degree
""",
)
def graph_degree_distribution_ccdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution with complementary CDF over the de-noised
    co-purchase graph — the heavy-tail / power-law diagnostic read
    before sizing anything degree-dependent (wedge joins, LSH caps,
    skew salting): n_nodes_ge(d) = how many nodes have degree >= d,
    and a straight CCDF on log-log axes is the scale-free signature.
    Everything is exact integers plus ONE final division, so the curve
    is bit-stable cross-engine (no ln()-sum FP drift).

    Scale: degrees are one partial-aggregable count over the edge
    list; the histogram groupBy exchanges at most |distinct degrees|
    rows. The CCDF's running sum is the usual single-task window trap
    at web-scale degree ranges, so it rides the distributed scan
    (functions/scan.ranged_cumsum, descending degree order) like every
    other round-8 order statistic — no single-partition exchange in
    the plan.
    """
    from spark_rapids_ml_spark.functions.scan import ranged_cumsum

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = cache(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= GRAPH_MIN_SUP)
        .select("a", "b")
    )
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # cached: the histogram feeds BOTH the total reduction and the scan
    hist = cache(
        deg.groupBy(F.col("d").alias("degree")).agg(
            F.count(F.lit(1)).alias("n_nodes")
        )
    )
    tot = hist.agg(F.sum("n_nodes").alias("total"))
    c = ranged_cumsum(
        hist, "n_nodes", [F.col("degree").desc()], cum_col="n_ge"
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            F.col("degree").cast("bigint").alias("degree"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_ge").cast("bigint").alias("n_nodes_ge"),
            F.round(
                F.col("n_ge").cast("double") / F.col("total").cast("double"), 6
            ).alias("ccdf"),
        )
        .orderBy("degree")
    )


_HITS_ITERS = 4


def _hits_oracle() -> str:
    its = []
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        its.append(
            f"""a{i}raw AS MATERIALIZED (
  SELECT e.dst AS id, CAST(SUM(h.s) AS BIGINT) AS s
  FROM e0 e JOIN {prev_h} h ON h.id = e.src
  GROUP BY e.dst
),
a{i} AS MATERIALIZED (
  -- HUGEINT product: raw sums reach ~n * 1e9, * 1e9 again overflows BIGINT
  SELECT id, CAST(CAST(s AS HUGEINT) * {_ONE} // (SELECT MAX(s) FROM a{i}raw) AS BIGINT) AS s FROM a{i}raw
),
h{i}raw AS MATERIALIZED (
  SELECT e.src AS id, CAST(SUM(a.s) AS BIGINT) AS s
  FROM e0 e JOIN a{i} a ON a.id = e.dst
  GROUP BY e.src
),
h{i} AS MATERIALIZED (
  SELECT id, CAST(CAST(s AS HUGEINT) * {_ONE} // (SELECT MAX(s) FROM h{i}raw) AS BIGINT) AS s FROM h{i}raw
)"""
        )
        prev_h = f"h{i}"
    chain = ",\n".join(its)
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, {_SUPPLIER_BASE} + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_orderkey <= 6000
),
h0 AS (SELECT DISTINCT src AS id, CAST({_ONE} AS BIGINT) AS s FROM e0),
{chain},
tops AS (
  SELECT 'hub' AS side, id, s, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rk
  FROM h{_HITS_ITERS}
  UNION ALL
  SELECT 'authority', id, s, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rk
  FROM a{_HITS_ITERS}
)
SELECT side, CAST(id AS BIGINT) AS id, s AS score_nano, CAST(rk AS BIGINT) AS rk
FROM tops WHERE rk <= 10
ORDER BY side, rk
"""


@register("graph_hits_hubs_authorities", tags=("graph", "scale"), oracle=_hits_oracle())
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the DIRECTED customer→supplier graph:
    {_HITS_ITERS} fixed mutual-reinforcement iterations — authority =
    Σ hub over in-edges, hub = Σ authority over out-edges — with
    max-normalization each half-step so scores stay in nano-unit
    fixed point; top-10 hubs (customers whose orders span the
    strongest suppliers) and authorities (suppliers endorsed by the
    strongest customers). Complements PageRank, which ranks by a
    single stationary flow: HITS separates the two bipartite roles.

    Exactness: the PageRank discipline — all state is BIGINT
    nano-units, contributions sum as integers (order-independent),
    normalization is integer s·ONE // max with a deterministic max —
    every iteration bit-exact at any partition count, and the DuckDB
    oracle unrolls the identical {_HITS_ITERS} iterations as
    materialized CTEs.

    Scale: each half-step is ONE equi-join + keyed partial-agg
    shuffle on the edge list (cached across iterations; at 100 TB
    checkpoint the score frames every few iterations — the k-core
    lineage discipline); the normalization max is a 1-row broadcast.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 6000)
        .select("l_orderkey", "l_suppkey")
    )
    e0 = cache(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(_SUPPLIER_BASE) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )

    def _normalize(df: DataFrame) -> DataFrame:
        mx = df.agg(F.max("s").alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            "id",
            # DECIMAL(38,0) product: raw sums reach ~n * 1e9, and the
            # 1e9 normalization product overflows BIGINT (ANSI mode
            # rightly errors) — exact integer DIV in decimal space
            F.expr(
                f"CAST((CAST(s AS DECIMAL(38,0)) * {_ONE}) DIV CAST(mx AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("s"),
        )

    h = e0.select("src").distinct().select(
        F.col("src").alias("id"), F.lit(_ONE).cast("bigint").alias("s")
    )
    for it in range(_HITS_ITERS):
        a_raw = (
            e0.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("s").cast("bigint").alias("s"))
            .select(F.col("dst").alias("id"), "s")
        )
        # lineage-cut each half-step (the k-core/LPA discipline): the
        # normalize crossJoin embeds its input plan ~3x, so without the
        # cut the LOGICAL plan grows ~3^(2*iters) and Catalyst analysis
        # dominates wall (measured 138 s at sf0.01 plan-build vs 0.25 s
        # execution before this cut). Values are unchanged. A half-step
        # is released once the NEXT one materialized (the README's loop
        # rule); only the FINAL a and h (the ranking inputs) live until
        # the scope closes.
        a = checkpoint(_normalize(a_raw).localCheckpoint(eager=True))
        release(h)  # h_{it-1}: consumed by a_raw, never again
        h_raw = (
            e0.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("s").cast("bigint").alias("s"))
            .select(F.col("src").alias("id"), "s")
        )
        h = checkpoint(_normalize(h_raw).localCheckpoint(eager=True))
        if it < _HITS_ITERS - 1:  # a_it: consumed by h_raw; keep only the final
            release(a)
    from pyspark.sql import Window

    from spark_rapids_ml_spark.functions.scan import ranged_row_number

    def _top(df: DataFrame, side: str) -> DataFrame:
        # partial top-10 prune, then the DISTRIBUTED ranked scan: the
        # global top-10 is necessarily inside every partition's local
        # top-10, so the prune bounds the rank input at 10 x partitions
        # rows, and ranged_row_number ranks it with range partitioning
        # + broadcast offsets — no Exchange SinglePartition feeds any
        # window (round-9 verdict: the old unpartitioned Window.orderBy
        # funneled one row per graph node through a single task)
        wl = Window.partitionBy(F.spark_partition_id()).orderBy(
            F.col("s").desc(), "id"
        )
        pruned = (
            df.withColumn("_lrk", F.row_number().over(wl))
            .where(F.col("_lrk") <= 10)
            .drop("_lrk")
        )
        return (
            ranged_row_number(pruned, [F.col("s").desc(), "id"], rn_col="rk")
            .where(F.col("rk") <= 10)
            .select(
                F.lit(side).alias("side"),
                F.col("id").cast("bigint").alias("id"),
                F.col("s").alias("score_nano"),
                "rk",
            )
        )

    return _top(h, "hub").unionByName(_top(a, "authority")).orderBy("side", "rk")


def _modularity_oracle() -> str:
    return f"""WITH {_lpa_cte_chain()},
m AS (SELECT COUNT(*) AS m FROM e),
deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
vl AS (SELECT l.v, l.lbl, deg.d FROM lbl{LPA_ROUNDS} l JOIN deg ON deg.v = l.v),
ec AS (
  SELECT la.lbl AS lbl, COUNT(*) AS e_in
  FROM e JOIN lbl{LPA_ROUNDS} la ON la.v = e.a
  JOIN lbl{LPA_ROUNDS} lb ON lb.v = e.b AND lb.lbl = la.lbl
  GROUP BY la.lbl
),
dc AS (SELECT lbl, CAST(SUM(d) AS BIGINT) AS d_c FROM vl GROUP BY lbl),
parts AS (
  SELECT dc.lbl, COALESCE(ec.e_in, 0) AS e_in, dc.d_c
  FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
       CAST(SUM(4 * CAST((SELECT m FROM m) AS HUGEINT) * e_in
                - CAST(d_c AS HUGEINT) * d_c) AS BIGINT) AS q_scaled,
       ROUND(CAST(SUM(4 * CAST((SELECT m FROM m) AS HUGEINT) * e_in
                      - CAST(d_c AS HUGEINT) * d_c) AS DOUBLE)
             / (4.0 * CAST((SELECT m FROM m) AS DOUBLE)
                    * CAST((SELECT m FROM m) AS DOUBLE)), 6) AS modularity
FROM parts
"""


@register(
    "graph_community_modularity",
    tags=("graph", "scale", "eval"),
    oracle=_modularity_oracle(),
)
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the label-propagation communities — the
    partition-quality metric that makes LPA self-evaluating (the graph
    analogue of k-means' silhouette): Q = Σ_c (e_c/m − (d_c/2m)²) over
    the same co-purchase graph and the same deterministic LPA
    trajectory, computed in CLEARED-DENOMINATOR integer space —
    Q·4m² = Σ_c (4m·e_c − d_c²) is an exact integer (HUGEINT /
    DECIMAL(38,0) products), so the verdict survives any summation
    order; one division at the end.

    Scale: beyond the shared LPA run, modularity needs one edge⋈label
    equi-join (intra-community edge counts), one degree reduce and a
    per-community rollup — all keyed partial-aggregable shuffles; the
    verdict is a one-row reduce.
    """
    sym, lbl = _lpa_run(spark, sf_dir)
    # every verdict input derives from the CACHED symmetric frame: the
    # uncached e would recompute the lineitem self-join per consuming job
    # (each undirected edge appears exactly twice in sym, so //2 is exact)
    m_edges = sym.count() // 2
    deg = sym.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    vl = lbl.join(deg, "v")
    la = lbl.select(F.col("v").alias("src"), F.col("lbl").alias("lbl_a"))
    lb = lbl.select(F.col("v").alias("dst"), F.col("lbl").alias("lbl_b"))
    ec = (
        sym.join(la, "src")
        .join(lb, "dst")
        .where(F.col("lbl_a") == F.col("lbl_b"))
        .groupBy(F.col("lbl_a").alias("lbl"))
        .agg(F.expr("count(*) div 2").alias("e_in"))
    )
    dc = vl.groupBy("lbl").agg(F.sum("d").cast("bigint").alias("d_c"))
    parts = dc.join(ec, "lbl", "left").select(
        "lbl",
        F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
        "d_c",
    )
    q_term = (
        F.lit(4) * F.lit(m_edges).cast("decimal(38,0)") * F.col("e_in")
        - F.col("d_c").cast("decimal(38,0)") * F.col("d_c")
    )
    out = parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.lit(m_edges).cast("bigint").alias("n_edges"),
        F.sum(q_term).cast("bigint").alias("q_scaled"),
        F.round(
            F.sum(q_term).cast("double") / (4.0 * m_edges * float(m_edges)), 6
        ).alias("modularity"),
    )
    rows = out.collect()  # 1-row verdict
    release(lbl)
    release(sym)
    return local_df(
        spark, rows, "n_communities bigint, n_edges bigint, q_scaled bigint, modularity double"
    )
