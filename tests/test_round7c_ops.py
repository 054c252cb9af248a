"""Semantic pins for the third round-7 operator wave, beyond the hash
oracle: sparse-cosine bounds + planted-pair recall, exact-substring
span coverage vs a brute-force Python recomputation, histogram split
gain vs a numpy recomputation, and link-prediction non-edge + range
invariants."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from spark_rapids_ml_spark import ml_queries as mlq
from spark_rapids_ml_spark.operators import dedup as dd
from spark_rapids_ml_spark.operators import graph as g
from spark_rapids_ml_spark.operators import sources_io
from spark_rapids_ml_spark.operators import similarity as sim
from spark_rapids_ml_spark.sources.catalog import load

SF = "/root/testdata/sf0.001"


def test_sparse_cosine_bounds_and_planted_recall(spark):
    rows = sim.sim_sparse_tfidf_cosine_pairs(spark, SF).collect()
    assert rows, "planted near-dup pairs must surface"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert sim.SPARSE_COS_THRESHOLD <= r.cosine <= 1.0 + 1e-9
    # idf-weighted cosine must find the same planted structure the
    # exact-substring detector flags: every cosine pair's docs carry
    # duplicated spans
    span_docs = {
        r.doc_id for r in dd.dedup_exact_substring_spans(spark, SF).collect()
    }
    for r in rows:
        assert r.doc_a in span_docs and r.doc_b in span_docs


def test_substring_spans_match_bruteforce(spark):
    W = dd.SUBSTR_WINDOW
    docs = load(spark, SF, "documents").select("doc_id", "text").collect()
    cap = dd._doc_slice_cap(len(docs))
    wins: dict[tuple, set] = {}
    toks_by_doc = {}
    for r in docs:
        if r.doc_id > cap:
            continue
        toks = r.text.split(" ")
        if len(toks) < W:
            continue
        toks_by_doc[r.doc_id] = toks
        for i in range(len(toks) - W + 1):
            wins.setdefault(tuple(toks[i : i + W]), set()).add(r.doc_id)
    dup_windows = {w for w, ds in wins.items() if len(ds) >= 2}
    expect = {}
    for doc_id, toks in toks_by_doc.items():
        covered: set[int] = set()
        n_dup = 0
        for i in range(len(toks) - W + 1):
            if tuple(toks[i : i + W]) in dup_windows:
                n_dup += 1
                covered.update(range(i, i + W))
        if n_dup:
            expect[doc_id] = (len(toks), n_dup, len(covered))
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_windows, r.covered_tokens)
        for r in dd.dedup_exact_substring_spans(spark, SF).collect()
    }
    assert got == expect


def test_tree_split_gain_matches_numpy(spark):
    rows = {r.dim: r for r in mlq.ml_tree_split_histogram(spark, SF).collect()}
    assert set(rows) == set(range(1, 65))
    e = load(spark, SF, "embeddings").select("embedding", "label").collect()
    X = np.array([r.embedding for r in e], dtype=np.float64)
    y = np.array([r.label for r in e], dtype=np.int64)
    B = mlq.TREE_N_BINS
    for dim in (1, 17, 64):  # spot-check three dims exhaustively
        v = X[:, dim - 1]
        mn, mx = v.min(), v.max()
        bins = (
            np.zeros(len(v), dtype=np.int64)
            if mx == mn
            else np.minimum(np.floor((v - mn) / (mx - mn) * B), B - 1).astype(np.int64)
        )
        n, s = len(y), int(y.sum())
        best = None
        for t in sorted(set(bins)):
            m = bins <= t
            nl, sl = int(m.sum()), int(y[m].sum())
            if nl == 0 or nl == n:
                continue
            gain = sl * sl / nl + (s - sl) ** 2 / (n - nl) - s * s / n
            if best is None or gain > best[1] + 1e-12:
                best = (t, gain, nl)
        r = rows[dim]
        assert r.split_bin == best[0]
        assert r.n_left == best[2] and r.n_right == len(y) - best[2]
        assert abs(r.gain - best[1]) < 1e-5
        assert r.gain >= 0


def test_link_prediction_candidates_are_nonedges(spark):
    rows = g.graph_link_prediction_jaccard(spark, SF).collect()
    assert rows
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey").collect()
    from collections import defaultdict

    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    from collections import Counter

    co = Counter()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                co[(ps[i], ps[j])] += 1
    edges = {p for p, c in co.items() if c >= g.GRAPH_MIN_SUP}
    prev = None
    for r in rows:
        assert r.a < r.b
        assert (r.a, r.b) not in edges, "predicted pair must be a NON-edge"
        assert r.n_common >= g.LP_MIN_COMMON
        assert 0 < r.jaccard <= 1
        assert r.n_common <= min(r.deg_a, r.deg_b)
        if prev is not None:  # ranking is descending
            assert r.jaccard <= prev + 1e-9
        prev = r.jaccard


def _h60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_welch_ttest_matches_numpy(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts

    rows = {r.event_type: r for r in ts.events_abtest_welch_ttest(spark, SF).collect()}
    ev = load(spark, SF, "events").select("event_type", "user_id", "value").collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in ev:
        groups[(r.event_type, r.user_id % 2)].append(round(r.value, 2))
    for et, got in rows.items():
        a = np.array(groups[(et, 0)], dtype=np.float64)
        b = np.array(groups[(et, 1)], dtype=np.float64)
        va, vb = a.var(ddof=1), b.var(ddof=1)
        se2 = va / len(a) + vb / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        df = se2**2 / ((va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1))
        assert got.n_a == len(a) and got.n_b == len(b)
        assert abs(got.t_stat - t) < 1e-4
        assert abs(got.df_welch - df) < 0.01
        assert got.df_welch <= len(a) + len(b) - 2 + 1e-6  # Welch df upper bound


def test_chisq_parts_sum_and_nonneg(spark):
    from spark_rapids_ml_spark.operators import aggregates as agg

    rows = agg.agg_chisq_independence(spark, SF).collect()
    parts = [r for r in rows if r.event_type != "__ALL__"]
    tot = [r for r in rows if r.event_type == "__ALL__"][0]
    assert tot.chi2_part_micro == sum(r.chi2_part_micro for r in parts)  # exact
    assert tot.n_events == sum(r.n_events for r in parts)
    assert tot.n_events == load(spark, SF, "events").count()
    for r in parts:
        assert r.chi2_part_micro >= 0
    # numpy recomputation (same floor-micro fixed point)
    ev = load(spark, SF, "events").select("event_type", F.dayofweek("ts").alias("dw")).collect()
    from collections import Counter

    obs = Counter((r.event_type, r.dw - 1) for r in ev)
    rt = Counter()
    ct = Counter()
    for (et, dw), o in obs.items():
        rt[et] += o
        ct[dw] += o
    n = sum(obs.values())
    import math

    expect_micro = Counter()
    for (et, dw), o in obs.items():
        e = (rt[et] * ct[dw]) / n
        expect_micro[et] += math.floor((o - e) * (o - e) / e * agg.CHI2_MICRO)
    for r in parts:
        assert r.chi2_part_micro == expect_micro[r.event_type]


def test_spatial_knn_matches_bruteforce(spark):
    from spark_rapids_ml_spark.operators import joins as jo

    got = {
        r.s_suppkey: (r.nearest_custkey, r.dist2_micro)
        for r in jo.join_spatial_grid_knn(spark, SF).collect()
    }
    cust = [r.c_custkey for r in load(spark, SF, "customer").select("c_custkey").collect()]
    supp = [r.s_suppkey for r in load(spark, SF, "supplier").select("s_suppkey").collect()]
    U = jo.GEO_UNIT
    g = jo._grid_g(len(cust))
    cpts = {
        k: (_h60(f"{jo.GEO_SEED_CX}|{k}") % U, _h60(f"{jo.GEO_SEED_CY}|{k}") % U)
        for k in cust
    }
    from collections import defaultdict

    bycell = defaultdict(list)
    for k, (x, y) in cpts.items():
        bycell[(x * g // U, y * g // U)].append(k)
    expect = {}
    for s in supp:
        x, y = _h60(f"{jo.GEO_SEED_SX}|{s}") % U, _h60(f"{jo.GEO_SEED_SY}|{s}") % U
        cx, cy = x * g // U, y * g // U
        cells = {
            (max(0, min(g - 1, cx + dx)), max(0, min(g - 1, cy + dy)))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        }
        best = None
        for cell in cells:
            for k in bycell.get(cell, ()):
                px, py = cpts[k]
                d2 = (x - px) ** 2 + (y - py) ** 2
                if best is None or (d2, k) < best:
                    best = (d2, k)
        if best is not None:
            expect[s] = (best[1], best[0])
    assert got == expect


def test_logreg_irls_matches_numpy_replay(spark):
    row = mlq.ml_logreg_irls_newton(spark, SF).collect()[0]
    e = load(spark, SF, "embeddings").select("embedding", "label").collect()
    E = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in e])
    x1 = E[:, mlq.LOGREG_DIM_A - 1]
    x2 = E[:, mlq.LOGREG_DIM_B - 1]
    y = np.array([1.0 if r.label >= 5 else 0.0 for r in e])
    NANO = mlq._LOGREG_NANO
    A = np.stack([np.ones_like(x1), x1, x2], 1)
    b = np.zeros(3)
    for _ in range(mlq.LOGREG_ITERS):
        z = A @ b
        p = 0.5 + z / (2 * (1 + np.abs(z)))
        w = p * (1 - p)
        g = (
            np.array(
                [
                    np.floor((y - p) * NANO).sum(),
                    np.floor((y - p) * x1 * NANO).sum(),
                    np.floor((y - p) * x2 * NANO).sum(),
                ]
            )
            / NANO
        )
        hs = [
            np.floor(w * NANO).sum(),
            np.floor(w * x1 * NANO).sum(),
            np.floor(w * x2 * NANO).sum(),
            np.floor(w * x1 * x1 * NANO).sum(),
            np.floor(w * x1 * x2 * NANO).sum(),
            np.floor(w * x2 * x2 * NANO).sum(),
        ]
        h00, h01, h02, h11, h12, h22 = [v / NANO for v in hs]
        H = np.array([[h00, h01, h02], [h01, h11, h12], [h02, h12, h22]])
        b = b + np.linalg.solve(H, g)
    assert row.n == len(y)
    assert abs(row.b0 - b[0]) < 1e-5
    assert abs(row.b1 - b[1]) < 1e-5
    assert abs(row.b2 - b[2]) < 1e-5
    acc = ((A @ b >= 0).astype(float) == y).sum()
    assert row.n_correct == acc


def test_label_propagation_matches_python_replay(spark):
    got = [(r.community, r.n_members) for r in g.graph_label_propagation(spark, SF).collect()]
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey").collect()
    from collections import Counter, defaultdict

    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    min_sup = g.LPA_MIN_SUP  # below CO_SUPPORT_THRESH at sf0.001
    co = Counter()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                co[(ps[i], ps[j])] += 1
    adj = defaultdict(list)
    for (a, b), c in co.items():
        if c >= min_sup:
            adj[a].append(b)
            adj[b].append(a)
    lbl = {v: v for v in adj}
    for _ in range(g.LPA_ROUNDS):
        nxt = {}
        for v, ns in adj.items():
            cnt = Counter(lbl[u] for u in ns)
            # most frequent, ties -> smallest label
            nxt[v] = min(cnt, key=lambda l: (-cnt[l], l))
        lbl = nxt
    sizes = Counter(lbl.values())
    expect = sorted(((l, n) for l, n in sizes.items()), key=lambda t: (-t[1], t[0]))[:25]
    assert got == expect


def test_write_audit_publish_invariants(spark):
    from spark_rapids_ml_spark.operators import sources_io as sio
    import os

    vals = {r.metric: r.value for r in sio.scale_write_audit_publish(spark, SF).collect()}
    o = load(spark, SF, "orders")
    n_orders = o.count()
    n_base = o.where(F.col("o_orderkey") % sio.WAP_DELTA_MOD != 0).count()
    n_delta = n_orders - n_base
    n_dupkeys = o.where(F.col("o_orderkey") % sio.WAP_DUP_MOD == 0).count()
    staged_instances = n_delta + n_dupkeys
    # conservation: every staged instance either publishes or quarantines
    assert vals["published_delta_rows"] + vals["quarantined_rows"] == staged_instances
    assert vals["v2_rows"] == n_base + vals["published_delta_rows"]
    assert vals["audit_dup_instances"] == 2 * n_dupkeys
    # the published files themselves must satisfy every audited constraint
    root = sio._sink("write_audit_publish", SF)
    pub = spark.read.parquet(os.path.join(root, "delta_published"))
    assert pub.where(F.col("price") < 0).count() == 0
    assert pub.where(F.col("prio").isNull()).count() == 0
    assert pub.groupBy("k").count().where(F.col("count") > 1).count() == 0
    # manifest points at v1 + delta_published (the atomic flip target)
    man = spark.read.schema("version INT, dir STRING").json(os.path.join(root, "_manifest"))
    dirs = {r.dir for r in man.where(F.col("version") == 2).collect()}
    assert dirs == {"v1", "delta_published"}


def test_gini_bounds_and_uniform_zero(spark):
    from spark_rapids_ml_spark.operators import analytics_extra as ax

    rows = ax.agg_gini_revenue_concentration(spark, SF).collect()
    assert rows
    segs = load(spark, SF, "customer").select("c_mktsegment").distinct().count()
    assert len(rows) == segs
    total_cust = load(spark, SF, "customer").count()
    assert sum(r.n_customers for r in rows) == total_cust
    for r in rows:
        assert 0 <= r.gini < 1  # Gini of non-negative data
        assert r.total_revenue >= 0
    # numpy recomputation for one segment
    import numpy as np

    seg = rows[0].c_mktsegment
    c = load(spark, SF, "customer").where(F.col("c_mktsegment") == seg)
    o = load(spark, SF, "orders")
    rev = {r.c_custkey: 0.0 for r in c.select("c_custkey").collect()}
    for r in (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        rev[r.o_custkey] = round(rev[r.o_custkey] + r.o_totalprice, 2)
    x = np.sort(np.array(list(rev.values())))
    n = len(x)
    gini = 2 * (x * np.arange(1, n + 1)).sum() / (n * x.sum()) - (n + 1) / n
    assert abs(rows[0].gini - gini) < 1e-4


def test_attribution_conserves_purchases(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts

    rows = ts.events_attribution_last_touch(spark, SF).collect()
    ev = load(spark, SF, "events")
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    assert sum(r.n_purchases for r in rows) == n_purch  # every purchase lands once
    channels = {r.channel for r in rows}
    assert "purchase" not in channels  # a purchase never self-attributes
    assert channels <= {"view", "click", "signup", "error", "direct"}
    total_rev = sum(r.revenue for r in rows)
    exact = (
        ev.where(F.col("event_type") == "purchase")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"))
        .collect()[0][0]
    )
    assert abs(total_rev - exact) < 1e-6


def test_token_budget_selection_greedy_optimality(spark):
    from spark_rapids_ml_spark.operators import llm_pipeline as lp

    row = lp.pipe_token_budget_selection(spark, SF).collect()[0]
    assert row.tokens_selected <= row.budget_tokens
    assert 0 < row.n_selected <= row.n_docs
    # replay the greedy in Python
    docs = load(spark, SF, "documents").select("doc_id", "text").collect()
    scored = []
    for r in docs:
        toks = r.text.split(" ")
        scored.append((len(set(toks)) * lp.TB_SCORE_SCALE // len(toks), r.doc_id, len(toks)))
    budget = sum(t for _, _, t in scored) * lp.TB_BUDGET_NUM // lp.TB_BUDGET_DEN
    cum = n_sel = 0
    cut = None
    for score, _doc, ntok in sorted(scored, key=lambda t: (-t[0], t[1])):
        if cum + ntok > budget:
            break
        cum += ntok
        n_sel += 1
        cut = score
    assert (row.n_selected, row.tokens_selected, row.cut_score, row.budget_tokens) == (
        n_sel,
        cum,
        cut,
        budget,
    )


def test_median_mad_matches_python(spark):
    from spark_rapids_ml_spark.operators import windows as wd

    got = {
        r.user_id: (r.n, r.median_cents, r.mad_cents)
        for r in wd.window_median_mad_robust(spark, SF).collect()
    }
    ev = (
        load(spark, SF, "events")
        .where(F.col("user_id") <= wd.MAD_USER_CAP)
        .select("user_id", "event_id", "value")
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal, ROUND_HALF_UP

    by_user = defaultdict(list)
    for r in ev:
        cents = int(Decimal(repr(r.value)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        by_user[r.user_id].append((cents, r.event_id))
    expect = {}
    for u, vals in by_user.items():
        vals.sort()
        n = len(vals)
        med = vals[(n + 1) // 2 - 1][0]
        devs = sorted((abs(c - med), e) for c, e in vals)
        mad = devs[(n + 1) // 2 - 1][0]
        expect[u] = (n, med, mad)
    assert got == expect


def test_tile_impurity_matches_numpy(spark):
    from spark_rapids_ml_spark.operators import multimodal as mm

    got = {
        (r.doc_id, r.tile): (r.n_px, r.impurity_micro)
        for r in mm.mm_image_tile_impurity(spark, SF).collect()
    }
    docs = (
        load(spark, SF, "documents")
        .where(F.col("doc_id") <= 100)
        .select("doc_id", "text")
        .collect()
    )
    from spark_rapids_ml_spark.functions.codecs import decode_ppm

    th, tw = mm.FAKE_H // mm.TILE_ROWS, mm.FAKE_W // mm.TILE_COLS
    expect = {}
    for r in docs:
        img = decode_ppm(mm.ppm_from_text(r.text))
        s = img.astype(np.int64).sum(axis=2)
        buckets = s // 96
        for tr in range(mm.TILE_ROWS):
            for tc in range(mm.TILE_COLS):
                tb = buckets[tr * th : (tr + 1) * th, tc * tw : (tc + 1) * tw]
                n = tb.size
                _v, cts = np.unique(tb, return_counts=True)
                sc2 = int((cts.astype(np.int64) ** 2).sum())
                expect[(r.doc_id, tr * mm.TILE_COLS + tc)] = (
                    n,
                    (1_000_000 * (n * n - sc2)) // (n * n),
                )
    assert got == expect
    for n, imp in got.values():
        assert 0 <= imp < 1_000_000


def test_stream_heavy_hitters_multibatch_and_batch_parity(spark):
    import os

    from spark_rapids_ml_spark.streaming import stream_queries as sq

    got = [(r.user_id, r.n_events) for r in sq.stream_topk_heavy_hitters(spark, SF).collect()]
    # the staged source really replayed as HH_STAGE_FILES micro-batches
    state_root = sources_io._sink("hh_state", SF)
    versions = sorted(d for d in os.listdir(state_root) if d.startswith("state_v"))
    assert len(versions) == sq.HH_STAGE_FILES
    # stream answer == batch answer (counts are exactly mergeable)
    batch = (
        load(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(sq.HH_TOP_K)
        .collect()
    )
    assert got == [(r.user_id, r.n) for r in batch]


def test_kaplan_meier_matches_python_fold(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts

    rows = ts.events_survival_kaplan_meier(spark, SF).collect()
    ev = load(spark, SF, "events").select("user_id", "ts").collect()
    from collections import defaultdict

    first, last = {}, {}
    for r in ev:
        u = r.user_id
        first[u] = min(first.get(u, r.ts), r.ts)
        last[u] = max(last.get(u, r.ts), r.ts)
    cmax = max(last.values())
    us = lambda t: int(t.timestamp() * 1_000_000)
    life = [
        (
            (us(last[u]) - us(first[u])) // ts.KM_HOUR_US,
            us(cmax) - us(last[u]) > ts.KM_CHURN_HORIZON_US,
        )
        for u in first
    ]
    n_total = len(life)
    from collections import Counter

    at = Counter(d for d, _ in life)
    deaths = Counter(d for d, o in life if o)
    s = ts._KM_ONE
    seen = 0
    expect = []
    for dur in sorted(at):
        n_risk = n_total - seen
        seen += at[dur]
        d = deaths.get(dur, 0)
        if d == 0:
            continue
        s = s * (n_risk - d) // n_risk
        expect.append((dur, n_risk, d, s))
    got = [(r.dur_hours, r.n_risk, r.n_churned, r.survival_micro) for r in rows]
    assert got == expect
    # survival and risk set are both non-increasing
    for a, b in zip(rows, rows[1:]):
        assert b.survival_micro <= a.survival_micro
        assert b.n_risk <= a.n_risk


def test_lag_features_dense_calendar_and_rolling(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts

    rows = ts.timeseries_lag_features(spark, SF).collect()
    assert rows
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    import datetime as dt

    for u, rs in by_user.items():
        days = [dt.date.fromisoformat(r.day) for r in rs]
        # dense: consecutive calendar days, no gaps
        for a, b in zip(days, days[1:]):
            assert (b - a).days == 1
        revs = [r.rev_cents for r in rs]
        for i, r in enumerate(rs):
            assert r.lag1_cents == (revs[i - 1] if i >= 1 else -1)
            assert r.lag7_cents == (revs[i - 7] if i >= 7 else -1)
            lo = max(0, i - 6)
            assert r.roll7_sum_cents == sum(revs[lo : i + 1])
            assert r.roll7_n == i + 1 - lo


def test_audio_segments_invariants_and_python_replay(spark):
    from spark_rapids_ml_spark.operators import multimodal as mm
    from spark_rapids_ml_spark.functions.codecs import decode_wav

    got = {
        r.doc_id: (r.n_frames, r.n_voiced, r.n_segments, r.longest_run)
        for r in mm.mm_audio_energy_segments(spark, SF).collect()
    }
    docs = (
        load(spark, SF, "documents")
        .where(F.col("doc_id") <= 50)
        .select("doc_id", "text")
        .collect()
    )
    W = mm.SEG_FRAME
    for r in docs:
        sig, _sr = decode_wav(mm.wav_from_text(r.text))
        v = sig.astype(np.int64)
        nf = max(1, len(v) // W)
        v = v[: min(len(v), nf * W)]
        if len(v) < nf * W:
            e = [int((v * v).sum())]
        else:
            e = (v * v).reshape(nf, W).sum(axis=1).tolist()
        tot = sum(e)
        voiced = [x * nf > tot for x in e]
        n_seg = longest = cur = 0
        for fl in voiced:
            cur = cur + 1 if fl else 0
            if cur == 1 and fl:
                n_seg += 1
            longest = max(longest, cur)
        assert got[r.doc_id] == (nf, sum(voiced), n_seg, longest)
        nfr, nv, ns, lr = got[r.doc_id]
        assert ns <= nv <= nfr and lr <= nv  # segment accounting sanity


def test_group_by_all_matches_explicit_grouping(spark):
    from spark_rapids_ml_spark.operators import subqueries as sq

    rows = sq.sql_group_by_all(spark, SF).collect()
    explicit = (
        load(spark, SF, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in explicit]


def test_peak_concurrency_matches_python_sweep(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts

    got = {
        r.day: (r.n_intervals, r.max_concurrent)
        for r in ts.events_peak_concurrency(spark, SF).collect()
    }
    ev = load(spark, SF, "events").select("user_id", "ts").collect()
    from collections import defaultdict

    iv = {}
    for r in ev:
        key = (r.user_id, r.ts.date())
        s, e = iv.get(key, (r.ts, r.ts))
        iv[key] = (min(s, r.ts), max(e, r.ts))
    by_day = defaultdict(list)
    for (u, d), (s, e) in iv.items():
        by_day[d].append((s, e))
    for d, ivs in by_day.items():
        pts = [(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs]
        pts.sort()  # (t, delta): -1 before +1 at equal t
        conc = mx = 0
        for _, delta in pts:
            conc += delta
            mx = max(mx, conc)
        assert got[d.isoformat()] == (len(ivs), mx)
        assert mx <= len(ivs)


def test_market_basket_rule_math(spark):
    from spark_rapids_ml_spark.operators import analytics_extra as ax

    rows = ax.agg_market_basket_rules(spark, SF).collect()
    assert rows
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey").distinct().collect()
    from collections import Counter, defaultdict

    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    n_baskets = len(by_order)
    item = Counter()
    for parts in by_order.values():
        item.update(parts)
    pair = Counter()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair[(ps[i], ps[j])] += 1
    prev_lift = None
    for r in rows:
        assert r.n_ab == pair[(r.pa, r.pb)] >= ax.MB_MIN_SUPPORT
        assert r.n_a == item[r.pa] and r.n_b == item[r.pb]
        assert abs(r.confidence - r.n_ab / r.n_a) < 1e-6
        assert abs(r.lift - r.n_ab * n_baskets / (r.n_a * r.n_b)) < 1e-4
        if prev_lift is not None:
            assert r.lift <= prev_lift + 1e-9
        prev_lift = r.lift


def test_calibration_bins_consistent_with_irls_model(spark):
    rows = mlq.ml_calibration_reliability_bins(spark, SF).collect()
    assert rows
    n_total = sum(r.n for r in rows)
    assert n_total == load(spark, SF, "embeddings").count()
    for r in rows:
        # mean prediction must sit inside its own decile bin
        assert r.bin / 10 - 1e-6 <= r.mean_pred <= (r.bin + 1) / 10 + 1e-6
        assert 0 <= r.frac_pos <= 1
    # numpy replay: train the same rational-link IRLS, score, bin
    e = load(spark, SF, "embeddings").select("embedding", "label").collect()
    E = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in e])
    x1, x2 = E[:, mlq.LOGREG_DIM_A - 1], E[:, mlq.LOGREG_DIM_B - 1]
    y = np.array([1.0 if r.label >= 5 else 0.0 for r in e])
    NANO = mlq._LOGREG_NANO
    A = np.stack([np.ones_like(x1), x1, x2], 1)
    b = np.zeros(3)
    for _ in range(mlq.LOGREG_ITERS):
        z = A @ b
        p = 0.5 + z / (2 * (1 + np.abs(z)))
        w = p * (1 - p)
        g = np.array([np.floor((y - p) * NANO).sum(),
                      np.floor((y - p) * x1 * NANO).sum(),
                      np.floor((y - p) * x2 * NANO).sum()]) / NANO
        hs = [np.floor(w * NANO).sum(), np.floor(w * x1 * NANO).sum(),
              np.floor(w * x2 * NANO).sum(), np.floor(w * x1 * x1 * NANO).sum(),
              np.floor(w * x1 * x2 * NANO).sum(), np.floor(w * x2 * x2 * NANO).sum()]
        h00, h01, h02, h11, h12, h22 = [v / NANO for v in hs]
        b = b + np.linalg.solve(
            np.array([[h00, h01, h02], [h01, h11, h12], [h02, h12, h22]]), g
        )
    z = A @ b
    p = 0.5 + z / (2 * (1 + np.abs(z)))
    bins = np.minimum(np.floor(p * mlq.CALIB_BINS), mlq.CALIB_BINS - 1).astype(int)
    got = {r.bin: (r.n, r.frac_pos) for r in rows}
    for bn in sorted(set(bins)):
        m = bins == bn
        assert got[bn][0] == int(m.sum())
        assert abs(got[bn][1] - y[m].mean()) < 1e-5


def test_footer_stats_profile_matches_full_scan(spark):
    from spark_rapids_ml_spark.operators import scale_patterns as sp

    row = sp.scale_footer_stats_profile(spark, SF).collect()[0]
    o = load(spark, SF, "orders")
    full = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.min("o_orderkey").alias("mk"),
        F.max("o_orderkey").alias("xk"),
    ).collect()[0]
    assert row.n_files == 8
    assert row.n_rows == full.n
    assert row.min_price == full.mn and row.max_price == full.mx
    assert row.min_key == full.mk and row.max_key == full.xk


def test_dau_wau_mau_matches_python(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts

    rows = ts.events_dau_wau_mau(spark, SF).collect()
    ev = load(spark, SF, "events").select("user_id", "ts").collect()
    from collections import defaultdict
    import datetime as dt

    byday = defaultdict(set)
    for r in ev:
        byday[r.ts.date()].add(r.user_id)
    days = sorted(byday)
    assert len(rows) == len(days)
    for r in rows:
        d = dt.date.fromisoformat(r.day)
        assert r.dau == len(byday[d])
        wau = set().union(*(byday.get(d - dt.timedelta(k), set()) for k in range(7)))
        mau = set().union(*(byday.get(d - dt.timedelta(k), set()) for k in range(30)))
        assert r.wau == len(wau) and r.mau == len(mau)
        assert r.dau <= r.wau <= r.mau  # monotone by construction
        assert abs(r.stickiness - r.dau / r.mau) < 1e-6


def test_vocab_coverage_curve_properties(spark):
    from spark_rapids_ml_spark.operators import textstats as tx
    from collections import Counter

    rows = tx.text_vocab_coverage_curve(spark, SF).collect()
    assert [r.vocab_size for r in rows] == list(tx.VOCAB_CURVE_SIZES)
    docs = load(spark, SF, "documents").select("text").collect()
    tf = Counter()
    for r in docs:
        tf.update(r.text.split(" "))
    total = sum(tf.values())
    ordered = sorted(tf.items(), key=lambda t: (-t[1], t[0]))
    prev = 0
    for r in rows:
        expect = sum(c for _, c in ordered[: r.vocab_size])
        assert r.tokens_covered == expect
        assert r.total_tokens == total
        assert abs(r.coverage - expect / total) < 1e-6
        assert r.tokens_covered >= prev  # monotone non-decreasing
        prev = r.tokens_covered


def test_stream_scd2_enrichment_equals_batch(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts
    from spark_rapids_ml_spark.streaming import stream_queries as sq

    got = [tuple(r) for r in sq.stream_scd2_enrichment(spark, SF).collect()]
    batch = [tuple(r) for r in ts.scd2_point_in_time_join(spark, SF).collect()]
    assert got == batch  # stream == batch on the point-in-time semantics
    assert got, "enrichment must produce rows"


def test_trimmed_winsorized_mean_matches_python(spark):
    from spark_rapids_ml_spark.operators import aggregates as agg
    from decimal import Decimal, ROUND_HALF_UP

    rows = {r.event_type: r for r in agg.agg_trimmed_winsorized_mean(spark, SF).collect()}
    ev = load(spark, SF, "events").select("event_type", "event_id", "value").collect()
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in ev:
        c = int(Decimal(repr(r.value)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        by_type[r.event_type].append((c, r.event_id))
    for et, vals in by_type.items():
        vals.sort()
        cents = [c for c, _ in vals]
        n = len(cents)
        lo = n // agg.TRIM_FRAC_DEN
        trimmed = cents[lo : n - lo]
        win = [max(min(c, cents[n - lo - 1]), cents[lo]) for c in cents]
        r = rows[et]
        assert r.n == n
        assert abs(r.trimmed_mean - sum(trimmed) / (100 * len(trimmed))) < 1e-6
        assert abs(r.winsorized_mean - sum(win) / (100 * n)) < 1e-6
        # robustness ordering: trimmed <= winsorized <= raw mean for
        # right-skewed data is NOT guaranteed in general; just check
        # both sit inside the clamped range
        assert cents[lo] / 100 <= r.trimmed_mean <= cents[n - lo - 1] / 100


def test_video_shot_boundary_matches_numpy(spark):
    from spark_rapids_ml_spark.operators import multimodal as mm
    from spark_rapids_ml_spark.functions.codecs import decode_ppm
    import struct

    got = {
        r.doc_id: (r.n_frames, r.max_sad_frame, r.max_sad, r.min_sad, r.total_sad)
        for r in mm.mm_video_shot_boundary(spark, SF).collect()
    }
    docs = (
        load(spark, SF, "documents")
        .where(F.col("doc_id") <= 100)
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        buf = mm.video_from_text(r.text)
        assert buf[:4] == mm.VIDEO_MAGIC
        (nf,) = struct.unpack_from("<I", buf, 4)
        off = 8
        frames = []
        for _ in range(nf):
            (fl,) = struct.unpack_from("<I", buf, off)
            off += 4
            frames.append(decode_ppm(buf[off : off + fl]).astype(np.int64))
            off += fl
        sads = [int(np.abs(frames[f] - frames[f - 1]).sum()) for f in range(1, nf)]
        best = max(range(len(sads)), key=lambda i: (sads[i], -i)) + 1
        assert got[r.doc_id] == (nf, best, max(sads), min(sads), sum(sads))


def test_markov_stationary_matches_python_power_iteration(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts
    from collections import Counter, defaultdict

    rows = {r.state: r for r in ts.events_markov_stationary(spark, SF).collect()}
    ev = load(spark, SF, "events").select("user_id", "ts", "event_id", "event_type").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    cnt = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            cnt[(a, b)] += 1
    NANO = ts._MK_NANO
    row_tot = Counter()
    for (a, _b), n in cnt.items():
        row_tot[a] += n
    p = {(a, b): n * NANO // row_tot[a] for (a, b), n in cnt.items()}
    states = sorted(row_tot)
    pi = {s: NANO // len(states) for s in states}
    for _ in range(ts.MARKOV_ITERS):
        nxt = {s: 0 for s in states}
        for (a, b), pn in p.items():
            nxt[b] += pi[a] * pn
        pi = {s: v // NANO for s, v in nxt.items()}
    incoming = Counter()
    for (_a, b), n in cnt.items():
        incoming[b] += n
    for s in states:
        assert rows[s].pi_nano == pi[s]
        assert rows[s].n_incoming == incoming[s]
    total = sum(r.pi_nano for r in rows.values())
    assert abs(total - NANO) <= ts.MARKOV_ITERS * len(states)  # floor drift only


def test_ridge_kfold_cv_matches_numpy(spark):
    rows = {r.fold: r for r in mlq.ml_ridge_kfold_cv(spark, SF).collect()}
    assert set(rows) == set(range(mlq.CV_FOLDS))
    li = load(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_discount", "l_extendedprice"
    ).collect()
    import numpy as np

    data = np.array(
        [[r.l_orderkey % mlq.CV_FOLDS, r.l_quantity, r.l_discount, r.l_extendedprice] for r in li]
    )
    L = float(mlq._CV_L)
    n_total = 0
    for k in range(mlq.CV_FOLDS):
        tr = data[data[:, 0] != k]
        te = data[data[:, 0] == k]
        A = np.stack([np.ones(len(tr)), tr[:, 1], tr[:, 2]], 1)
        G = A.T @ A + np.diag([0.0, L, L])
        beta = np.linalg.solve(G, A.T @ tr[:, 3])
        r = rows[k]
        assert r.n_test == len(te)
        n_total += len(te)
        assert abs(r.b0 - beta[0]) < max(1e-3, abs(beta[0]) * 1e-5)
        assert abs(r.b1 - beta[1]) < max(1e-3, abs(beta[1]) * 1e-4)
        assert abs(r.b2 - beta[2]) < max(1e-2, abs(beta[2]) * 1e-4)
        pred = beta[0] + beta[1] * te[:, 1] + beta[2] * te[:, 2]
        rmse = float(np.sqrt(np.floor((te[:, 3] - pred) ** 2).sum() / len(te)))
        assert abs(r.rmse - rmse) < max(1e-2, rmse * 1e-5)
    assert n_total == len(data)  # folds partition the table


def test_benford_audit_matches_python(spark):
    from spark_rapids_ml_spark.operators import aggregates as agg
    from decimal import Decimal, ROUND_HALF_UP
    from collections import Counter
    import math

    rows = {r.digit: r for r in agg.dq_benford_first_digit(spark, SF).collect()}
    assert set(rows) == set(range(1, 10))
    o = load(spark, SF, "orders").select("o_totalprice").collect()
    cnt = Counter()
    for r in o:
        c = int(Decimal(repr(r.o_totalprice)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        if c > 0:
            cnt[int(str(c)[0])] += 1
    total = sum(cnt.values())
    for d in range(1, 10):
        r = rows[d]
        assert r.n == cnt.get(d, 0)
        assert abs(r.observed_freq - cnt.get(d, 0) / total) < 1e-6
        assert abs(r.benford_freq - math.log10(1 + 1 / d)) < 1e-6
        assert r.abs_dev_micro == math.floor(abs(cnt.get(d, 0) / total - math.log10(1 + 1 / d)) * 1e6)
    assert sum(r.n for r in rows.values()) == total


def test_cohort_ltv_matches_python(spark):
    from spark_rapids_ml_spark.operators import timeseries as ts
    from decimal import Decimal, ROUND_HALF_UP
    from collections import defaultdict

    rows = ts.events_cohort_ltv(spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select("user_id", "ts", "event_type", "value").collect()
    import datetime as dt

    first = {}
    for r in ev:
        d = r.ts.date()
        first[r.user_id] = min(first.get(r.user_id, d), d)
    epoch = dt.date(1970, 1, 1)
    cells = defaultdict(int)
    for r in ev:
        if r.event_type != "purchase":
            continue
        age = (r.ts.date() - first[r.user_id]).days // 7
        cw = (first[r.user_id] - epoch).days // 7
        c = int(Decimal(repr(r.value)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        cells[(cw, age)] += c
    sizes = defaultdict(int)
    for u, d in first.items():
        sizes[(d - epoch).days // 7] += 1
    # cumulative per cohort
    by_cohort = defaultdict(list)
    for (cw, age), cents in cells.items():
        by_cohort[cw].append((age, cents))
    expect = {}
    for cw, lst in by_cohort.items():
        cum = 0
        for age, cents in sorted(lst):
            cum += cents
            expect[(cw, age)] = (sizes[cw], cum)
    for r in rows:
        n_users, cum = expect[(r.cohort_week, r.age_weeks)]
        assert r.n_users == n_users
        assert r.cum_revenue_cents == cum
        assert abs(r.ltv_per_user - cum / (100 * n_users)) < 1e-6
    # monotone LTV within cohort
    prev = {}
    for r in rows:
        if r.cohort_week in prev:
            assert r.cum_revenue_cents >= prev[r.cohort_week]
        prev[r.cohort_week] = r.cum_revenue_cents
