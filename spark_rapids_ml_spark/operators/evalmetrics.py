"""Model-evaluation metrics as first-class distributed queries: ROC
AUC via the Mann-Whitney rank statistic, per-class confusion /
precision / recall / F1, and least-squares fit diagnostics from exact
integer power sums.

A 100 TB training pipeline evaluates models on held-out slices with
exactly these reductions; each is expressed as a shuffle-light
aggregate (no per-row Python), and every ratio is an exact-integer
IEEE division so the DuckDB oracle matches bit-for-bit (FIXTURES.md
determinism contract).

Reference parity note: the reference repo (spark-rapids-ml) ships
only a PCA estimator (SURVEY.md §2.A); the evaluation surface is part
of the declared §2.B ML-extension contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_rapids_ml_spark.functions.portable import hash60, sql_hash60
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.query_run import checkpoint
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.sources.catalog import load


AUC_SCAN_PARTITIONS = 32  # distributed-scan width for per-segment ranks


@register(
    "ml_eval_auc_rank",
    tags=("ml", "eval"),
    oracle="""
WITH scored AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS label,
         CAST(round(o.o_totalprice * 100) AS BIGINT) * 1000000000 + o.o_orderkey AS score_key
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
  SELECT segment, label,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY score_key) AS r
  FROM scored
),
s AS (
  SELECT segment,
         SUM(CASE WHEN label = 1 THEN r ELSE 0 END) AS pos_rank_sum,
         SUM(label) AS n_pos,
         COUNT(*) - SUM(label) AS n_neg
  FROM ranked GROUP BY segment
)
SELECT segment,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(2 * pos_rank_sum - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
FROM s ORDER BY segment
""",
)
def ml_eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC per evaluation slice (market segment) via the
    Mann-Whitney U rank statistic: AUC = (Σ ranks of positives −
    P(P+1)/2) / (P·N), with the score made a UNIQUE bigint key
    (price cents ⊕ orderkey) so rank — and therefore the AUC — has one
    deterministic value in both engines (ties under the raw score
    would make the statistic engine-dependent; the composite key IS
    the declared tie-break).

    Scale: one broadcast dim join, then per-segment ranks via the
    DISTRIBUTED SCAN (the pipe_sequence_packing pattern): range-
    partition on (segment, score_key), local row_number per
    (partition, segment) in parallel, add each partition's broadcast
    per-segment offset (an n_partitions × n_segments driver
    reduction — tiny, bounded). A naive Window.partitionBy(segment)
    would sort each segment in ONE task (5 tasks for 15M rows at
    sf10); the scan keeps parallelism at the partition count no
    matter how few slices there are, and the ranks — global positions
    in a strict total order — are identical by construction. The
    final ratio is one IEEE division of exact integers.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    scored = o.join(F.broadcast(c), "o_custkey").select(
        "segment",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("label"),
        (
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint") * F.lit(1000000000)
            + F.col("o_orderkey")
        ).alias("score_key"),
    )
    t = scored.repartitionByRange(AUC_SCAN_PARTITIONS, "segment", "score_key").withColumn(
        "pid", F.spark_partition_id()
    )
    t = t.localCheckpoint(eager=False)  # pin pid: both consumers need ONE layout

    checkpoint(t)
    w_local = Window.partitionBy("pid", "segment").orderBy("score_key")
    # per-(partition, segment) counts -> exclusive per-segment offsets
    # (driver-side: n_partitions x n_segments rows, the scan's middle step)
    counts = (
        t.groupBy("pid", "segment").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    by_seg: dict[str, list] = {}
    for r in counts:
        by_seg.setdefault(r.segment, []).append((r.pid, r.n))
    offsets: dict[str, int] = {}
    for seg, lst in by_seg.items():
        acc = 0
        for pid, n in sorted(lst):
            offsets[f"{pid}|{seg}"] = acc
            acc += n
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.concat_ws("|", F.col("pid").cast("string"), F.col("segment")),
    )
    ranked = t.withColumn("r", F.row_number().over(w_local) + offset_expr)
    s = ranked.groupBy("segment").agg(
        F.sum(F.when(F.col("label") == 1, F.col("r")).otherwise(0)).alias("pos_rank_sum"),
        F.sum("label").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("n_neg"),
    )
    return s.select(
        "segment",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        (
            (2 * F.col("pos_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    ).orderBy("segment")


@register(
    "ml_eval_confusion_prf",
    tags=("ml", "eval"),
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
),
profile AS (
  SELECT lang, term FROM (
    SELECT lang, term, COUNT(*) AS n,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, term) AS rk
    FROM tok GROUP BY lang, term
  ) WHERE rk <= 20
),
overlap AS (
  SELECT t.doc_id, t.lang AS true_lang, p.lang AS cand_lang, COUNT(*) AS hits
  FROM (SELECT DISTINCT doc_id, lang, term FROM tok) t
  JOIN profile p ON t.term = p.term
  GROUP BY t.doc_id, t.lang, p.lang
),
pred AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
    SELECT doc_id, true_lang, cand_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rk
    FROM overlap
  ) WHERE rk = 1
),
by_true AS (
  SELECT true_lang AS lang, COUNT(*) AS n_true,
         SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END) AS tp
  FROM pred GROUP BY true_lang
),
by_pred AS (
  SELECT pred_lang AS lang, COUNT(*) AS n_pred FROM pred GROUP BY pred_lang
)
SELECT t.lang,
       CAST(t.tp AS BIGINT) AS tp,
       CAST(COALESCE(p.n_pred, 0) - t.tp AS BIGINT) AS fp,
       CAST(t.n_true - t.tp AS BIGINT) AS fn,
       CASE WHEN COALESCE(p.n_pred, 0) = 0 THEN NULL
            ELSE CAST(t.tp AS DOUBLE) / CAST(p.n_pred AS DOUBLE) END AS prec,
       CAST(t.tp AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS rec,
       CAST(2 * t.tp AS DOUBLE)
         / CAST(t.n_true + COALESCE(p.n_pred, 0) AS DOUBLE) AS f1
FROM by_true t LEFT JOIN by_pred p ON t.lang = p.lang
ORDER BY t.lang
""",
)
def ml_eval_confusion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion counts + precision/recall/F1 for the
    profile-based language classifier (the same deterministic
    predictor text_langid_profile reports accuracy for — this is the
    metrics surface a curation pipeline gates on: per-language recall
    tells you which slice of the corpus the lang filter is dropping).

    F1 uses the single-division identity 2·tp / (n_true + n_pred),
    equal to the harmonic mean but with one exact-integer IEEE
    division (no nested rounding); precision is NULL for a class never
    predicted. Scale: the classifier is a broadcast join against a
    (n_langs × 20)-row profile; the metric is two partial-aggregable
    group-bys joined on the tiny class key.
    """
    from spark_rapids_ml_spark.operators.textstats import langid_predictions

    pred = langid_predictions(load(spark, sf_dir, "documents"))
    by_true = pred.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)).alias("tp"),
    )
    by_pred = pred.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    j = by_true.join(by_pred, "lang", "left").withColumn(
        "n_pred", F.coalesce(F.col("n_pred"), F.lit(0))
    )
    return j.select(
        "lang",
        F.col("tp").cast("bigint").alias("tp"),
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_true") - F.col("tp")).cast("bigint").alias("fn"),
        F.when(F.col("n_pred") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("tp").cast("double") / F.col("n_pred").cast("double"))
        .alias("prec"),
        (F.col("tp").cast("double") / F.col("n_true").cast("double")).alias("rec"),
        (
            (2 * F.col("tp")).cast("double")
            / (F.col("n_true") + F.col("n_pred")).cast("double")
        ).alias("f1"),
    ).orderBy("lang")


REGR_KEY_CAP = 20000  # bounded eval slice: exact bigint power sums stay in range


@register(
    "ml_regr_diagnostics",
    tags=("ml", "eval", "agg"),
    oracle=f"""
WITH pts AS (
  SELECT l_linestatus,
         CAST(l_quantity AS BIGINT) AS ix,
         CAST(round(l_extendedprice) AS BIGINT) AS iy
  FROM lineitem WHERE l_orderkey <= {REGR_KEY_CAP}
),
sums AS (
  SELECT l_linestatus,
         COUNT(*) AS n,
         SUM(ix) AS sx, SUM(iy) AS sy,
         SUM(ix * ix) AS sxx, SUM(ix * iy) AS sxy, SUM(iy * iy) AS syy
  FROM pts GROUP BY l_linestatus
)
SELECT l_linestatus,
       CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept,
       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
FROM sums ORDER BY l_linestatus
""",
)
def ml_regr_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit diagnostics (slope, intercept, R²)
    of whole-dollar extended price on quantity, computed from EXACT
    bigint power sums (n, Σx, Σy, Σx², Σxy, Σy²) — the mergeable
    sufficient statistics — then combined in double with the identical
    expression in both engines, so the result is bit-deterministic
    regardless of partitioning or accumulation order (the same
    convention as agg_moments_exact; Spark's native regr_slope /
    regr_r2 stream doubles whose accumulation order varies with the
    partitioning — a pytest pins that they agree to 1e-9).

    Scale: one partial-aggregable group-by carrying six integers per
    group — the canonical map-side-combine reduction; the eval slice
    is key-bounded so the y² sum stays within bigint at any SF.
    """
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= REGR_KEY_CAP)
    pts = li.select(
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("ix"),
        F.round(F.col("l_extendedprice"), 0).cast("bigint").alias("iy"),
    )
    s = pts.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ix").alias("sx"),
        F.sum("iy").alias("sy"),
        F.sum(F.col("ix") * F.col("ix")).alias("sxx"),
        F.sum(F.col("ix") * F.col("iy")).alias("sxy"),
        F.sum(F.col("iy") * F.col("iy")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd, syyd = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    cov_num = nd * sxyd - sxd * syd
    varx_num = nd * sxxd - sxd * sxd
    vary_num = nd * syyd - syd * syd
    slope = cov_num / varx_num
    return s.select(
        "l_linestatus",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        ((syd - slope * sxd) / nd).alias("intercept"),
        ((cov_num * cov_num) / (varx_num * vary_num)).alias("r2"),
    ).orderBy("l_linestatus")


def _round_half_away(a):
    """Half-away-from-zero rounding (numpy.round is half-to-even):
    matches Spark F.round / DuckDB round() so exact .5 micro-unit ties
    quantize identically in kernel, engine, and oracle."""
    import numpy as np

    return (np.sign(a) * np.floor(np.abs(a) + 0.5)).astype(np.int64)


KNN_N_TEST = 100  # vec_id < 100 form the held-out evaluation set
KNN_K = 5
_KNN_Q = 1_000_000  # micro-quantization: scores are EXACT int64 dots


@register(
    "ml_knn_classifier",
    tags=("ml", "similarity"),
    oracle=f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {_KNN_Q}) AS BIGINT)) AS mic
  FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS true_label, mic AS qm FROM e WHERE vec_id < {KNN_N_TEST}),
t AS (SELECT vec_id, label, mic AS tm FROM e WHERE vec_id >= {KNN_N_TEST}),
scored AS (
  SELECT q.qid, q.true_label, t.vec_id, t.label,
         CAST(list_dot_product(list_transform(q.qm, x -> CAST(x AS DOUBLE)),
                               list_transform(t.tm, x -> CAST(x AS DOUBLE))) AS BIGINT) AS sim
  FROM q JOIN t ON TRUE
),
ranked AS (
  SELECT qid, true_label, vec_id, label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
  FROM scored
),
votes AS (
  SELECT qid, true_label, label, COUNT(*) AS n
  FROM ranked WHERE rk <= {KNN_K}
  GROUP BY qid, true_label, label
)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS pred_label,
       CAST(n AS BIGINT) AS votes
FROM (
  SELECT qid, true_label, label, n,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n DESC, label) AS vr
  FROM votes
) WHERE vr = 1
ORDER BY qid
""",
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding corpus by maximum inner
    product (MIPS) on micro-quantized vectors: each held-out vector
    takes the majority label of its {KNN_K} best training neighbors.
    Scores are EXACT int64 dot products (components quantized to
    1e-6 units in-row — no accumulation ever happens in floating
    point, so rank and vote are bit-deterministic under ANY execution
    order; the DuckDB oracle's double-path dot stays exact because
    every partial sum is < 2^53). Vote tie-break (count DESC, label
    ASC) and rank tie-break (sim DESC, vec_id ASC) are total orders.

    Scale: the query matrix (eval x dim int64) broadcasts into a
    mapInPandas kernel that scores each training batch with ONE int64
    GEMM and emits only its per-batch top-{KNN_K} per query — the
    partial-top-k-then-merge shape (a max-k selection is exactly
    mergeable), so the final exact window sees batches x eval x
    {KNN_K} rows, never the full eval x corpus cross product. Swap the
    GEMM stage for any ANN tier's candidates at 100 TB; the vote
    reduction is unchanged.

    Accuracy note (same honesty as ml_naive_bayes_langid): this
    corpus's labels are geometry-independent, so accuracy lands at
    chance (~1/n_labels) by construction — the operator's correctness
    is the hash-pinned scoring/vote mechanics (plus a numpy replay in
    tests/test_evalmetrics.py), not a recall gate.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") < KNN_N_TEST)
        .select("vec_id", "label", "embedding")
        .collect()
    )  # bounded: KNN_N_TEST x dim eval matrix (the model-input convention)
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qlabels = {int(r.vec_id): int(r.label) for r in qrows}
    qmat = _round_half_away(
        np.array([r.embedding for r in qrows], dtype=np.float64) * _KNN_Q
    )

    def score(batches):
        for pdf in batches:
            t = _round_half_away(
                np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64) * _KNN_Q
            )
            sims = t @ qmat.T  # exact int64 GEMM: (batch, n_queries)
            vids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            k = min(KNN_K, len(vids))
            out = {"qid": [], "vec_id": [], "label": [], "sim": []}
            for j, qid in enumerate(qids):
                col = sims[:, j]
                # per-batch partial top-k with the (sim DESC, vec_id ASC)
                # tie-break: lexsort on (-sim, vec_id)
                idx = np.lexsort((vids, -col))[:k]
                out["qid"].extend([qid] * len(idx))
                out["vec_id"].extend(vids[idx])
                out["label"].extend(labels[idx])
                out["sim"].extend(col[idx])
            yield pd.DataFrame(out)

    partial = (
        e.where(F.col("vec_id") >= KNN_N_TEST)
        .select("vec_id", "label", "embedding")
        .mapInPandas(score, "qid long, vec_id long, label long, sim long")
    )
    wr = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    votes = (
        partial.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= KNN_K)
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wv = Window.partitionBy("qid").orderBy(F.col("n").desc(), "label")
    truth = F.broadcast(
        local_df(
            spark, [(int(q), qlabels[int(q)]) for q in qids], "qid long, true_label long"
        )
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .join(truth, "qid")
        .select(
            F.col("qid").cast("bigint").alias("qid"),
            F.col("true_label").cast("bigint").alias("true_label"),
            F.col("label").cast("bigint").alias("pred_label"),
            F.col("n").cast("bigint").alias("votes"),
        )
        .orderBy("qid")
    )


CENTROID_SPLIT_MOD = 10  # hash % 10 < 8 -> train (deterministic 80/20)
CENTROID_TRAIN_BELOW = 8


@register(
    "ml_centroid_train_eval_pipeline",
    tags=("ml", "pipeline"),
    oracle=f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mic,
         {sql_hash60("'cvsplit|' || CAST(vec_id AS VARCHAR)")} % {CENTROID_SPLIT_MOD}
           < {CENTROID_TRAIN_BELOW} AS is_train
  FROM embeddings
),
train_dims AS (
  SELECT label, g.d, mic[g.d] AS v
  FROM e CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(mic))) AS d) g
  WHERE is_train
),
cent AS (
  SELECT label AS clabel, d,
         CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM train_dims GROUP BY label, d
),
test_dims AS (
  SELECT vec_id, label AS true_label, g.d, mic[g.d] AS v
  FROM e CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(mic))) AS d) g
  WHERE NOT is_train
),
dist AS (
  SELECT t.vec_id, t.true_label, c.clabel,
         SUM((t.v - c.c) * (t.v - c.c)) AS d2
  FROM test_dims t JOIN cent c ON t.d = c.d
  GROUP BY t.vec_id, t.true_label, c.clabel
),
pred AS (
  SELECT vec_id, true_label, clabel AS pred_label FROM (
    SELECT vec_id, true_label, clabel,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk
    FROM dist
  ) WHERE rk = 1
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       COUNT(*) AS n_test,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS acc
FROM pred GROUP BY true_label ORDER BY true_label
""",
)
def ml_centroid_train_eval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END supervised pipeline in one declared DAG:
    deterministic hash 80/20 split → per-label centroid TRAINING on
    the train fold (micro-integer component sums — exact, mergeable,
    partition-invariant) → nearest-centroid CLASSIFICATION of the test
    fold (squared distances are exact bigint sums over micro-units, so
    the argmin and the accuracy are bit-deterministic) → per-class
    accuracy EVALUATION. The composition proof for the ML surface,
    the way pipe_end_to_end_curation composes the curation stages.

    Scale: the model is label_count × dim rows (640 here) — a
    broadcast join against the exploded test fold; both the training
    reduction and the distance reduction are partial-aggregable
    integer sums; the split is a stateless hash predicate. No stage
    materializes the corpus on the driver.

    Accuracy note: labels in this corpus are geometry-independent, so
    per-class accuracy sits at chance — the declared correctness is
    the end-to-end hash (split, centroids, argmin, counts) plus a
    numpy replay test, not an accuracy gate.
    """
    from spark_rapids_ml_spark.functions.portable import hash60
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000, 0).cast("bigint"),
        ).alias("mic"),
        (
            hash60(F.concat(F.lit("cvsplit|"), F.col("vec_id").cast("string")))
            % CENTROID_SPLIT_MOD
            < CENTROID_TRAIN_BELOW
        ).alias("is_train"),
    )
    dims = e.select(
        "vec_id", "label", "is_train", F.posexplode("mic").alias("d0", "v")
    ).select("vec_id", "label", "is_train", (F.col("d0") + 1).alias("d"), "v")
    cent = (
        dims.where(F.col("is_train"))
        .groupBy(F.col("label").alias("clabel"), "d")
        .agg(
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 0)
            .cast("bigint")
            .alias("c")
        )
    )
    test_dims = dims.where(~F.col("is_train")).select(
        "vec_id", F.col("label").alias("true_label"), "d", "v"
    )
    dist = (
        test_dims.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "true_label", "clabel")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
    )
    wr = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    pred = (
        dist.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("vec_id", "true_label", F.col("clabel").alias("pred_label"))
    )
    return (
        pred.groupBy(F.col("true_label").cast("bigint").alias("true_label"))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
        .withColumn(
            "acc",
            F.col("n_correct").cast("double") / F.col("n_test").cast("double"),
        )
        .orderBy("true_label")
    )
