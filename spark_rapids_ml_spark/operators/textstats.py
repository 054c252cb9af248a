"""Text analysis operators for training-data pipelines.

- token counting (whitespace + regex "wordish" tokens)
- corpus / language statistics
- TF-IDF top terms per document
- quality scoring (length, stopword ratio, mean token length, …)
- n-gram-profile language ID (corpus-trained heuristic)
- document fingerprinting (normalized-token-set portable hash)

Everything is built-in SQL expressions (explode + joins + windows), so
each stage is a linear scan plus aggregations whose shuffles carry
only (token, count)-shaped rows — at 100 TB the vocabulary, not the
token stream, crosses the network.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_rapids_ml_spark.functions.portable import hash60, sql_hash60
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.functions.text import SQL_TOKENS
from spark_rapids_ml_spark.query_run import cache
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.sources.catalog import load

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@register(
    "text_token_count",
    tags=("text",),
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_split_to_array(text, '[^a-z0-9]+')) AS BIGINT) AS n_re_tokens,
       n_chars,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_actual
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and regex tokenization counts (the BPE-ish pre-token
    split a training pipeline runs before a real tokenizer)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.split("text", "[^a-z0-9]+")).cast("bigint").alias("n_re_tokens"),
        "n_chars",
        F.length("text").cast("bigint").alias("n_chars_actual"),
    ).orderBy("doc_id")


@register(
    "text_corpus_stats",
    tags=("text", "agg"),
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang, source
ORDER BY lang, source
""",
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token/char/doc aggregates over documents."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "text_tfidf_top_terms",
    tags=("text", "tfidf"),
    bench=True,
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf, rk FROM ranked
WHERE rk <= 3 AND doc_id <= 100
ORDER BY doc_id, rk
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Scale: tf is a (doc, term) group-by; df a (term) group-by; the
    join broadcasts the df table when the vocabulary is small, else
    shuffles on term. The rank key is the rounded score so the window
    output is deterministic cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where((F.col("rk") <= 3) & (F.col("doc_id") <= 100))
        .orderBy("doc_id", "rk")
    )


_SW_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_quality_score",
    tags=("text", "quality"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, n_chars FROM documents WHERE doc_id <= 300
),
m AS (
  SELECT doc_id, n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x -> list_contains({_SW_LIST_SQL}, x))) AS BIGINT) AS n_stop,
         CAST(len(list_filter(toks, x -> len(x) >= 4)) AS BIGINT) AS n_long
  FROM t
)
SELECT doc_id, n_tokens, n_stop,
       -- rational ratios of identical ints: left unrounded — both
       -- engines produce the identical IEEE double, while ROUND's
       -- tie-break semantics differ on exact decimal boundaries
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_chars AS DOUBLE) / n_tokens AS mean_token_len,
       CAST(n_long AS DOUBLE) / n_tokens AS long_token_ratio,
       0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0)
         + 0.3 * (CAST(n_stop AS DOUBLE) / n_tokens)
         + 0.3 * (CAST(n_long AS DOUBLE) / n_tokens) AS quality
FROM m
ORDER BY doc_id
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation, stopword ratio
    (fluency proxy), long-token ratio (content proxy) — the standard
    cheap pre-filter before expensive model-based scoring."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    m = d.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("bigint").alias("n_stop"),
        F.size(F.filter(toks, lambda x: F.length(x) >= 4)).cast("bigint").alias("n_long"),
    )
    n_tok = F.col("n_tokens").cast("double")
    quality = (
        0.4 * F.least(n_tok / 100, F.lit(1.0))
        + 0.3 * (F.col("n_stop") / n_tok)
        + 0.3 * (F.col("n_long") / n_tok)
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_stop",
        (F.col("n_stop") / n_tok).alias("stopword_ratio"),
        (F.col("n_chars") / n_tok).alias("mean_token_len"),
        (F.col("n_long") / n_tok).alias("long_token_ratio"),
        quality.alias("quality"),
    ).orderBy("doc_id")


def langid_predictions(d: DataFrame) -> DataFrame:
    """(doc_id, true_lang, pred_lang) from the profile language
    classifier: top-20-token profiles per language trained from the
    corpus, each doc classified by distinct-term profile overlap with
    (hits DESC, lang) tie-break. Shared by text_langid_profile
    (accuracy view) and ml_eval_confusion_prf (per-class PRF view) so
    both metrics grade the SAME predictor.

    Scale: profiles are a tiny broadcast table (n_langs x 20); the
    classify join is (distinct doc-term) ⋈ profile on term — linear in
    the corpus with a broadcast join."""
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    wl = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    profile = (
        tok.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(wl))
        .where(F.col("rk") <= 20)
        .select(F.col("lang").alias("cand_lang"), "term")
    )
    doc_terms = tok.select("doc_id", F.col("lang").alias("true_lang"), "term").distinct()
    overlap = (
        doc_terms.join(F.broadcast(profile), "term")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand_lang"))
    return (
        overlap.withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") == 1)
        .select("doc_id", "true_lang", F.col("cand_lang").alias("pred_lang"))
    )


@register(
    "text_langid_profile",
    tags=("text", "langid"),
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
    SELECT doc_id, true_lang, cand_lang, hits,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rk
    FROM overlap
  ) WHERE rk = 1
)
SELECT true_lang AS lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM pred
GROUP BY true_lang
ORDER BY lang
""",
)
def text_langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: train top-20-token profiles per language
    from the corpus, classify each doc by profile overlap, report
    per-language accuracy.

    Scale: profiles are a tiny broadcast table (n_langs x 20); the
    classify join is (distinct doc-term) ⋈ profile on term — linear in
    the corpus with a broadcast join.
    """
    pred = langid_predictions(load(spark, sf_dir, "documents"))
    return (
        pred.groupBy(F.col("true_lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
        .orderBy("lang")
    )


@register(
    "text_fingerprint",
    tags=("text", "fingerprint"),
    oracle=f"""
SELECT doc_id,
       {sql_hash60("array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')")} AS fingerprint
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-token-set fingerprint (the classic key-collision /
    near-dup canonicalization): sort the distinct tokens, hash the
    joined string with the portable hash — docs that differ only in
    token order/multiplicity collide."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    canon = F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
    return d.select("doc_id", hash60(canon).alias("fingerprint")).orderBy("doc_id")


WINNOW_K = 8  # character k-gram length
WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars is caught)


@register(
    "text_winnow_fingerprint",
    tags=("text", "fingerprint"),
    oracle=f"""
WITH g AS (
  SELECT doc_id, text, GREATEST(LENGTH(text) - {WINNOW_K - 1}, 1) AS m
  FROM documents WHERE doc_id <= 200
),
h AS (
  SELECT doc_id, m,
         list_transform(generate_series(1, m),
                        i -> {sql_hash60(f"substr(text, CAST(i AS INT), {WINNOW_K})")}) AS hs
  FROM g
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, GREATEST(len(hs) - {WINNOW_W - 1}, 1)),
                                      j -> list_aggregate(hs[CAST(j AS INT):CAST(LEAST(j + {WINNOW_W - 1}, len(hs)) AS INT)], 'min'))) AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       list_aggregate(fps, 'min') AS min_fp,
       list_aggregate(fps, 'max') AS max_fp
FROM sel
ORDER BY doc_id
""",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS rolling-hash scheme): hash
    every character k-gram, then keep the minimum hash of each sliding
    window of w consecutive k-gram hashes — any shared substring of
    length >= k+w-1 between two documents is guaranteed to share a
    selected fingerprint. Output summarizes the selected set per doc
    (count + extrema) so the check is hash-exact without exploding
    rows; the portable hash makes the selection bit-identical in both
    engines.

    Scale: per-document local computation (no shuffle until the final
    sort); the downstream near-dup join on selected fingerprints is a
    posting-list equi-join like the shingle/LSH paths.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    m = F.greatest(F.length("text") - (WINNOW_K - 1), F.lit(1))
    hs = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: hash60(
            F.substring(F.col("text"), i.cast("int"), F.lit(WINNOW_K))
        ),
    )
    with_h = d.select("doc_id", hs.alias("hs"))
    n_win = F.greatest(F.size("hs") - (WINNOW_W - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda j: F.array_min(F.slice("hs", j, WINNOW_W)),
        )
    )
    return (
        with_h.select("doc_id", fps.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").cast("bigint").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bigram_lm_score",
    tags=("text", "llm", "quality"),
    oracle="""
WITH tok AS (
  SELECT doc_id, u.pos, u.w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(t))), unnest(t)
  ) u(pos, w)
),
big AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
uni_cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
big_cnt AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY w1, w2),
v AS (SELECT COUNT(DISTINCT w) AS v FROM tok)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(LN((bc.c + 1.0) / (uc.c + v.v))), 6) AS avg_logprob
FROM big d
JOIN big_cnt bc ON bc.w1 = d.w1 AND bc.w2 = d.w2
JOIN uni_cnt uc ON uc.w = d.w1
CROSS JOIN v
WHERE d.doc_id <= 200
GROUP BY d.doc_id
ORDER BY d.doc_id
""",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM document quality score: train an add-one-smoothed
    bigram model ON the corpus itself (the classic perplexity-filter
    stage of LLM data pipelines), then score each document by its mean
    bigram log-probability avg(ln((c(w1,w2)+1)/(c(w1)+V))).

    Scale: bigram formation is a JVM-side array transform (linear, no
    shuffle, no self-join); the model is two count aggregates (one
    shuffle each, vocabulary-sized output); scoring joins the model
    back — the "broadcast the model" pattern when the vocabulary is
    bounded, plain equi-joins otherwise. Counts are exact integers in
    both engines; ln() and the final mean are the only FP ops, rounded
    at 6dp (ties measure-zero for transcendental values)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).where(F.size("t") >= 2)
    # per-OCCURRENCE bigrams straight from the token array — the
    # array is a materialized column, so the lambda's element_at hits
    # a cheap attribute, not a re-evaluated expression
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i.cast("int")).alias("w1"),
                    F.element_at("t", (i + 1).cast("int")).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    uni_cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("uc"))
    big_cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    vdf = tok.agg(F.countDistinct("w").alias("v"))
    scored = (
        big.where(F.col("doc_id") <= 200)
        .join(big_cnt, ["w1", "w2"])
        .join(uni_cnt.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vdf))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("bc") + F.lit(1.0)) / (F.col("uc") + F.col("v")))), 6
            ).alias("avg_logprob"),
        )
    )
    return scored.orderBy("doc_id")


@register(
    "text_repetition_stats",
    tags=("text", "quality"),
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id <= 300
),
uni AS (
  SELECT doc_id, u.tok, COUNT(*) AS c
  FROM t, UNNEST(toks) AS u(tok)
  GROUP BY doc_id, u.tok
),
ustat AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS max_uni
  FROM uni GROUP BY doc_id
),
bi AS (
  SELECT doc_id, toks[CAST(u.g AS INT)] || ' ' || toks[CAST(u.g + 1 AS INT)] AS bg
  FROM t CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(toks) - 1))
  ) u(g)
),
bstat AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT bg) AS n_bigrams_distinct
  FROM bi GROUP BY doc_id
)
SELECT u.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(max_uni AS DOUBLE) / n_tokens, 6) AS top_unigram_frac,
       ROUND(1.0 - CAST(n_bigrams_distinct AS DOUBLE) / n_bigrams, 6) AS dup_bigram_frac
FROM ustat u JOIN bstat b ON u.doc_id = b.doc_id
ORDER BY u.doc_id
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rules family): fraction
    of tokens taken by the single most frequent unigram, and fraction
    of bigram occurrences that are repeats. High values mark
    boilerplate / keyword-stuffed documents a training pipeline drops.

    Scale: explode + two-level partial-aggregated group-bys keyed on
    (doc_id, gram) then doc_id — linear in corpus token count, and the
    doc_id-keyed shuffles are maximally spreadable (one doc's grams
    land on one reducer only for its own rollup). No per-doc O(n^2)
    higher-order-function scan, which would look shuffle-free but burn
    quadratic CPU inside each row at 100 TB.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    uni = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"), F.max("c").alias("max_uni"))
    )
    n = F.size("toks")
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    bstat = bigrams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("bg").alias("n_bigrams_distinct"),
    )
    return (
        uni.join(bstat, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("max_uni").cast("double") / F.col("n_tokens"), 6).alias(
                "top_unigram_frac"
            ),
            F.round(
                F.lit(1.0) - F.col("n_bigrams_distinct").cast("double") / F.col("n_bigrams"), 6
            ).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )


# Term blocklist for redaction; \b word boundaries are supported by
# both Java regex (Spark) and RE2 (DuckDB) with identical semantics
# on [a-z ] text.
_REDACT_PATTERN = r"\b(customer|order|value)\b"


@register(
    "text_term_redaction",
    tags=("text", "quality"),
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b(customer|order|value)\b')) AS BIGINT)
         AS n_redacted,
       CAST(length(regexp_replace(text, '\b(customer|order|value)\b', '[MASK]', 'g'))
         AS BIGINT) AS redacted_chars,
       substr(regexp_replace(text, '\b(customer|order|value)\b', '[MASK]', 'g'), 1, 80)
         AS sample
FROM documents WHERE doc_id <= 300
ORDER BY doc_id
""",
)
def text_term_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based scrubbing (the PII/blocklist-redaction shape):
    replace every whole-word blocklist hit with a mask token and count
    hits per document.

    Scale: a stateless projection — regexp runs JVM-side inside
    whole-stage codegen, no shuffle, no UDF; at 100 TB this is a pure
    map stage whose cost is one linear scan of the text bytes, and
    column pruning keeps non-text columns out of the scan.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    red = F.regexp_replace("text", _REDACT_PATTERN, "[MASK]")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_REDACT_PATTERN)).cast("bigint").alias("n_redacted"),
        F.length(red).cast("bigint").alias("redacted_chars"),
        F.substring(red, 1, 80).alias("sample"),
    ).orderBy("doc_id")


COLLOC_MIN_COUNT = 5  # support floor: lift over rare bigrams is noise
COLLOC_TOP_K = 20


@register(
    "text_collocation_lift",
    tags=("text",),
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT l[i] AS w1, l[i + 1] AS w2
  FROM d CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) g
),
cxy AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2),
cx AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
cy AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY w2),
tot AS (SELECT COUNT(*) AS nb FROM bg)
SELECT p.w1, p.w2, CAST(p.n_pair AS BIGINT) AS n_pair,
       CAST(p.n_pair * t.nb AS DOUBLE) / CAST(x.c1 * y.c2 AS DOUBLE) AS lift
FROM cxy p
JOIN cx x ON p.w1 = x.w1
JOIN cy y ON p.w2 = y.w2
CROSS JOIN tot t
WHERE p.n_pair >= {COLLOC_MIN_COUNT}
ORDER BY lift DESC, p.w1, p.w2
LIMIT {COLLOC_TOP_K}
""",
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations ranked by lift = N·c(xy) / (c(x•)·c(•y))
    — the PMI statistic without the log (same ranking, but the score
    is ONE IEEE division of exact integer products, so the order and
    cutoff are bit-deterministic cross-engine; ln() is not guaranteed
    correctly rounded across libms). Marginals are first/second
    bigram-position counts, so the contingency table is self-consistent.

    Scale: bigrams are built IN-ROW (transform over the token array —
    no positional self-join, no window shuffle), then three
    partial-aggregable group-bys whose exchange carries the bigram
    VOCABULARY, not the corpus; the total is a 1-row broadcast. The
    final top-k sorts only bigrams above the support floor.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("l"))
        .where(F.size("l") >= 2)
    )
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")

    # ONE corpus-wide reduction; the marginals and the total then
    # aggregate the already-reduced (w1, w2, n_pair) vocabulary table
    # (sum over a group of counts == count over the group's rows), so
    # the token stream crosses the network exactly once.
    cxy = cache(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")))
    cx = cxy.groupBy("w1").agg(F.sum("n_pair").alias("c1"))
    cy = cxy.groupBy("w2").agg(F.sum("n_pair").alias("c2"))
    tot = cxy.agg(F.sum("n_pair").alias("nb"))
    return (
        cxy.where(F.col("n_pair") >= COLLOC_MIN_COUNT)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            (
                (F.col("n_pair") * F.col("nb")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(COLLOC_TOP_K)
    )


# --------------------------------------------- vocabulary coverage

VOCAB_CURVE_SIZES = (1, 2, 4, 8, 16, 32, 64, 128)


@register(
    "text_vocab_coverage_curve",
    tags=("text", "pipeline"),
    oracle=f"""
WITH tok AS MATERIALIZED (
  SELECT unnest({SQL_TOKENS}) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
tot AS (SELECT SUM(c) AS total FROM tf),
ranked AS (
  SELECT term, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk,
         SUM(c) OVER (ORDER BY c DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tf
),
sizes AS (SELECT unnest([{", ".join(str(k) for k in VOCAB_CURVE_SIZES)}]) AS k)
SELECT s.k AS vocab_size,
       CAST(MAX(r.cum) AS BIGINT) AS tokens_covered,
       CAST((SELECT total FROM tot) AS BIGINT) AS total_tokens,
       ROUND(CAST(MAX(r.cum) AS DOUBLE)
             / CAST((SELECT total FROM tot) AS DOUBLE), 6) AS coverage
FROM sizes s JOIN ranked r ON r.rk <= s.k
GROUP BY s.k ORDER BY s.k
""",
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for candidate vocab sizes k (powers
    of two), the fraction of ALL corpus token occurrences covered by
    the k most frequent terms — the out-of-vocabulary-rate curve
    tokenizer design runs before committing a vocab budget (BPE's
    merge count, a word-piece cap). Tie order (freq DESC, term) makes
    the ranking total, so every point is exact.

    Scale: the corpus-sized work is ONE token-frequency groupBy whose
    exchange carries the vocabulary, not the token stream (the
    textstats module discipline). The global ranking window never sees
    the vocabulary either: a PARTIAL TOP-K first keeps each shuffle
    partition's local top max(sizes) terms — any partition-local
    superset of the global top-k preserves both the top-k membership
    and every cum <= rank-k prefix sum — so the window input is
    bounded at max(sizes) x shuffle partitions regardless of how far
    Heap's law grows the vocabulary (web scale: billions of distinct
    tokens, single-task before round 8). The curve output is |sizes|
    rows.
    """
    k_max = max(VOCAB_CURVE_SIZES)
    tok = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.agg(F.sum("c").alias("total"))
    w_local = Window.partitionBy("_p").orderBy(F.col("c").desc(), "term")
    pruned = (
        tf.withColumn("_p", F.spark_partition_id())
        .withColumn("_lrk", F.row_number().over(w_local))
        .where(F.col("_lrk") <= k_max)
        .drop("_lrk", "_p")
    )
    wr = Window.orderBy(F.col("c").desc(), "term")
    ranked = pruned.select(
        "c",
        F.row_number().over(wr).alias("rk"),
        F.sum("c").over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
    ).where(F.col("rk") <= k_max)
    sizes = local_df(spark, [(k,) for k in VOCAB_CURVE_SIZES], "k int")
    return (
        sizes.join(ranked, ranked["rk"] <= sizes["k"])
        .groupBy("k")
        .agg(F.max("cum").alias("covered"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("vocab_size"),
            F.col("covered").cast("bigint").alias("tokens_covered"),
            F.col("total").cast("bigint").alias("total_tokens"),
            F.round(F.col("covered").cast("double") / F.col("total").cast("double"), 6).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


# Gopher-style rule thresholds (Rae et al. 2021 §A1.1, re-centered on
# this corpus' distributions so each rule actually splits documents:
# token count p10/p90 = 21/88, mean word length p10/p90 = 5.2/5.7,
# top-unigram fraction p90 = 0.14, dup-bigram fraction p90 = 0.065).
GOPHER_MIN_TOKENS = 25
GOPHER_MAX_TOKENS = 90
GOPHER_MIN_MWL = 5.0
GOPHER_MAX_MWL = 6.0
GOPHER_MAX_TOP_UNIGRAM = 0.125
GOPHER_MAX_DUP_BIGRAM = 0.06
GOPHER_MIN_STOPWORD = 0.02


@register(
    "text_gopher_quality_filter",
    tags=("text", "quality"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks, n_chars FROM documents
),
uni AS (
  SELECT doc_id, MAX(c) AS max_uni FROM (
    SELECT doc_id, u.tok, COUNT(*) AS c
    FROM t, UNNEST(toks) AS u(tok) GROUP BY doc_id, u.tok
  ) GROUP BY doc_id
),
bi AS (
  SELECT doc_id, COUNT(*) AS n_bi, COUNT(DISTINCT bg) AS n_bi_d FROM (
    SELECT doc_id, toks[CAST(u.g AS INT)] || ' ' || toks[CAST(u.g + 1 AS INT)] AS bg
    FROM t CROSS JOIN LATERAL (
      SELECT unnest(generate_series(1, len(toks) - 1))
    ) u(g)
  ) GROUP BY doc_id
),
m AS (
  SELECT t.doc_id, t.source,
         len(t.toks) AS nt,
         CAST(t.n_chars AS DOUBLE) / len(t.toks) AS mwl,
         CAST(u.max_uni AS DOUBLE) / len(t.toks) AS tuf,
         1.0 - CAST(b.n_bi_d AS DOUBLE) / b.n_bi AS dbf,
         CAST(len(list_filter(t.toks, x -> list_contains({_SW_LIST_SQL}, x))) AS DOUBLE)
           / len(t.toks) AS swr
  FROM t JOIN uni u ON u.doc_id = t.doc_id JOIN bi b ON b.doc_id = t.doc_id
),
r AS (
  SELECT source,
         CASE WHEN nt BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS} THEN 0 ELSE 1 END AS f_len,
         CASE WHEN mwl >= {GOPHER_MIN_MWL} AND mwl <= {GOPHER_MAX_MWL} THEN 0 ELSE 1 END AS f_mwl,
         CASE WHEN tuf <= {GOPHER_MAX_TOP_UNIGRAM} THEN 0 ELSE 1 END AS f_uni,
         CASE WHEN dbf <= {GOPHER_MAX_DUP_BIGRAM} THEN 0 ELSE 1 END AS f_bi,
         CASE WHEN swr >= {GOPHER_MIN_STOPWORD} THEN 0 ELSE 1 END AS f_sw
  FROM m
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN f_len + f_mwl + f_uni + f_bi + f_sw = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(f_len) AS BIGINT) AS fail_len,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_word_len,
       CAST(SUM(f_uni) AS BIGINT) AS fail_top_unigram,
       CAST(SUM(f_bi) AS BIGINT) AS fail_dup_bigram,
       CAST(SUM(f_sw) AS BIGINT) AS fail_stopword,
       ROUND(SUM(CASE WHEN f_len + f_mwl + f_uni + f_bi + f_sw = 0 THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS pass_rate
FROM r GROUP BY source ORDER BY source
""",
)
def text_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021) as a per-source data-
    quality report: token-count bounds, mean-word-length bounds,
    top-unigram concentration, duplicate-bigram fraction, and a
    minimum stopword ratio — the standard cheap filter pass a training
    pipeline runs before model-based scoring, rolled up to pass rates
    and per-rule failure counts by source (the view a curation team
    actually triages).

    Every rule is a comparison of a ratio of exact integers against a
    decimal literal — identical IEEE doubles cross-engine, so each
    boolean (and therefore every count) is deterministic.

    Scale: two explode+reduce passes keyed by (doc_id, gram) then
    doc_id — linear in corpus tokens, maximally spreadable — then a
    per-source rollup whose exchange carries one row per document.
    No per-doc quadratic HOF scans; the bigram distinct count rides
    the same doc_id-keyed shuffle as text_repetition_stats.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", "n_chars", F.split("text", " ").alias("toks"))
    uni = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_uni"))
    )
    n = F.size("toks")
    bi = (
        toks.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n - 1),
                    F.slice("toks", 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bg"),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bi"), F.countDistinct("bg").alias("n_bi_d"))
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    m = (
        toks.join(uni, "doc_id")
        .join(bi, "doc_id")
        .select(
            "source",
            F.size("toks").alias("nt"),
            (F.col("n_chars").cast("double") / F.size("toks")).alias("mwl"),
            (F.col("max_uni").cast("double") / F.size("toks")).alias("tuf"),
            (F.lit(1.0) - F.col("n_bi_d").cast("double") / F.col("n_bi")).alias("dbf"),
            (
                F.size(F.filter("toks", lambda x: F.array_contains(sw, x))).cast("double")
                / F.size("toks")
            ).alias("swr"),
        )
    )
    f_len = F.when(F.col("nt").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS), 0).otherwise(1)
    f_mwl = F.when(
        (F.col("mwl") >= GOPHER_MIN_MWL) & (F.col("mwl") <= GOPHER_MAX_MWL), 0
    ).otherwise(1)
    f_uni = F.when(F.col("tuf") <= GOPHER_MAX_TOP_UNIGRAM, 0).otherwise(1)
    f_bi = F.when(F.col("dbf") <= GOPHER_MAX_DUP_BIGRAM, 0).otherwise(1)
    f_sw = F.when(F.col("swr") >= GOPHER_MIN_STOPWORD, 0).otherwise(1)
    r = m.select(
        "source",
        f_len.alias("f_len"),
        f_mwl.alias("f_mwl"),
        f_uni.alias("f_uni"),
        f_bi.alias("f_bi"),
        f_sw.alias("f_sw"),
    )
    all_pass = F.when(
        F.col("f_len") + F.col("f_mwl") + F.col("f_uni") + F.col("f_bi") + F.col("f_sw")
        == 0,
        1,
    ).otherwise(0)
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(all_pass).cast("bigint").alias("n_pass"),
            F.sum("f_len").cast("bigint").alias("fail_len"),
            F.sum("f_mwl").cast("bigint").alias("fail_word_len"),
            F.sum("f_uni").cast("bigint").alias("fail_top_unigram"),
            F.sum("f_bi").cast("bigint").alias("fail_dup_bigram"),
            F.sum("f_sw").cast("bigint").alias("fail_stopword"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            "fail_len",
            "fail_word_len",
            "fail_top_unigram",
            "fail_dup_bigram",
            "fail_stopword",
            F.round(F.col("n_pass") * 1.0 / F.col("n_docs"), 6).alias("pass_rate"),
        )
        .orderBy("source")
    )


ZIPF_TOP_RANKS = 200  # OLS fit window: the head of the rank-frequency curve


@register(
    "text_zipf_law_fit",
    tags=("text", "stats"),
    oracle=f"""
WITH tf AS (
  SELECT u.tok AS term, COUNT(*) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  GROUP BY u.tok
),
rk AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
  FROM tf
),
head AS (SELECT * FROM rk WHERE rank <= {ZIPF_TOP_RANKS})
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(freq) AS BIGINT) AS head_tokens,
       ROUND(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
       ROUND(regr_intercept(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_intercept,
       ROUND(regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_r2
FROM head
""",
)
def text_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: rank terms by
    frequency and OLS-fit ln(freq) ~ ln(rank) over the top
    {ZIPF_TOP_RANKS} ranks — slope ≈ -1 is the natural-language
    signature; a flat or cliff-shaped curve marks synthetic or
    template-heavy corpora (a standard corpus health check before
    training).

    Scale: term frequencies are one (token)-keyed partial-aggregable
    reduce; the global rank runs on the DISTRIBUTED range-partitioned
    scan (functions/scan.ranged_row_number — no single-task
    Exchange even at billion-term web vocabularies), and the OLS
    partials reduce the {ZIPF_TOP_RANKS}-row head to one row. Doubles
    enter only at ln(); regr_* sums are order-absorbed by ROUND(4)
    (the linreg_slope_1d discipline).
    """
    from spark_rapids_ml_spark.functions.scan import ranged_row_number

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rk = ranged_row_number(tf, [F.col("freq").desc(), F.col("term")], rn_col="rank")
    head = rk.where(F.col("rank") <= ZIPF_TOP_RANKS).select(
        F.log(F.col("freq").cast("double")).alias("y"),
        F.log(F.col("rank").cast("double")).alias("x"),
        "freq",
    )
    s = head.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("freq").cast("bigint").alias("head_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nn
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    vary = F.col("syy") - F.col("sy") * F.col("sy") / nn
    slope = cov / varx
    intercept = (F.col("sy") - slope * F.col("sx")) / nn
    r2 = (cov * cov) / (varx * vary)
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        "head_tokens",
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
        F.round(r2, 4).alias("zipf_r2"),
    )


RAKE_MAX_PHRASE = 4   # candidate phrases capped at 4 tokens (standard RAKE practice)
RAKE_TOP = 15
RAKE_MICRO = 1_000_000
RAKE_SLICE_CEIL = 50_000  # deterministic 1-in-m doc subsample above this


@register(
    "text_rake_keywords",
    tags=("text", "quality"),
    oracle=f"""
WITH src AS (
  -- RAKE_SLICE_CEIL-doc deterministic mod-subsample (the doc_slice_cap
  -- discipline): bounds the oracle's 28M-token window sort at sf10
  SELECT doc_id, text FROM documents
  WHERE doc_id % (SELECT CAST(CEIL(COUNT(*) / {RAKE_SLICE_CEIL}.0) AS BIGINT)
                  FROM documents) = 0
),
tok AS (
  SELECT doc_id, u.pos, u.tok,
         CASE WHEN list_contains({_SW_LIST_SQL}, u.tok) THEN 1 ELSE 0 END AS sw
  FROM src t
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(string_split(text, ' ')))),
           unnest(string_split(text, ' '))
  ) u(pos, tok)
),
runs AS (
  SELECT doc_id, pos, tok, sw,
         SUM(sw) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS run
  FROM tok
),
phr AS MATERIALIZED (
  SELECT doc_id, run, list(tok ORDER BY pos) AS toks
  FROM runs WHERE sw = 0
  GROUP BY doc_id, run
  HAVING COUNT(*) <= {RAKE_MAX_PHRASE}
),
occ AS MATERIALIZED (SELECT doc_id, run, u.w FROM phr, UNNEST(toks) AS u(w)),
ws AS (
  SELECT w, COUNT(*) AS freq, CAST(SUM(l) AS BIGINT) AS deg FROM (
    SELECT o.w, len(p.toks) AS l
    FROM occ o JOIN phr p ON p.doc_id = o.doc_id AND p.run = o.run
  ) GROUP BY w
),
wsc AS MATERIALIZED (SELECT w, (deg * {RAKE_MICRO}) // freq AS w_micro FROM ws),
psc AS (
  SELECT o.doc_id, o.run, CAST(SUM(s.w_micro) AS BIGINT) AS score_micro
  FROM occ o JOIN wsc s ON s.w = o.w
  GROUP BY o.doc_id, o.run
),
agg AS (
  SELECT array_to_string(p.toks, ' ') AS phrase,
         COUNT(*) AS n_occurrences,
         MAX(c.score_micro) AS score_micro
  FROM phr p JOIN psc c ON c.doc_id = p.doc_id AND c.run = p.run
  GROUP BY 1
)
SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences, score_micro,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT phrase, n_occurrences, score_micro,
         ROW_NUMBER() OVER (ORDER BY score_micro DESC, phrase) AS rk
  FROM agg
)
WHERE rk <= {RAKE_TOP}
ORDER BY rk
""",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (capped at {RAKE_MAX_PHRASE}
    tokens), each member word scored degree/frequency over the whole
    corpus (degree = total length of phrases containing it — rewarding
    words that co-occur in longer phrases), phrase score = Σ member
    word scores; top-{RAKE_TOP} phrases corpus-wide. The unsupervised
    keyword pass a curation pipeline runs before topic labeling.

    Exactness: word scores are floored MICRO fixed-point integers
    (deg·1e6 // freq), so phrase scores are exact bigint sums —
    identical phrase strings always carry identical scores, and the
    (score, phrase) ranking is deterministic cross-engine.

    Scale: tokenization explodes once; run segmentation is a per-doc
    window (doc-bounded, never global); word statistics and phrase
    scores are (word)- and (doc, run)-keyed partial-aggregable
    reduces. The distinct-phrase table grows with the corpus, so the
    final verdict window consumes a per-partition partial top-
    {RAKE_TOP} prune first (the vocab-coverage discipline) — the
    global sort sees at most {RAKE_TOP} x partitions rows. Above
    {RAKE_SLICE_CEIL} documents the declared query scores a
    deterministic 1-in-m subsample (the doc_slice_cap discipline —
    keyword statistics saturate well below that corpus fraction).
    """
    d = load(spark, sf_dir, "documents")
    m = -(-d.count() // RAKE_SLICE_CEIL)  # ceil
    if m > 1:
        d = d.where(F.col("doc_id") % m == 0)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    ).withColumn("sw", F.array_contains(sw, F.col("tok")).cast("int"))
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = tok.withColumn("run", F.sum("sw").over(wrun))
    phr = (
        runs.where(F.col("sw") == 0)
        .groupBy("doc_id", "run")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("pt"))
        .select(
            "doc_id",
            "run",
            F.transform("pt", lambda s: s["tok"]).alias("toks"),
        )
        .where(F.size("toks") <= RAKE_MAX_PHRASE)
    )
    occ = phr.select("doc_id", "run", F.size("toks").alias("l"), F.explode("toks").alias("w"))
    ws = occ.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("l").cast("bigint").alias("deg")
    )
    wsc = ws.select("w", F.expr(f"(deg * {RAKE_MICRO}) div freq").alias("w_micro"))
    psc = (
        occ.join(wsc, "w")
        .groupBy("doc_id", "run")
        .agg(F.sum("w_micro").cast("bigint").alias("score_micro"))
    )
    agg = (
        phr.join(psc, ["doc_id", "run"])
        .groupBy(F.array_join("toks", " ").alias("phrase"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score_micro").alias("score_micro"),
        )
    )
    # partial top-k prune: the global top-RAKE_TOP is necessarily inside
    # every partition's local top-RAKE_TOP, so the final single-order
    # window sees <= RAKE_TOP x partitions rows, never all phrases
    wl = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.col("score_micro").desc(), "phrase"
    )
    pruned = agg.withColumn("_lrk", F.row_number().over(wl)).where(
        F.col("_lrk") <= RAKE_TOP
    )
    w = Window.orderBy(F.col("score_micro").desc(), "phrase")
    return (
        pruned.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= RAKE_TOP)
        .select("phrase", F.col("n_occurrences").cast("bigint").alias("n_occurrences"), "score_micro", "rk")
        .orderBy("rk")
    )


PII_PLANT_MOD = 5  # every 5th document gets planted contact strings
_PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
_PII_PHONE_RE = "555-[0-9]{2,6}"


@register(
    "text_pii_detection_scrub",
    tags=("text", "quality", "privacy"),
    oracle=f"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {PII_PLANT_MOD} = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.org or 555-' || CAST(doc_id % 10000 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
hits AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS n_phone,
         LENGTH(text) AS len_before,
         LENGTH(regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
                               '{_PII_PHONE_RE}', '[PHONE]', 'g')) AS len_after
  FROM planted
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS n_emails,
       CAST(SUM(n_phone) AS BIGINT) AS n_phones,
       CAST(SUM(len_before - len_after) AS BIGINT) AS chars_scrubbed_delta
FROM hits GROUP BY source ORDER BY source
""",
)
def text_pii_detection_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-class PII detection and scrubbing — the regex pass
    (emails, phone-shaped identifiers) a training pipeline runs before
    any text leaves the trust boundary, complementing
    text_term_redaction's word-blocklist tier. Contact strings are
    PLANTED deterministically (every {PII_PLANT_MOD}th document) so
    detector recall is non-vacuous at every sf; output is the per-
    source audit a privacy review reads: hit-document counts, per-class
    match counts, and the net size delta of the scrub (redaction
    tokens replace variable-length matches, so the delta pins the
    actual replacements, not just the counts).

    Regex parity: the character classes used are identical under Java
    regex (Spark) and RE2 (DuckDB); counts and replacement lengths are
    exact integers.

    Scale: row-local regex map + one per-source partial-aggregable
    rollup — linear, no shuffle beyond the ~|sources| summary rows.
    """
    d = load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % PII_PLANT_MOD == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org or 555-"),
                (F.col("doc_id") % 10000).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "[EMAIL]"),
        _PII_PHONE_RE,
        "[PHONE]",
    )
    hits = planted.select(
        "source",
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_EMAIL_RE}', 0)")).alias("n_email"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_PHONE_RE}', 0)")).alias("n_phone"),
        (F.length("text") - F.length(scrubbed)).alias("delta"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_email") + F.col("n_phone") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("n_email").cast("bigint").alias("n_emails"),
            F.sum("n_phone").cast("bigint").alias("n_phones"),
            F.sum("delta").cast("bigint").alias("chars_scrubbed_delta"),
        )
        .orderBy("source")
    )
