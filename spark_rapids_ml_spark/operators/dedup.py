"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all first-class queries:

- exact dedup            (hash group-by on content)
- MinHash + LSH near-dup (shingle → 16 minhashes → 4 bands → bucket join)
- SimHash near-dup       (token-hash bit voting → 32-bit signature)
- n-gram Jaccard         (exact pairwise similarity over shared shingles)
- embedding cosine       (near-dup by vector similarity)

Every hash is the *portable 60-bit md5 hash* (functions.portable) so
MinHash/SimHash signatures are bit-identical in the DuckDB oracle —
the approximate algorithms themselves are checked exactly, and their
*recall* against brute-force Jaccard is checked in
tests/test_quality.py::test_minhash_lsh_finds_true_duplicates.

Scale notes (100 TB): exact dedup and MinHash are single-shuffle
group-bys on content-derived keys (no pairwise work). LSH candidate
generation joins on (band, band_key) buckets — output is bounded by
bucket collisions, never the n^2 pair space. The exact Jaccard
operator is the *verification* stage one runs on LSH candidates only;
here it is bounded to a key range for the declared query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_rapids_ml_spark.functions.portable import hash60, sql_hash60
from spark_rapids_ml_spark.functions.localframe import local_df
from spark_rapids_ml_spark.functions.text import shingles, sql_shingle_rows

from spark_rapids_ml_spark.query_run import (
    cache as _cache,
    checkpoint,
    release,
    release_caches,
)
from spark_rapids_ml_spark.registry import register
from spark_rapids_ml_spark.session import scoped_conf
from spark_rapids_ml_spark.sources.catalog import load, load_wide

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
SIMHASH_BITS = 32


# ---------------------------------------------------------------- exact

@register(
    "dedup_exact_text",
    tags=("dedup",),
    bench=True,
    oracle="""
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies, MIN(n_chars) AS n_chars
FROM documents
GROUP BY text
ORDER BY keep_doc_id
""",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: one shuffle on the text hash, keep the
    smallest id as the canonical representative (deterministic, unlike
    dropDuplicates' arbitrary row pick)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .select("keep_doc_id", "n_copies", "n_chars")
        .orderBy("keep_doc_id")
    )


@register(
    "dedup_exact_by_hash",
    tags=("dedup",),
    oracle=f"""
WITH h AS (
  SELECT doc_id, n_chars, {sql_hash60('text')} AS th FROM documents
)
SELECT th AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM h
GROUP BY th
ORDER BY keep_doc_id
""",
)
def dedup_exact_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the 60-bit content hash — the 100 TB shape
    (the exchange carries 8-byte keys instead of document bodies; at
    10⁹ docs the 60-bit collision expectation is ~0.4 pairs, and a
    within-group text equality check resolves them when it matters)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", hash60("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


@register(
    "dedup_exact_all_columns",
    tags=("dedup",),
    oracle="""
SELECT COUNT(*) AS n_unique
FROM (SELECT DISTINCT doc_id, text, lang, source, n_chars FROM documents)
""",
)
def dedup_exact_all_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates() over ALL columns — whole-row exact dedup."""
    d = load(spark, sf_dir, "documents")
    return d.distinct().agg(F.count(F.lit(1)).alias("n_unique"))


# ------------------------------------------------------------- minhash

# Universal hashing: ONE md5-based base hash per shingle, then the
# N_MINHASH functions are h_s = (a_s * (h % P) + b_s) % P — pure bigint
# arithmetic, identical in both engines, and ~16x cheaper than hashing
# N_MINHASH times. P = 2^31 - 1 (Mersenne); a_s/b_s are fixed odd
# constants so a_s*(h%P)+b_s < 2^62 never overflows int64.
MINHASH_P = (1 << 31) - 1
MINHASH_A = [2 * s + 1 for s in range(1, N_MINHASH + 1)]
MINHASH_B = [7919 * (s + 1) for s in range(N_MINHASH)]


def _minhash_of(d: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N-1}) over any (doc_id, text) frame: minimum
    universal hash per function over the doc's distinct 3-shingles.
    One explode + one group-by — linear."""
    base = (hash60("shingle") % MINHASH_P).alias("h")
    sh = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(shingles("toks")).alias("shingle"))
        .select("doc_id", base)
    )
    aggs = [
        F.min((F.col("h") * MINHASH_A[s] + MINHASH_B[s]) % MINHASH_P).alias(f"mh{s}")
        for s in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_of(load(spark, sf_dir, "documents"))


def _sql_minhash_cte(table: str = "documents") -> str:
    base = f"({sql_hash60('shingle')} % {MINHASH_P})"
    mins = ",\n         ".join(
        f"MIN((h * {MINHASH_A[s]} + {MINHASH_B[s]}) % {MINHASH_P}) AS mh{s}"
        for s in range(N_MINHASH)
    )
    return f"""
sh AS ({sql_shingle_rows(table=table)}),
hh AS (SELECT doc_id, {base} AS h FROM sh),
mh AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM hh GROUP BY doc_id
)"""


@register(
    "dedup_minhash_signatures",
    tags=("dedup", "minhash"),
    oracle=f"""
WITH {_sql_minhash_cte()}
SELECT doc_id, {', '.join(f'mh{i}' for i in range(N_MINHASH))}
FROM mh
WHERE doc_id <= 100
ORDER BY doc_id
""",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw MinHash signature matrix (cross-engine bit-identical)."""
    return (
        _minhash_df(spark, sf_dir)
        .where(F.col("doc_id") <= 100)
        .orderBy("doc_id")
    )


# Bucket-skew guard: a degenerate corpus (thousands of identical or
# near-identical docs) lands whole cohorts in ONE band bucket, turning
# the candidate equi-join quadratic. Buckets above this cap switch
# from all-pairs to a STAR around the bucket's smallest doc_id —
# O(bucket) edges instead of O(bucket²), while keeping every member
# connected to the representative (so duplicate clustering still
# groups them; pair-level recall inside oversize buckets is the
# documented trade). The cap never binds on this testdata (max bucket
# ≪ 64); the Spark impl and the SQL oracle share the guard
# (lsh_candidate_pairs / _sql_guarded_pairs_cte), and it is exercised
# by tests/test_quality.py with 1k identical docs plus a cap±1
# boundary property test.
LSH_BUCKET_CAP = 64


def _sql_bands_cte() -> str:
    return f"""bands AS MATERIALIZED (
  {" UNION ALL ".join(
      f'''SELECT doc_id, {b} AS band,
          {sql_hash60("(" + " || '_' || ".join(f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)) + ")")} AS band_key
          FROM mh'''
      for b in range(N_BANDS)
  )}
)"""


def _sql_bucket_guard_cte(cap: int = LSH_BUCKET_CAP) -> str:
    """CTEs bstats→bx→co over an existing ``bands(doc_id, band,
    band_key)`` CTE: per-band candidate pairs with the bucket cap
    (all-pairs below cap, star around min doc above). Shared by every
    banded candidate generator (MinHash LSH, SimHash Hamming,
    hyperplane embedding LSH)."""
    return f"""bstats AS (
  SELECT band, band_key, COUNT(*) AS cnt, MIN(doc_id) AS min_doc
  FROM bands GROUP BY band, band_key
),
bx AS (
  SELECT b.doc_id, b.band, b.band_key, s.cnt, s.min_doc
  FROM bands b JOIN bstats s ON b.band = s.band AND b.band_key = s.band_key
),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bx a JOIN bx b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.cnt <= {cap}
  UNION ALL
  SELECT min_doc AS doc_a, doc_id AS doc_b
  FROM bx WHERE cnt > {cap} AND doc_id > min_doc
)"""


def _sql_guarded_pairs_cte() -> str:
    """CTEs bands→co for the MinHash path (bands + shared guard)."""
    return f"""{_sql_bands_cte()},
{_sql_bucket_guard_cte()}"""


def lsh_candidate_pairs(bands: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) candidates from a (doc_id, band,
    band_key) frame, with the bucket-skew guard. All joins are
    equi-joins on (band, band_key); per-bucket work is O(min(cnt,
    cap)·cnt), never unconditionally quadratic.

    The per-bucket stats (cnt, min_doc) ride a WINDOW over the same
    (band, band_key) partitioning the candidate join needs — one
    shuffle total, instead of a groupBy + re-join round."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_key")
    bx = bands.withColumn("cnt", F.count(F.lit(1)).over(w)).withColumn(
        "min_doc", F.min("doc_id").over(w)
    )
    small = bx.where(F.col("cnt") <= cap)
    a = small.alias("a")
    b_ = small.alias("b")
    all_pairs = a.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    star_pairs = bx.where(
        (F.col("cnt") > cap) & (F.col("doc_id") > F.col("min_doc"))
    ).select(F.col("min_doc").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return (
        all_pairs.unionAll(star_pairs)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def band_projection(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH band signatures over any (doc_id,
    text) frame — ONE posexplode projection over the minhash matrix
    (NOT a 4-way union, which would re-evaluate the whole shingle+hash
    pipeline per band). Shared by the batch candidate generator and the
    incremental streaming probe (streaming/stream_queries.py)."""
    mh = _minhash_of(docs)
    band_keys = [
        hash60(
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        for b in range(N_BANDS)
    ]
    return mh.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "band_key")
    )


def _lsh_pairs_of(docs: DataFrame) -> DataFrame:
    """Unordered guarded LSH candidate pairs over any (doc_id, text)
    frame (shared by the declared queries, which add the determinism
    ORDER BY, and the clustering stage, which doesn't need a sort).
    Cached because the guarded candidate join consumes the band
    projection multiple times."""
    bands = _cache(band_projection(docs))
    return lsh_candidate_pairs(bands)


def _lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen: the shingle+16-minhash projection is the expensive map
    # side and the single-row-group scan pins it to one core (§2.5)
    return load_wide(spark, sf_dir, "documents", min_bytes=1 << 18)


@register(
    "dedup_minhash_lsh_pairs",
    tags=("dedup", "minhash"),
    bench=True,
    oracle=f"""
WITH {_sql_minhash_cte()},
{_sql_guarded_pairs_cte()}
SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands
FROM co
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
""",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs.

    16 minhashes → 4 bands of 4; docs sharing any band bucket become a
    candidate pair. Scale: the pair join runs on (band, band_key)
    buckets so cost tracks actual collisions; the n^2 space is never
    materialized. Threshold ≈ (1/b)^(1/r) ≈ 0.71 Jaccard.
    """
    return _lsh_pairs_of(_lsh_docs(spark, sf_dir)).orderBy("doc_a", "doc_b")


SKEW_MOD = 7  # degenerate corpus: text of doc (doc_id % SKEW_MOD)


@register(
    "dedup_lsh_skew_guard",
    tags=("dedup", "minhash", "skew"),
    oracle=f"""
WITH degdocs AS (
  SELECT d.doc_id, b.text
  FROM documents d JOIN documents b ON b.doc_id = d.doc_id % {SKEW_MOD}
),
{_sql_minhash_cte(table="degdocs")},
{_sql_guarded_pairs_cte()}
SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands
FROM co
WHERE doc_b <= 250
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
""",
)
def dedup_lsh_skew_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-skew guard UNDER LOAD: a degenerate corpus where
    every doc carries the text of doc (doc_id % 7), so each of the 7
    identical-text cohorts (~N/7 docs, > the 64 cap at every sf) lands
    whole in one band bucket. The guard must switch those buckets from
    all-pairs (O(cohort²) ≈ 500k pairs per cohort at sf0.1) to a star
    around the cohort's min doc_id — O(cohort) edges, every member
    still connected for downstream clustering.

    Runs the REAL shared pipeline (shingle → minhash → bands →
    lsh_candidate_pairs — the same code path as
    dedup_minhash_lsh_pairs), not a synthetic bands frame, and the
    oracle recomputes the same guard in SQL (_sql_guarded_pairs_cte).
    The doc_b bound only trims the declared output, after the guard
    has done its work."""
    d = load(spark, sf_dir, "documents")
    reps = F.broadcast(
        d.where(F.col("doc_id") < SKEW_MOD).select(
            F.col("doc_id").alias("rep_id"), F.col("text").alias("rep_text")
        )
    )
    deg = (
        d.select("doc_id", (F.col("doc_id") % SKEW_MOD).alias("rep_id"))
        .join(reps, "rep_id")
        .select("doc_id", F.col("rep_text").alias("text"))
    )
    return (
        _lsh_pairs_of(deg)
        .where(F.col("doc_b") <= 250)
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------------- simhash

def _sql_simhash_cte() -> str:
    """CTE chain tok→th→bits→sig: (doc_id, simhash) for every doc."""
    return f"""tok AS (
  SELECT doc_id, token, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
th AS (
  SELECT doc_id, cnt, {sql_hash60('token', 7)} AS h FROM tok
),
bits AS (
  SELECT doc_id,
         {", ".join(f"(CASE WHEN SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN cnt ELSE -cnt END) > 0 THEN 1 ELSE 0 END) AS b{i}" for i in range(SIMHASH_BITS))}
  FROM th GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         CAST({" + ".join(f"b{i} * {1 << i}" for i in range(SIMHASH_BITS))} AS BIGINT) AS simhash
  FROM bits
)"""


@register(
    "dedup_simhash",
    tags=("dedup", "simhash"),
    oracle=f"""
WITH {_sql_simhash_cte()}
SELECT doc_id, simhash
FROM sig
WHERE doc_id <= 200
ORDER BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature: per-token portable hash, bit-weighted
    vote by term frequency, sign → bit. Near-dups then differ in few
    bits (Hamming); the signature itself is cross-engine exact.

    Scale: explode → two group-bys, all linear; signature join for
    near-dup candidates is a single equi-join on simhash prefix bands
    (dedup_simhash_hamming_pairs is that composition).
    """
    return (
        _simhash_df(spark, sf_dir)
        .where(F.col("doc_id") <= 200)
        .orderBy("doc_id")
    )


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) for every document."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    th = tok.select("doc_id", "cnt", hash60("token", 7).alias("h"))
    bit_aggs = [
        F.when(
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, F.col("cnt")).otherwise(
                    -F.col("cnt")
                )
            )
            > 0,
            1,
        )
        .otherwise(0)
        .alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = th.groupBy("doc_id").agg(*bit_aggs)
    acc = F.lit(0)
    for i in range(SIMHASH_BITS):
        acc = acc + F.col(f"b{i}") * F.lit(1 << i)
    return bits.select("doc_id", acc.cast("bigint").alias("simhash"))


SIMHASH_BANDS = 4  # 4 bands x 8 bits: pigeonhole-exact for hamming <= 3
SIMHASH_HAMMING_MAX = 3


@register(
    "dedup_simhash_hamming_pairs",
    tags=("dedup", "simhash", "lsh"),
    oracle=f"""
WITH {_sql_simhash_cte()},
bands AS MATERIALIZED (
  SELECT doc_id, g.b AS band,
         (simhash >> (8 * CAST(g.b AS INTEGER))) & 255 AS band_key
  FROM sig CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1}))
  ) g(b)
),
{_sql_bucket_guard_cte()},
cand AS (SELECT DISTINCT doc_a, doc_b FROM co)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_HAMMING_MAX}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming search: split each
    32-bit signature into 4 bands of 8 bits, equi-join on (band,
    band_value) THROUGH the shared oversize-bucket star guard
    (lsh_candidate_pairs — impl and oracle both), verify candidates
    with popcount(xor) ≤ 3. Where buckets are under the cap the
    banding is EXACT for this radius (pigeonhole: ≤ 3 differing bits
    cannot touch all 4 bands), so recall is 1.0 by construction —
    property-tested exhaustively in tests/test_quality.py; oversize
    buckets degrade to star connectivity, the same documented trade
    as the MinHash path.

    Scale: the guard is NOT optional here — the 10x headroom probe
    measured the unguarded band join at 357M candidate pairs (45 s)
    on 10x-duplicated docs, vs bounded star output guarded. At 10⁹
    docs an 8-bit band has only 256 values, so corpus-scale
    deployments also widen to 64-bit signatures with 16-bit bands
    (same pigeonhole guarantee at radius 3, identical plan shape)."""
    sig = _cache(_simhash_df(spark, sf_dir))
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(255)
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    cand = lsh_candidate_pairs(bands).select("doc_a", "doc_b")
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(hamming <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------- exact jaccard

@register(
    "dedup_ngram_jaccard_pairs",
    tags=("dedup", "jaccard"),
    oracle=f"""
WITH sh AS ({sql_shingle_rows(where="doc_id <= 400")}),
card AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b,
       -- exact int ratio: unrounded (identical IEEE division; ROUND
       -- tie-breaks differ cross-engine on exact boundaries)
       CAST(c.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - c.n_common) AS jaccard
FROM common c
JOIN card ca ON c.doc_a = ca.doc_id
JOIN card cb ON c.doc_b = cb.doc_id
WHERE CAST(c.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - c.n_common) >= 0.1
ORDER BY doc_a, doc_b
""",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for pairs sharing a shingle.

    Scale: this is the verification stage for LSH candidates; run
    standalone it joins on the shingle posting list, so cost is
    sum(df^2) over shingles — bounded here to a doc range (doc_id <= 400, threshold 0.1 -> 18/15
    pairs at sf0.001/0.01 so the oracle comparison is non-trivial). At 100 TB,
    feed it dedup_minhash_lsh_pairs instead of the raw corpus.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 400)
    sh = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.explode(shingles("toks")).alias("shingle")
    )
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= 0.1)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------- duplicate-cluster closure

def _sql_lsh_edges() -> str:
    """CTE bodies producing the symmetric LSH candidate edge list.

    Goes THROUGH the shared oversize-bucket star guard
    (_sql_bucket_guard_cte), exactly like the impl's _lsh_pairs_of: a
    star around a bucket's min doc connects the same component the
    all-pairs clique would, so connected components are IDENTICAL —
    but per-bucket oracle work drops from O(cnt²) to O(cnt) above the
    cap. The unguarded all-pairs form was hash-equivalent on every
    corpus (star ≡ clique under transitive closure) yet quadratic in
    bucket occupancy: at sf10 a skewed band bucket made DuckDB spill
    80 GB of join intermediates to disk. Same corpus-relative-cost
    lesson as the ANN tiers (SCALING.md, "Recall vs corpus size") —
    now applied to the ORACLE too."""
    return f"""
{_sql_minhash_cte()},
bands AS MATERIALIZED (
  SELECT doc_id, g.b AS band,
         CASE g.b
           {" ".join(
               f"WHEN {b} THEN " + sql_hash60("(" + " || '_' || ".join(
                   f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
               ) + ")")
               for b in range(N_BANDS)
           )}
         END AS band_key
  FROM mh CROSS JOIN (SELECT unnest(generate_series(0, {N_BANDS - 1}))) g(b)
),
{_sql_bucket_guard_cte()},
pairs AS (
  SELECT DISTINCT doc_a AS src, doc_b AS dst FROM co
),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
)"""


# Oracle-side connected components. The original oracle materialized the
# full transitive closure reach(a, b) — correct, but QUADRATIC in
# component size (sum of |C|^2 closure rows): at sf10 the LSH candidate
# graph's star-fallback components are large enough that DuckDB ground
# for >45 min single-threaded on the closure join. Same lesson as the
# round-7 sf10 scale cliffs: an oracle that would not survive
# scale is part of the operator's scale posture. Replacement: unrolled
# min-label propagation — each pass joins labels to the edge list and
# takes the neighborhood MIN, linear in |E| per pass, mirroring the
# impl's _components_distributed loop exactly. Pass count matches the
# impl's 20-pass diameter bound: on the distributed path the impl raises
# loudly beyond it, so oracle and impl agree on every graph that path
# accepts; on the small-graph union-find path (exact at any diameter) a
# hypothetical diameter->20 component would surface as a LOUD compare
# FAIL, never a silent pass — near-dup graphs are cohort cliques +
# bucket stars, diameter ~2-4 in practice.
_CC_PASSES = 20


def _sql_components_cte() -> str:
    """CTE chain `{edges} -> nodes -> lp0..lpN -> lab(doc_id, label)`.
    Append after _sql_lsh_edges(); `em`/`nodes` are MATERIALIZED so the
    20 passes reuse one computed edge list instead of re-deriving the
    MinHash pipeline per pass."""
    steps = [
        "em AS MATERIALIZED (SELECT src, dst FROM edges)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM em)",
        "lp0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM nodes)",
    ]
    for i in range(_CC_PASSES):
        steps.append(
            f"lp{i + 1} AS MATERIALIZED (SELECT n.doc_id, "
            f"LEAST(n.label, COALESCE(m.minlab, n.label)) AS label "
            f"FROM lp{i} n LEFT JOIN "
            f"(SELECT e.src AS doc_id, MIN(l.label) AS minlab "
            f"FROM em e JOIN lp{i} l ON l.doc_id = e.dst GROUP BY e.src) m "
            f"USING (doc_id))"
        )
    steps.append(f"lab AS (SELECT doc_id, label FROM lp{_CC_PASSES})")
    return ",\n".join(steps)


# Below this many candidate pairs the components are computed with a
# driver-local union-find on the collected edge list — the same
# small-side-goes-local reasoning as a broadcast join. The LSH pair
# graph is dup-pairs only (duplicate_rate × corpus, NOT corpus-sized),
# so even a 100 TB corpus with 1% near-dups within LSH reach stays
# under this only at modest rates; the distributed label-propagation
# loop below handles the general case and is pinned by tests either way.
CLUSTER_LOCAL_EDGE_CAP = 1_000_000


def _components_local(pair_rows) -> list[tuple[int, int]]:
    """(doc_id, component_rep) via union-find; rep = min doc_id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: smaller id becomes the root, so every
            # root IS its component's canonical representative
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((d, find(d)) for d in parent)


def _components_distributed(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """(doc_id, label) by iterative min-label propagation — one
    equi-join + min-aggregate per pass, converging in O(graph
    diameter) passes (near-dup graphs are shallow)."""
    from pyspark.sql import Observation

    edges = _cache(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    converged = False
    # the pair graph is orders of magnitude smaller than the corpus;
    # iterate its joins at a narrow shuffle width — the width is a
    # property of the GRAPH, not of the session's scan-sized default
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        for _ in range(20):  # diameter bound; converges far earlier
            neigh_min = (
                edges.join(labels, edges.dst == labels.doc_id)
                .groupBy(F.col("src").alias("n_doc"))
                .agg(F.min("label").alias("n_label"))
            )
            # convergence detection rides the SAME job as the label
            # update: observe() sums the changed-flag while the eager
            # localCheckpoint materializes — one job per iteration, no
            # separate count() probe
            obs = Observation()
            new_labels = (
                labels.join(neigh_min, labels.doc_id == neigh_min.n_doc, "left")
                .select(
                    "doc_id",
                    F.least(F.col("label"), F.coalesce("n_label", F.col("label"))).alias(
                        "new_label"
                    ),
                    "label",
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("new_label") != F.col("label")).cast("bigint")
                    ).alias("changed"),
                )
                .select("doc_id", F.col("new_label").alias("label"))
            )
            prev = labels
            labels = checkpoint(new_labels.localCheckpoint(eager=True))  # cut lineage
            release(prev)
            if not obs.get.get("changed"):
                converged = True
                break
    release(edges)
    if not converged:
        # a graph with diameter > the pass bound would return silently
        # wrong labels (and diverge from the driver union-find path);
        # fail loudly instead — raising the bound is the fix, and the
        # near-dup graphs this runs on are orders of magnitude shallower
        raise RuntimeError(
            "label propagation hit the 20-pass diameter bound without "
            "converging; increase the bound for this graph"
        )
    return labels


@register(
    "dedup_duplicate_clusters",
    tags=("dedup", "graph"),
    oracle=f"""
WITH {_sql_lsh_edges()},
{_sql_components_cte()}
SELECT doc_id, label AS cluster_rep,
       CAST(CASE WHEN doc_id = label THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM lab
ORDER BY doc_id
""",
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the MinHash-LSH
    candidate graph; each cluster keeps its smallest doc_id as
    canonical (is_kept) — the final stage of a near-dedup pipeline
    (pairs → clusters → keep one per cluster).

    Scale: adaptive, like a planner's broadcast decision. The pair
    list is counted once (it is cached either way); small graphs are
    solved with a driver union-find (one collect of dup PAIRS, never
    the corpus), large ones by distributed min-label propagation
    (_components_distributed). The DuckDB oracle computes the same
    components by recursive transitive closure; both paths are
    asserted equal in tests/test_quality.py.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    bands = _cache(band_projection(_lsh_docs(spark, sf_dir)))
    pairs = _cache(lsh_candidate_pairs(bands).select("doc_a", "doc_b"))
    # ONE materialization decides the path AND (when small) delivers
    # the edges: CollectLimit ships at most cap+1 rows to the driver,
    # so the probe never risks collecting an unbounded pair set
    head = pairs.limit(CLUSTER_LOCAL_EDGE_CAP + 1).collect()
    if len(head) <= CLUSTER_LOCAL_EDGE_CAP:
        comp = _components_local((r["doc_a"], r["doc_b"]) for r in head)
        labels = local_df(
            spark,
            comp,
            StructType(
                [StructField("doc_id", LongType()), StructField("label", LongType())]
            ),
        )
    else:
        # the final labels' checkpoint stays registered: the scope frees
        # it after the caller materializes the result
        labels = _components_distributed(spark, pairs)
    release(pairs)
    release(bands)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_rep"),
        F.when(F.col("doc_id") == F.col("label"), 1).otherwise(0).cast("bigint").alias("is_kept"),
    ).orderBy("doc_id")


# -------------------------------------------------- embedding near-dup
#
# The raw testdata has NO pairs above cosine 0.8 (max observed ≈ 0.60),
# so a threshold query over it verifies nothing. Instead both queries
# run over a PLANTED CORPUS: the real embeddings plus deterministic
# near-duplicate copies of every 7th vector, perturbed by a constant
# per-vector shift delta = ((vec_id*2654435761) % 241)/1000.0 - 0.12.
# The derivation uses only exact integer arithmetic + one correctly-
# rounded division, so Spark and DuckDB build bit-identical vectors;
# planted cosines span ~[0.67, 1.0] with no pair closer than 9e-4 to
# the 0.8 threshold at any sf — the filter genuinely discriminates
# (some planted pairs fall below threshold) and the oracle compares
# non-empty result sets at every scale factor.

PLANT_MOD = 7  # every 7th vector gets a planted near-duplicate
PLANT_ID_OFFSET = 1_000_000  # planted copies get vec_id + this


def _lazy_sim():
    # local import to avoid a circular module dependency at load time
    from spark_rapids_ml_spark.operators import similarity as sim

    return sim


# NB: the planted branch computes delta from the ORIGINAL vec_id in an
# inner query — naming the outer alias `vec_id` directly would let
# DuckDB's lateral-alias extension rebind the lambda's `vec_id` to the
# shifted value and silently diverge from Spark.
_SQL_PLANTED = f"""
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  UNION ALL
  SELECT orig_id + {PLANT_ID_OFFSET} AS vec_id, emb2 AS emb FROM (
    SELECT vec_id AS orig_id,
           list_transform(embedding,
                          x -> CAST(x AS DOUBLE)
                               + (((vec_id * 2654435761) % 241) / 1000.0 - 0.12)) AS emb2
    FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
  )
"""


def planted_corpus(e: DataFrame) -> DataFrame:
    """Real embeddings ∪ deterministic near-duplicate copies (see module
    comment). Output columns: vec_id, embedding (array<double>)."""
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    delta = ((F.col("vec_id") * F.lit(2654435761)) % F.lit(241)) / F.lit(1000.0) - F.lit(0.12)
    # two-step select: perturb FIRST, shift the id AFTER — putting both in
    # one select lets Spark 4's lateral-column-alias resolution rebind the
    # lambda's `vec_id` to the already-shifted alias (DuckDB's lateral
    # aliases have the same trap; the oracle SQL uses a subquery too)
    planted = (
        e.where(F.col("vec_id") % PLANT_MOD == 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double") + delta).alias("embedding"),
        )
        .select((F.col("vec_id") + F.lit(PLANT_ID_OFFSET)).alias("vec_id"), "embedding")
    )
    return base.unionAll(planted)


# Embedding-LSH scale posture, in two layers:
#
# 1. ADAPTIVE BUCKET RESOLUTION — 16 buckets/table (4 hyperplanes) is
#    a recall/cost sweet spot up to a few thousand vectors, but bucket
#    occupancy grows linearly with the corpus and the candidate join
#    quadratically per bucket (the uncapped join filled 70 GB of
#    shuffle spill at sf10 / 200k vectors). Extra Rademacher planes
#    switch on at corpus-size thresholds, ADDING high bits to the
#    bucket id: the low 4 bits are a stable prefix, so results are
#    BIT-IDENTICAL to the 4-plane history wherever the thresholds
#    don't fire (all driver-check scales; measured max occupancy
#    66/60/259 at sf0.001/0.01/0.1). At >4k vectors +4 bits (256
#    buckets), at >40k +3 more (2048), at >160k +2 more (8192) —
#    occupancy stays ~O(30-100). At 228k vectors (sf10) the 11-bit
#    rung left mean occupancy 111, i.e. ~100M candidate pairs whose
#    verify join sort-spilled >50 GB; the 13-bit rung cuts that 4x.
#    True near-dup pairs (cosine >= 0.95, the dedup regime) agree on
#    each plane w.p. ~0.92, so 8-table recall stays >= 0.95 even at
#    13 bits; the threshold ladder is replicated verbatim in the
#    oracle via a COUNT(*) scalar subquery.
# 2. BUCKET CAP backstop (shared star guard, cap chosen to never bind
#    at adapted occupancies unless the corpus is pathologically
#    skewed) — bounds the join even if resolution under-shoots.
EMB_BUCKET_CAP = 384
EMB_EXTRA_PLANES = 9
EMB_RES_THRESH_1 = 4_000    # corpus above this: +4 resolution bits
EMB_RES_THRESH_2 = 40_000   # corpus above this: +3 more
EMB_RES_THRESH_3 = 160_000  # corpus above this: +2 more
# verify-join build side (vec_id -> unit vector, ~0.5 KB/row) is
# broadcast below this corpus size: the candidate pairs then stream
# map-side instead of sort-spilling through two shuffles. Above it
# (≈1 GB build side) fall back to shuffle joins — at that point the
# corpus is cluster-scale and executor memory, not one local disk,
# absorbs the sort.
EMB_VERIFY_BCAST_MAX = 2_000_000


def _emb_extra_hyperplanes():
    import numpy as np

    sim = _lazy_sim()
    rng = np.random.default_rng(sim.LSH_SEED + 7)
    first = rng.choice([-1.0, 1.0], size=(sim.N_TABLES, 7, sim.DIM))
    # planes 7+ come from a SEPARATE seed so extending the ladder never
    # reshuffles the draw order of the first 7 (bit-stable history)
    rng2 = np.random.default_rng(sim.LSH_SEED + 8)
    extra = rng2.choice(
        [-1.0, 1.0], size=(sim.N_TABLES, EMB_EXTRA_PLANES - 7, sim.DIM)
    )
    return np.concatenate([first, extra], axis=1)


def _emb_bucket_ext_expr(emb, table: int, n_corpus: int):
    """Bucket id with threshold-gated extra resolution bits (Spark).
    Gating uses the Python-side corpus count; the oracle gates the
    identical plane bits with a COUNT(*) scalar subquery."""
    sim = _lazy_sim()
    acc = sim._bucket_expr(emb, table)
    planes = _emb_extra_hyperplanes()[table]
    for p, plane in enumerate(planes):
        if p < 4 and n_corpus <= EMB_RES_THRESH_1:
            continue
        if 4 <= p < 7 and n_corpus <= EMB_RES_THRESH_2:
            continue
        if p >= 7 and n_corpus <= EMB_RES_THRESH_3:
            continue
        lit = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(sim.dot_expr(emb, lit) > 0, 1).otherwise(0)
        acc = acc + bit * F.lit(1 << (4 + p))
    return acc.cast("bigint")


def _sql_emb_bucket_ext(emb: str, table: int) -> str:
    sim = _lazy_sim()
    planes = _emb_extra_hyperplanes()[table]

    def bit(p, plane):
        lit = "[" + ", ".join(str(float(v)) for v in plane) + "]"
        return (
            f"(CASE WHEN list_dot_product({emb}, {lit}) > 0 THEN 1 ELSE 0 END)"
            f" * {1 << (4 + p)}"
        )

    g1 = " + ".join(bit(p, planes[p]) for p in range(4))
    g2 = " + ".join(bit(p, planes[p]) for p in range(4, 7))
    g3 = " + ".join(bit(p, planes[p]) for p in range(7, EMB_EXTRA_PLANES))
    return (
        f"CAST({sim._sql_bucket(emb, table)}"
        f" + (CASE WHEN (SELECT COUNT(*) FROM e) > {EMB_RES_THRESH_1} THEN {g1} ELSE 0 END)"
        f" + (CASE WHEN (SELECT COUNT(*) FROM e) > {EMB_RES_THRESH_2} THEN {g2} ELSE 0 END)"
        f" + (CASE WHEN (SELECT COUNT(*) FROM e) > {EMB_RES_THRESH_3} THEN {g3} ELSE 0 END)"
        f" AS BIGINT)"
    )


def _sql_embedding_lsh_oracle() -> str:
    sim = __import__(
        "spark_rapids_ml_spark.operators.similarity", fromlist=["similarity"]
    )
    sig_union = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sql_emb_bucket_ext('emb', t)} AS bucket FROM e"
        for t in range(sim.N_TABLES)
    )
    return f"""
WITH e AS ({_SQL_PLANTED}),
sig AS ({sig_union}),
bands AS MATERIALIZED (SELECT vec_id AS doc_id, tbl AS band, bucket AS band_key FROM sig),
{_sql_bucket_guard_cte(EMB_BUCKET_CAP)},
cand AS (SELECT DISTINCT doc_a AS vec_a, doc_b AS vec_b FROM co)
SELECT c.vec_a, c.vec_b,
       ROUND(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
FROM cand c
JOIN e ea ON ea.vec_id = c.vec_a
JOIN e eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.emb, eb.emb) > 0.8
ORDER BY vec_a, vec_b
"""


@register(
    "dedup_embedding_lsh_pairs",
    tags=("dedup", "vector", "lsh"),
    oracle=_sql_embedding_lsh_oracle(),
)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: candidate pairs from multi-table
    hyperplane LSH buckets (equi-join, never n²), then exact cosine
    filter at 0.8 — the linear-cost companion to
    dedup_embedding_cosine_pairs (which is the quadratic exactness
    oracle). Runs over the planted corpus (see module comment) so the
    result is non-empty at every sf; recall vs the exact pairs is
    gated in tests/test_quality.py (empty exact set = test failure)."""
    sim = _lazy_sim()
    # cache the planted corpus + unit vectors: consumed three times
    # (signatures, both sides of the exact-cosine verify join)
    e = _cache(
        sim.with_unit_vector(
            planted_corpus(load(spark, sf_dir, "embeddings")), "embedding", "unit"
        )
    )
    n_corpus = e.count()
    sig = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    _emb_bucket_ext_expr("embedding", t, n_corpus)
                    for t in range(sim.N_TABLES)
                ]
            )
        ).alias("tbl", "bucket"),
    )
    bands = sig.select(
        F.col("vec_id").alias("doc_id"),
        F.col("tbl").alias("band"),
        F.col("bucket").alias("band_key"),
    )
    # shared oversize-bucket guard (cap chosen to never bind <= sf0.1,
    # see EMB_BUCKET_CAP): bounds the candidate join at 10x+ corpora
    # where 16 buckets/table would otherwise go quadratic
    cand = lsh_candidate_pairs(bands, cap=EMB_BUCKET_CAP).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("unit").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("unit").alias("emb_b"))
    if n_corpus <= EMB_VERIFY_BCAST_MAX:
        # broadcast the unit-vector lookup (~0.5 KB/row): the candidate
        # stream — tens of millions of rows at 10x+ corpora — then never
        # shuffles for the verify, it maps through two hash lookups. The
        # 11-bit shuffle-join version sort-spilled >50 GB at sf10.
        ea, eb = F.broadcast(ea), F.broadcast(eb)
    cos = sim.dot_expr("emb_a", "emb_b")
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") > 0.8)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


COSINE_BLOCKS = 8  # block-pair tiles for the exact all-pairs GEMM

# The exact tier is quadratic BY DEFINITION (it is the exactness oracle
# for the linear LSH path) — but quadratic work must not mean unbounded
# work: above this corpus size, the exact tier scores a deterministic
# 1-in-m stratified subsample (vec_id % m == 0, m = ceil(n/CAP)), the
# standard way brute-force recall oracles are run against large corpora
# (you never GEMM the full 100 TB; you GEMM a pinned slice). The cap is
# chosen ABOVE the sf1 planted-corpus size (21.4k) so every
# driver/sweep scale through sf1 is bit-identical to the uncapped
# history; at sf10 (228k) m=8 bounds tile matrices to ~100 MB and the
# DuckDB oracle to ~4e8 pair evaluations.
EXACT_TIER_MAX = 30_000


@register(
    "dedup_embedding_cosine_pairs",
    tags=("dedup", "vector"),
    oracle=f"""
WITH eall AS ({_SQL_PLANTED}),
e AS (
  SELECT * FROM eall
  WHERE vec_id % (SELECT CAST(CEIL(COUNT(*) / {EXACT_TIER_MAX}.0) AS BIGINT)
                  FROM eall) = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) > 0.8
ORDER BY vec_a, vec_b
""",
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.8) by BLOCKED
    all-pairs GEMM — the canonical exact-scoring layout (what cuML /
    FAISS brute-force use): vectors are tiled into B blocks, each of
    the B(B+1)/2 block-pair tiles becomes one applyInPandas group, and
    the group scores its tile with a single numpy matmul over unit
    vectors. Runs over the planted corpus (module comment) so the
    threshold actually fires.

    Scale: still quadratic in *work* by definition (it is the
    exactness oracle for dedup_embedding_lsh_pairs, the linear path) —
    but the data layout is right for it: each tile streams 2·(n/B)
    vectors, computes, and emits only pairs above threshold, so memory
    is O((n/B)²) per task, replication is B rows/vector, and tiles
    parallelize perfectly. Numerics: unit-normalize in float64, one
    matmul — differences vs the oracle's sequential fold are ~1e-16,
    absorbed by round(6) and the 9e-4 threshold margin of the planted
    corpus.

    Above EXACT_TIER_MAX vectors the tier scores a deterministic 1-in-m
    subsample (see EXACT_TIER_MAX comment) — the cap does not bind at
    any scale up to and including sf1, so those results are
    bit-identical to the uncapped history.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    B = COSINE_BLOCKS
    e = planted_corpus(load(spark, sf_dir, "embeddings"))
    n_corpus = e.count()
    m = -(-n_corpus // EXACT_TIER_MAX)  # ceil
    if m > 1:
        e = e.where(F.col("vec_id") % m == 0)
    blocked = e.select(
        "vec_id", "embedding", F.pmod("vec_id", F.lit(B)).cast("int").alias("blk")
    )
    # replicate each vector into every tile its block participates in:
    # vector in block b joins tiles (min(b,k), max(b,k)) for all k
    rep = blocked.select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(F.array(*[F.lit(k) for k in range(B)])).alias("k"),
    ).select(
        F.least("blk", "k").alias("gi"),
        F.greatest("blk", "k").alias("gj"),
        "vec_id",
        "blk",
        "embedding",
    )

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(np.int64)
        x = np.vstack(pdf["embedding"].map(lambda v: np.asarray(v, np.float64)))
        u = x / np.linalg.norm(x, axis=1, keepdims=True)
        gi, gj = int(pdf["gi"].iloc[0]), int(pdf["gj"].iloc[0])
        if gi == gj:  # intra-block tile: upper triangle, id-sorted
            order = np.argsort(ids)
            ids, u = ids[order], u[order]
            s = u @ u.T
            ia, ib = np.triu_indices(len(ids), k=1)
            va, vb, cs = ids[ia], ids[ib], s[ia, ib]
        else:  # cross tile: full rectangle between the two blocks
            ma = pdf["blk"].to_numpy() == gi
            ia, ib = ids[ma], ids[~ma]
            s = u[ma] @ u[~ma].T
            va = np.repeat(ia, len(ib))
            vb = np.tile(ib, len(ia))
            cs = s.ravel()
            lo = np.minimum(va, vb)
            vb = np.maximum(va, vb)
            va = lo
        keep = cs > 0.8
        v = cs[keep] * 1e6
        # ROUND half away from zero (DuckDB/Spark semantics; np.round
        # is banker's and would flip an exact .5e-6 tie)
        rounded = np.copysign(np.floor(np.abs(v) + 0.5), v) / 1e6
        return pd.DataFrame({"vec_a": va[keep], "vec_b": vb[keep], "cosine": rounded})

    return (
        rep.groupBy("gi", "gj")
        .applyInPandas(score_tile, out_schema)
        .orderBy("vec_a", "vec_b")
    )


# ----------------------------------------- materialized dedup pipeline

@register(
    "dedup_clusters_materialized",
    tags=("dedup", "graph", "sink"),
    oracle=f"""
WITH {_sql_lsh_edges()},
{_sql_components_cte()},
clus AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id = label THEN 1 ELSE 0 END AS BIGINT) AS is_kept
  FROM lab
)
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(c.is_kept, 1)) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
GROUP BY d.lang
ORDER BY d.lang
""",
)
def dedup_clusters_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline with a PERSISTED index: cluster
    assignments (is_kept) are written to a bucketed+sorted table keyed
    on doc_id, documents are bucketed the same way, and the downstream
    keep/drop accounting joins the two WITHOUT any exchange — the
    shape a real pipeline uses so every later consumer of the dedup
    verdict (filtering, sampling, training-set builds) pays zero
    shuffle on the fact table. Docs absent from the candidate graph
    are implicitly kept (LEFT join + COALESCE(is_kept, 1)).

    Scale: the write is one distributed bucketed sink; the join is a
    per-bucket local merge (no Exchange on either side — pinned in
    tests/test_plans.py::test_materialized_clusters_join_no_exchange).
    """
    from spark_rapids_ml_spark.sources.catalog import reset_managed_table

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    db = f"dedupdb_{tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    c_tbl, d_tbl = f"{db}.clusters_b", f"{db}.documents_b"
    for tbl in (c_tbl, d_tbl):
        if not spark.catalog.tableExists(tbl):
            reset_managed_table(spark, tbl)

    clusters = dedup_duplicate_clusters(spark, sf_dir)
    (
        clusters.write.mode("overwrite")
        .bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .saveAsTable(c_tbl)
    )
    release_caches()  # the table write materialized everything
    if not spark.catalog.tableExists(d_tbl):
        (
            load(spark, sf_dir, "documents")
            .select("doc_id", "lang")
            .write.mode("overwrite")
            .bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(d_tbl)
        )
    d = spark.table(d_tbl)
    c = spark.table(c_tbl).select("doc_id", "is_kept")
    return (
        d.join(c, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_kept", F.lit(1))).cast("bigint").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "pipe_cluster_aware_split",
    tags=("dedup", "llm-pipe", "split"),
    oracle=f"""
WITH {_sql_lsh_edges()},
{_sql_components_cte()},
alldocs AS (
  SELECT d.doc_id, d.text, COALESCE(l.label, d.doc_id) AS rep
  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
),
s AS (
  SELECT doc_id, rep,
         CASE WHEN {sql_hash60("CAST(rep AS VARCHAR)")} % 100 < 80 THEN 'train'
              WHEN {sql_hash60("CAST(rep AS VARCHAR)")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN {sql_hash60("text")} % 100 < 80 THEN 'train'
              WHEN {sql_hash60("text")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS naive_split
  FROM alldocs
),
leak_aware AS (
  SELECT COUNT(*) AS n FROM
    (SELECT rep FROM s GROUP BY rep HAVING COUNT(DISTINCT split) > 1)
),
leak_naive AS (
  SELECT COUNT(*) AS n FROM
    (SELECT rep FROM s GROUP BY rep HAVING COUNT(DISTINCT naive_split) > 1)
)
SELECT split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT rep) AS n_clusters,
       CAST((SELECT n FROM leak_aware) AS BIGINT) AS leaked_clusters,
       CAST((SELECT n FROM leak_naive) AS BIGINT) AS leaked_clusters_naive
FROM s
GROUP BY split
ORDER BY split
""",
)
def pipe_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster-aware train/val/test split — the
    leakage-proof form of pipe_deterministic_split, and the step real
    eval hygiene requires: hashing each DOCUMENT's content splits
    near-duplicate pairs across train and test (the eval set then
    contains near-copies of training docs — benchmark contamination by
    construction), so the split key must be the duplicate CLUSTER, not
    the doc. Every doc is assigned its LSH connected-component
    representative (singletons: itself — total coverage, unlike the
    dedup view which only lists docs in the candidate graph), and the
    content-hash split is taken on the REPRESENTATIVE id: all members
    of a cluster land in one split by construction.

    The output carries both leak counters computed from the
    assignment: ``leaked_clusters`` (clusters spanning >1 split under
    the aware assignment — the oracle pins the arithmetic, and it is 0
    by construction) next to ``leaked_clusters_naive`` (what the
    per-doc text-hash split would have leaked on the same clusters —
    nonzero exactly when near-dup clusters with differing texts
    exist, as on this corpus). The pair is the design argument in one
    row: same data, same hash, one changed split key.

    Scale: clustering cost is the dedup pipeline already paid
    (candidate pairs → components); the split itself stays a
    stateless hash predicate on the rep id, so the assignment is one
    equi-join of the corpus against the bounded label table — no new
    shuffle shape at 100 TB, and re-runs are byte-stable because every
    input is content-derived.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    labels = dedup_duplicate_clusters(spark, sf_dir).select(
        "doc_id", F.col("cluster_rep").alias("rep")
    )
    alldocs = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        "text",
        F.coalesce(F.col("rep"), F.col("doc_id")).alias("rep"),
    )

    def split_expr(bucket):
        return (
            F.when(bucket < TRAIN_LT, "train")
            .when(bucket < VAL_LT, "val")
            .otherwise("test")
        )

    from spark_rapids_ml_spark.operators.llm_pipeline import (
        SPLIT_BUCKETS,
        TRAIN_LT,
        VAL_LT,
    )

    s = alldocs.select(
        "doc_id",
        "rep",
        split_expr(
            hash60(F.col("rep").cast("string")) % SPLIT_BUCKETS
        ).alias("split"),
        split_expr(hash60("text") % SPLIT_BUCKETS).alias("naive_split"),
    )
    s = _cache(s)
    leak_aware = (
        s.groupBy("rep")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaked_clusters"))
    )
    leak_naive = (
        s.groupBy("rep")
        .agg(F.countDistinct("naive_split").alias("k"))
        .where(F.col("k") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaked_clusters_naive"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak_aware))  # 1-row scalar attach
        .crossJoin(F.broadcast(leak_naive))  # 1-row scalar attach
        .orderBy("split")
    )


# ------------------------------------------- asymmetric containment

CONTAIN_THRESHOLD = 0.4  # |A ∩ B| / |A| floor for a reported pair

# Adaptive evaluation slice, shared by dedup_containment_pairs and
# dedup_lsh_quality_eval: a FIXED doc cap loses dup/containment pairs
# quadratically as the corpus grows around it (0 pairs by sf0.1/sf10);
# n/5 floored at 400 (small corpora evaluated whole) and capped at 50k
# (bounds the posting-list truth join) keeps the pair yield nonzero at
# every SF. One helper pair keeps the SQL and Python forms structurally
# in lockstep — the oracle and the implementation must bind the SAME
# cap or they diverge.
# canonical definition lives in functions/text.py (import-cycle-free:
# dedup imports similarity mid-module, so operators needing the cap at
# DECORATION time import it from there, not from this module)
from spark_rapids_ml_spark.functions.text import (  # noqa: E402
    DOC_SLICE_CEIL,
    DOC_SLICE_FLOOR,
    SQL_DOC_SLICE_CAP as _SQL_DOC_SLICE_CAP,
    doc_slice_cap as _doc_slice_cap,
)


@register(
    "dedup_containment_pairs",
    tags=("dedup", "jaccard"),
    oracle=f"""
WITH sh AS ({sql_shingle_rows(where="doc_id <= " + _SQL_DOC_SLICE_CAP)}),
card AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b, CAST(c.n_common AS BIGINT) AS n_common,
       CAST(ca.n_sh AS BIGINT) AS size_a,
       -- exact int ratio: unrounded (identical IEEE division)
       CAST(c.n_common AS DOUBLE) / ca.n_sh AS containment
FROM common c
JOIN card ca ON c.doc_a = ca.doc_id
WHERE CAST(c.n_common AS DOUBLE) / ca.n_sh >= {CONTAIN_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-dup detection: containment C(A→B) =
    |A ∩ B| / |A| over 3-token shingle sets. Jaccard misses the
    quote/excerpt case — a short doc wholly contained in a long one
    scores low on Jaccard (union is large) but 1.0 on containment —
    and containment is exactly the statistic crawl dedup uses to drop
    subset pages (cf. Broder's containment sketches). Pairs are
    ordered (A→B and B→A both reported when above threshold), since
    the relation is asymmetric.

    Scale: same posting-list equi-join shape as
    dedup_ngram_jaccard_pairs — candidates come from shared shingles,
    never all-pairs; at 100 TB feed the MinHash-LSH candidate pairs
    into this as the exact verify stage (the directional ratio only
    needs the shared-shingle count and |A|, both already computed by
    the verify join).
    """
    alldocs = load(spark, sf_dir, "documents")
    cap = _doc_slice_cap(alldocs.count())
    d = alldocs.where(F.col("doc_id") <= cap)
    # cached via the shared registry: the shingle explode (the
    # dominant stage) feeds the cardinality aggregate AND both sides
    # of the posting-list join
    sh = _cache(
        d.select("doc_id", F.split("text", " ").alias("toks")).select(
            "doc_id", F.explode(shingles("toks")).alias("shingle")
        )
    )
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("size_a"))
    cont = F.col("n_common").cast("double") / F.col("size_a")
    return (
        common.join(ca, "doc_a")
        .where(cont >= CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("size_a").cast("bigint").alias("size_a"),
            cont.alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------- LSH quality evaluation

# Eval slice: a FIXED cap loses duplicate pairs quadratically as the
# corpus grows around it (0 truth pairs by sf0.1), so the slice scales
# as n/5, floored at 400 (small corpora are evaluated whole) and
# capped at 50k docs (bounds the truth join; pair yield stays nonzero
# because total dup pairs grow linearly with the corpus).
LSH_EVAL_JACCARD = 0.5  # ground-truth duplicate threshold


@register(
    "dedup_lsh_quality_eval",
    tags=("dedup", "minhash", "eval"),
    oracle=f"""
WITH capv AS (SELECT {_SQL_DOC_SLICE_CAP} AS cap),
docs400 AS (SELECT * FROM documents WHERE doc_id <= (SELECT cap FROM capv)),
{_sql_minhash_cte(table="docs400")},
{_sql_guarded_pairs_cte()},
cand AS (SELECT DISTINCT doc_a, doc_b FROM co),
sh2 AS ({sql_shingle_rows(where="doc_id <= (SELECT cap FROM capv)")}),
card AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh2 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT c.doc_a, c.doc_b
  FROM common c
  JOIN card ca ON c.doc_a = ca.doc_id
  JOIN card cb ON c.doc_b = cb.doc_id
  WHERE CAST(c.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - c.n_common) >= {LSH_EVAL_JACCARD}
),
hit AS (SELECT t.doc_a, t.doc_b FROM truth t JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN NULL
            ELSE CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE) END AS precision_vs_truth,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
            ELSE CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) END AS recall_vs_truth
""",
)
def dedup_lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-EVALUATING dedup infrastructure: run the real MinHash-LSH
    candidate generator (bands, skew guard and all) NEXT TO the exact
    Jaccard ground truth (threshold {LSH_EVAL_JACCARD}) on the same
    corpus slice, and report candidate precision/recall as a declared,
    hash-checked result — the measure-don't-guess discipline applied
    to the dedup tier itself. The LSH banding threshold is
    (1/b)^(1/r) ≈ 0.71, so recall against 0.5-truth quantifies what
    the banding curve gives up below its knee, and precision counts
    the band-collision noise the exact verify stage must filter.

    Scale: the candidate side is the production bucketed equi-join;
    the truth side's posting-list join is why this runs on a bounded
    slice — at 100 TB you evaluate on a sampled slice exactly like
    this while the candidate tier runs on everything.
    """
    all_docs = load(spark, sf_dir, "documents")
    cap = _doc_slice_cap(all_docs.count())  # one bounded scalar aggregate
    docs = all_docs.where(F.col("doc_id") <= cap)
    cand = _lsh_pairs_of(docs).select("doc_a", "doc_b")
    # cached: the shingle explode feeds card and both truth-join sides
    sh = _cache(
        docs.select("doc_id", F.split("text", " ").alias("toks")).select(
            "doc_id", F.explode(shingles("toks")).alias("shingle")
        )
    )
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    truth = (
        common.join(card.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(card.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .where(jac >= LSH_EVAL_JACCARD)
        .select("doc_a", "doc_b")
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)  # three 1-row scalar attaches
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.when(F.col("n_candidates") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_hit").cast("double") / F.col("n_candidates").cast("double"))
            .alias("precision_vs_truth"),
            F.when(F.col("n_truth") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_hit").cast("double") / F.col("n_truth").cast("double"))
            .alias("recall_vs_truth"),
        )
    )


# ------------------------------------------- exact duplicated substrings

# Exact substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL'22): instead of whole-doc similarity,
# find TOKEN SPANS that recur verbatim across documents. The paper uses
# a suffix array; the distributed re-expression is rolling fixed-width
# token windows hashed and grouped — a window shared by >= 2 distinct
# docs marks its span duplicated. Span coverage is then the exact union
# of the duplicated windows' [pos, pos+W-1] intervals per doc.
SUBSTR_WINDOW = 8  # tokens per window (the paper's 50-token unit scaled
#                    to this corpus' ~54-token docs)


@register(
    "dedup_exact_substring_spans", bench=True,
    tags=("dedup", "substring"),
    oracle=f"""
WITH capv AS (SELECT {_SQL_DOC_SLICE_CAP} AS cap),
d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id <= (SELECT cap FROM capv)
        AND len(string_split(text, ' ')) >= {SUBSTR_WINDOW}),
win AS MATERIALIZED (
  SELECT doc_id, g.i AS pos,
         {sql_hash60(f"array_to_string(toks[CAST(g.i AS INT):CAST(g.i + {SUBSTR_WINDOW - 1} AS INT)], ' ')")} AS wh
  FROM d CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(toks) - {SUBSTR_WINDOW - 1}))) g(i)
),
dupw AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
dwin AS MATERIALIZED (SELECT w.doc_id, w.pos FROM win w JOIN dupw USING (wh)),
cov AS (
  SELECT doc_id, COUNT(DISTINCT p.tp) AS covered_tokens
  FROM dwin CROSS JOIN LATERAL (SELECT unnest(generate_series(pos, pos + {SUBSTR_WINDOW - 1}))) p(tp)
  GROUP BY doc_id
),
nd AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM dwin GROUP BY doc_id),
tl AS (SELECT doc_id, len(toks) AS n_tokens FROM d)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(n.n_dup_windows AS BIGINT) AS n_dup_windows,
       CAST(c.covered_tokens AS BIGINT) AS covered_tokens,
       CAST(c.covered_tokens AS DOUBLE) / t.n_tokens AS dup_frac
FROM tl t JOIN nd n USING (doc_id) JOIN cov c USING (doc_id)
ORDER BY t.doc_id
""",
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report: which docs contain verbatim
    SUBSTR_WINDOW (8)-token substrings that also occur in another doc,
    how many window positions are duplicated, and the EXACT fraction of
    tokens covered by the union of duplicated spans (interval union
    computed by exploding each window to its token positions and
    counting distinct — no driver-side interval merging).

    Scale: the window table carries (doc_id, pos, hash60) — 24 bytes a
    row, never the text — and is W× the token count. The only shuffle
    wider than the corpus is the groupBy on the window hash, which
    partial-aggregates (each mapper emits one row per distinct window
    it saw). At 100 TB this replaces the suffix array the reference
    paper builds on one machine: same duplicated-span semantics, but
    every stage is a hash-partitioned aggregate. Coverage explode is
    bounded: W rows per DUPLICATED window only.
    """
    alldocs = load(spark, sf_dir, "documents")
    cap = _doc_slice_cap(alldocs.count())
    d = (
        alldocs.where(F.col("doc_id") <= cap)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= SUBSTR_WINDOW)
    )
    # (doc_id, pos, window-hash) — hashed BEFORE the shuffle so the
    # exchange never carries window text
    win = _cache(
        d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - (SUBSTR_WINDOW - 1))
            ).alias("pos"),
            "toks",
        ).select(
            "doc_id",
            "pos",
            hash60(
                F.concat_ws(" ", F.expr(f"slice(toks, pos, {SUBSTR_WINDOW})"))
            ).alias("wh"),
        )
    )
    dupw = (
        win.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("wh")
    )
    dwin = _cache(win.join(dupw, "wh").select("doc_id", "pos"))
    cov = (
        dwin.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SUBSTR_WINDOW - 1))
            ).alias("tp"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("tp").alias("covered_tokens"))
    )
    nd = dwin.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    tl = d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return (
        tl.join(nd, "doc_id")
        .join(cov, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("n_dup_windows").cast("bigint").alias("n_dup_windows"),
            F.col("covered_tokens").cast("bigint").alias("covered_tokens"),
            (F.col("covered_tokens").cast("double") / F.col("n_tokens")).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


# --- SemDeDup: semantic deduplication via cluster-then-pairwise ---
SEMDEDUP_K = 4          # coarse clusters (production: ~sqrt(N), see docstring)
SEMDEDUP_ITERS = 3      # fixed Lloyd iterations (tol=0) so the oracle unrolls
SEMDEDUP_T = 0.8        # within-cluster cosine threshold: the planted
                        # corpus guarantees a >=9e-4 margin at 0.8 (same
                        # threshold as dedup_embedding_cosine_pairs)
SEMDEDUP_TIER_MAX = 4_000  # deterministic 1-in-m subsample above this

# SemDeDup keys its corpus as orig*2 / TWIN_BASE + orig*2 + 1 instead
# of the PLANT_ID_OFFSET shift: the offset COLLIDES with real vec_ids
# on sparse-id corpora (sf10's make_sf1 ids reach 9.9M, so orig+1e6
# hits another original — 443 duplicate keys at sf10), and the kmeans
# oracle's per-vec_id argmin window collapses duplicate keys while
# Spark keeps both rows. The high twin base keeps every twin ABOVE
# every original, so (a) the k smallest ids — the kmeans seeds — are
# always ORIGINALS (seeding two clusters on a near-identical twin pair
# degrades the partition), and (b) the lower-id-wins drop rule always
# prefers keeping the original. orig_of(key) = (key % TWIN_BASE) // 2
# recovers the pairing for the slice predicate.
SEM_TWIN_BASE = 1 << 41  # above any orig*2 for ids up to 2^40
_SQL_PLANTED_KEYED = f"""
  SELECT vec_id * 2 AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  UNION ALL
  SELECT {SEM_TWIN_BASE} + orig_id * 2 + 1 AS vec_id, emb2 AS emb FROM (
    SELECT vec_id AS orig_id,
           list_transform(embedding,
                          x -> CAST(x AS DOUBLE)
                               + (((vec_id * 2654435761) % 241) / 1000.0 - 0.12)) AS emb2
    FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
  )
"""


def planted_corpus_keyed(e: DataFrame) -> DataFrame:
    """Real embeddings ∪ planted near-duplicates under collision-free
    keys (orig*2 / SEM_TWIN_BASE + orig*2 + 1) — same perturbation
    rule as planted_corpus. Output: vec_id, embedding (array<double>).

    One scan: each row explodes into itself and, when planted, its
    twin, so the frame keeps the scan's partitions (a union of two
    scans has as many as both, which a barrier stage cannot run as is)."""
    delta = ((F.col("vec_id") * F.lit(2654435761)) % F.lit(241)) / F.lit(1000.0) - F.lit(0.12)
    base = F.struct(
        (F.col("vec_id") * 2).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    twin = F.struct(
        (F.lit(SEM_TWIN_BASE) + F.col("vec_id") * 2 + 1).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + delta).alias("embedding"),
    )
    rows = F.when(F.col("vec_id") % PLANT_MOD == 0, F.array(base, twin)).otherwise(F.array(base))
    return e.select(F.explode(rows).alias("r")).select("r.vec_id", "r.embedding")


def _semdedup_oracle() -> str:
    from spark_rapids_ml_spark.operators.similarity import _sql_kmeans_cells

    return f"""
WITH eall AS MATERIALIZED ({_SQL_PLANTED_KEYED}),
e AS MATERIALIZED (
  -- subsample on the ORIGINAL id ((key % TWIN_BASE) // 2): an
  -- original and its twin stay in or out of the slice TOGETHER (a
  -- raw vec_id % m with even m would drop every odd-keyed twin)
  SELECT vec_id, emb FROM eall
  WHERE ((vec_id % {SEM_TWIN_BASE}) // 2)
        % (SELECT CAST(CEIL(COUNT(*) / {SEMDEDUP_TIER_MAX}.0) AS BIGINT)
           FROM eall) = 0
),
{_sql_kmeans_cells(k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, seed_by_rank=True)},
pairs AS (
  SELECT a.cl, b.vec_id AS dropped
  FROM cells a JOIN cells b ON a.cl = b.cl AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) > {SEMDEDUP_T}
),
drops AS (SELECT cl, COUNT(DISTINCT dropped) AS n_dropped FROM pairs GROUP BY cl),
m AS (SELECT cl, COUNT(*) AS n_members FROM cells GROUP BY cl)
SELECT CAST(m.cl AS BIGINT) AS cluster,
       CAST(m.n_members AS BIGINT) AS n_members,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       ROUND((m.n_members - COALESCE(d.n_dropped, 0)) * 1.0 / m.n_members, 6) AS keep_ratio
FROM m LEFT JOIN drops d ON d.cl = m.cl
ORDER BY cluster
"""


@register(
    "dedup_semantic_clusters",
    tags=("dedup", "vector", "ml"),
    bench=True,
    oracle=_semdedup_oracle(),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings FIRST, then scoring cosine pairs only WITHIN
    each cluster and dropping every vector that has a lower-id
    semantic twin (cos > {SEMDEDUP_T}) in its cluster. Runs on the
    planted corpus (module comment) so true semantic dups exist at
    every sf. Emits per-cluster member/dropped counts and keep ratio —
    the curation report SemDeDup pipelines act on.

    The training is ml/kmeans.py with deterministic smallest-id init
    and {SEMDEDUP_ITERS} fixed iterations; the DuckDB oracle re-runs
    the IDENTICAL training unrolled as SQL (rank-seeded
    _sql_kmeans_cells), so the learned partition itself is
    hash-checked. Pair decisions are raw-cosine comparisons with the
    planted corpus' >=9e-4 threshold margin — cross-engine
    FP drift (~1e-15, numpy matmul vs sequential fold) cannot flip
    them.

    Scale: this is THE trick that makes semantic dedup tractable —
    pairwise work collapses from O(N^2) to O(sum n_c^2): clusters
    bound the quadratic blast radius, and each cluster's pair scan is
    an independent applyInPandas group running a single unit-vector
    matmul (the blocked-GEMM layout of dedup_embedding_cosine_pairs,
    but gated by the learned partition). Production scales K with
    N/target_cluster_size so n_c stays constant and total work linear;
    K is pinned small here so the oracle's unrolled SQL training stays
    tractable. Above {SEMDEDUP_TIER_MAX} vectors the declared query
    scores a deterministic 1-in-m subsample (the EXACT_TIER_MAX
    discipline) — the cap never binds at sf<=0.1.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from spark_rapids_ml_spark.ml.kmeans import KMeans

    e_all = planted_corpus_keyed(load(spark, sf_dir, "embeddings"))
    n_all = e_all.count()
    m = -(-n_all // SEMDEDUP_TIER_MAX)  # ceil
    if m > 1:
        # original-id subsample ((key % TWIN_BASE) // 2): twins stay
        # with their originals — see the oracle comment
        e_all = e_all.where(
            F.shiftright(F.col("vec_id") % SEM_TWIN_BASE, 1) % m == 0
        )
    # gate-widened before the cache (default floor: off at sf<=0.1,
    # where 32-way tiny-batch dispatch costs more than it buys; on at
    # sf1+, where the single-row-group source pins every cached fit /
    # assignment / GEMM pass to one core — sf1 8-vs-32-core ratio 1.00,
    # i.e. serial). ONE exchange after the planted scan, paid once at cache
    # materialization.
    from spark_rapids_ml_spark.sources.catalog import table_path, widen_frame

    ed = _cache(
        widen_frame(
            e_all.select("vec_id", F.col("embedding").alias("emb")),
            "vec_id",
            table_path(sf_dir, "embeddings"),
        )
    )
    model = KMeans(
        k=SEMDEDUP_K, feature_col="emb", id_col="vec_id",
        max_iter=SEMDEDUP_ITERS, tol=0.0,
    ).fit(ed)
    cells = model.transform(ed, "cluster")

    out_schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("n_members", LongType()),
            StructField("n_dropped", LongType()),
        ]
    )

    def sem_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(np.int64))
        x = np.vstack(pdf["emb"].map(lambda v: np.asarray(v, np.float64)))[order]
        u = x / np.linalg.norm(x, axis=1, keepdims=True)
        sims = u @ u.T
        # row i dropped iff any lower-id row in the cluster is a twin
        tri = np.tril(sims > SEMDEDUP_T, -1)
        return pd.DataFrame(
            {
                "cluster": [int(pdf["cluster"].iloc[0])],
                "n_members": [len(pdf)],
                "n_dropped": [int(tri.any(axis=1).sum())],
            }
        )

    stats = cells.groupBy("cluster").applyInPandas(sem_stats, out_schema)
    return stats.select(
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.round(
            (F.col("n_members") - F.col("n_dropped")) * 1.0 / F.col("n_members"), 6
        ).alias("keep_ratio"),
    ).orderBy("cluster")
