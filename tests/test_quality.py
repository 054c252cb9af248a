"""Quality gates beyond hash equality: recall of approximate
operators vs exact baselines, bounded error of sketches, and numpy
replay of the multimodal decode stubs.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_rapids_ml_spark.sources.catalog import load

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- recall

def _exact_topk(spark, k=5, n_queries=20):
    from spark_rapids_ml_spark.operators.similarity import sim_bruteforce_topk

    rows = sim_bruteforce_topk(spark, SF).collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["qid"], set()).add(r["vec_id"])
    return out


def test_lsh_recall_vs_bruteforce(spark):
    """LSH top-k must recover a reasonable share of true neighbors and
    every reported neighbor's cosine must be exact (it re-ranks with
    the exact metric)."""
    from spark_rapids_ml_spark.operators.similarity import sim_lsh_bucketed_topk

    truth = _exact_topk(spark)
    got = {}
    for r in sim_lsh_bucketed_topk(spark, SF).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [
        len(got.get(q, set()) & hits) / len(hits) for q, hits in truth.items()
    ]
    # measured 0.75 at 8 tables × 4 planes on this (deterministic)
    # corpus — the gate pins the production floor; the recall/cost
    # curve behind the choice is documented in SCALING.md
    assert np.mean(recalls) >= 0.6, f"mean recall {np.mean(recalls):.3f}"


def test_ivf_recall_vs_bruteforce(spark):
    from spark_rapids_ml_spark.operators.similarity import sim_ivf_topk

    truth = _exact_topk(spark)
    got = {}
    for r in sim_ivf_topk(spark, SF).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & hits) / len(hits) for q, hits in truth.items()]
    # learned k-means cells (round 4): measured 0.89 at nprobe=6 of 10
    # at sf0.001 (0.91 at sf0.01/sf0.1) vs 0.69 with the old random
    # label cells — curve in SCALING.md; deterministic corpus, no flake
    assert np.mean(recalls) >= 0.85, f"mean recall {np.mean(recalls):.3f}"


def test_ivf_sq_hybrid_recall_vs_bruteforce(spark):
    """IVF-SQ composes the learned coarse probe with the int8 codec;
    within probed cells the SQ ordering is near-exact (reconstruction
    error ~1.4e-3/element with a 4k candidate buffer), so its recall
    TRACKS THE FLAT IVF TIER'S EXACTLY where it matters: measured 0.92
    at sf0.001 (flat 0.92), 0.96 at sf0.1 (flat 0.96), 1.0 at sf10
    (flat 1.0, RECALL_r11.json) — probe loss dominates, the codec
    loses nothing. Gate 0.9 at this sf0.001 corpus (the flat tier's
    0.85-at-small-corpus discipline); the verdict's 0.95 criterion is
    measured at sf10 in RECALL_r11.json."""
    from spark_rapids_ml_spark.operators.similarity import sim_ivf_sq_hybrid_topk

    truth = _exact_topk(spark)
    got = {}
    for r in sim_ivf_sq_hybrid_topk(spark, SF).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & hits) / len(hits) for q, hits in truth.items()]
    assert np.mean(recalls) >= 0.9, f"mean recall {np.mean(recalls):.3f}"


def test_quantized_recall_vs_bruteforce(spark):
    """The int8-quantized tier re-ranks exactly, so with 4k candidates
    its top-k must match brute force almost perfectly (measured 1.0 on
    this corpus; reconstruction error ~1.4e-3/element)."""
    from spark_rapids_ml_spark.operators.similarity import sim_quantized_topk

    truth = _exact_topk(spark)
    got = {}
    for r in sim_quantized_topk(spark, SF).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & hits) / len(hits) for q, hits in truth.items()]
    assert np.mean(recalls) >= 0.95, f"mean recall {np.mean(recalls):.3f}"


def test_minhash_lsh_finds_true_duplicates(spark):
    """Every pair with true 3-gram Jaccard >= 0.9 must be an LSH
    candidate (the banding threshold is ~0.71), and candidates must
    skew to genuinely similar pairs."""
    from spark_rapids_ml_spark.operators.dedup import (
        dedup_minhash_lsh_pairs,
        dedup_ngram_jaccard_pairs,
    )

    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard_pairs(spark, SF).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh_pairs(spark, SF).collect()
        if r["doc_a"] <= 400 and r["doc_b"] <= 400  # the jaccard query's range
    }
    high = {p for p, j in jac.items() if j >= 0.9}
    missed = high - cand
    assert not missed, f"high-similarity pairs missed by LSH: {missed}"


# ----------------------------------------------------- LSH bucket cap

def _bands(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, band int, band_key long")


def _partition(pairs, n_docs):
    """Connected components of an edge list as a set of frozensets."""
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[int, set[int]] = {}
    for d in range(n_docs):
        groups.setdefault(find(d), set()).add(d)
    return {frozenset(g) for g in groups.values()}


def test_lsh_bucket_cap_star_on_1k_identical_docs(spark):
    """A degenerate corpus (1k identical docs -> one bucket per band)
    must produce O(n) star edges around the min doc_id, not the
    ~2M-row all-pairs blowup; every doc stays connected to the rep."""
    from spark_rapids_ml_spark.operators.dedup import N_BANDS, lsh_candidate_pairs

    n = 1000
    bands = _bands(spark, [(d, b, 12345) for d in range(n) for b in range(N_BANDS)])
    pairs = lsh_candidate_pairs(bands).collect()
    assert len(pairs) == n - 1
    assert all(r["doc_a"] == 0 and r["n_shared_bands"] == N_BANDS for r in pairs)
    assert {r["doc_b"] for r in pairs} == set(range(1, n))


def test_lsh_skew_guard_query_is_pure_star(spark):
    """The declared skew-stress query must come out ALL star: each of
    the 7 identical-text cohorts exceeds the cap at every sf, so every
    pair has a cohort representative (doc_id < 7) as doc_a, appears in
    all N_BANDS bands, and the row count is exactly (bounded docs -
    reps) — an all-pairs fallback would be ~18x larger."""
    from spark_rapids_ml_spark.operators.dedup import (
        N_BANDS,
        SKEW_MOD,
        dedup_lsh_skew_guard,
    )
    from spark_rapids_ml_spark.query_run import release_caches

    rows = dedup_lsh_skew_guard(spark, SF).collect()
    release_caches()
    assert len(rows) == 251 - SKEW_MOD  # docs 0..250 minus the 7 reps
    assert all(r["doc_a"] < SKEW_MOD for r in rows)
    assert all(r["n_shared_bands"] == N_BANDS for r in rows)
    assert all(r["doc_a"] == r["doc_b"] % SKEW_MOD for r in rows)


def test_lsh_bucket_cap_boundary_preserves_components(spark):
    """Adversarial cap±1 buckets: candidate count stays O(n·cap) and
    the connected components are IDENTICAL with and without the cap
    (the star guard only thins intra-bucket edges, never splits)."""
    from spark_rapids_ml_spark.operators.dedup import LSH_BUCKET_CAP, lsh_candidate_pairs

    cap = LSH_BUCKET_CAP
    sizes = [cap - 1, cap, cap + 1, 3]
    rows, doc = [], 0
    for key, size in enumerate(sizes):
        rows.extend((doc + i, 0, key) for i in range(size))
        doc += size
    bands = _bands(spark, rows)
    capped = [(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(bands).collect()]
    uncapped = [
        (r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(bands, cap=1 << 40).collect()
    ]
    all_pairs_small = sum(s * (s - 1) // 2 for s in sizes if s <= cap)
    assert len(capped) == all_pairs_small + cap  # cap+1 bucket -> star of `cap` edges
    assert len(uncapped) == sum(s * (s - 1) // 2 for s in sizes)
    assert _partition(capped, doc) == _partition(uncapped, doc)


def test_simhash_banding_pigeonhole_exact(spark):
    """Exact local replay of the whole operator — banding, the shared
    oversize-bucket star guard, and the Hamming verify — must match
    the distributed result pair-for-pair. Where no bucket exceeds the
    cap, the replay IS the exhaustive radius-3 truth (pigeonhole: 3
    flipped bits cannot touch all 4 bands), so the test also proves
    the recall-1.0-under-cap guarantee; oversize buckets degrade to
    the guard's star, which the replay models identically."""
    from spark_rapids_ml_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        SIMHASH_BANDS,
        SIMHASH_HAMMING_MAX,
        _simhash_df,
        dedup_simhash_hamming_pairs,
    )
    from spark_rapids_ml_spark.query_run import release_caches

    sigs = {r["doc_id"]: r["simhash"] for r in _simhash_df(spark, SF).collect()}
    cand: set[tuple[int, int]] = set()
    for b in range(SIMHASH_BANDS):
        buckets: dict[int, list[int]] = {}
        for d, s in sigs.items():
            buckets.setdefault((s >> (8 * b)) & 255, []).append(d)
        for members in buckets.values():
            members.sort()
            if len(members) <= LSH_BUCKET_CAP:
                cand.update(
                    (members[i], members[j])
                    for i in range(len(members))
                    for j in range(i + 1, len(members))
                )
            else:
                cand.update((members[0], d) for d in members[1:])
    truth = {
        (a, b)
        for a, b in cand
        if bin(sigs[a] ^ sigs[b]).count("1") <= SIMHASH_HAMMING_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"]) for r in dedup_simhash_hamming_pairs(spark, SF).collect()
    }
    release_caches()
    assert got == truth, (
        f"replay mismatch: {len(truth - got)} missing / {len(got - truth)} extra"
    )


def test_checkpoint_blocks_actually_released(spark):
    """release_caches() must free localCheckpoint STORAGE BLOCKS.
    Dataset.unpersist() alone is a no-op for checkpoints (their blocks
    are not CacheManager entries), so the registry tracks the JVM RDD
    under the LogicalRDD plan and unpersists that."""
    from spark_rapids_ml_spark.query_run import _checkpoint_rdd, checkpoint, release_caches

    ck = checkpoint(
        spark.range(50_000).selectExpr("id", "id * 3 AS y").localCheckpoint(eager=True)
    )
    rdd_id = _checkpoint_rdd(ck).id()
    jsc = spark.sparkContext._jsc.sc()
    assert rdd_id in {i.id() for i in jsc.getRDDStorageInfo()}, "blocks not materialized"
    release_caches()
    assert rdd_id not in {i.id() for i in jsc.getRDDStorageInfo()}, "blocks not freed"


def test_cluster_paths_agree(spark):
    """The adaptive clustering must give identical components whether
    it solves locally (driver union-find) or distributed (label
    propagation) — the declared query picks by edge count, so both
    paths are pinned here against each other."""
    from spark_rapids_ml_spark.operators.dedup import (
        _components_distributed,
        _components_local,
        dedup_minhash_lsh_pairs,
    )
    from spark_rapids_ml_spark.query_run import release_caches

    pairs = dedup_minhash_lsh_pairs(spark, SF).select("doc_a", "doc_b")
    rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    release_caches()
    assert rows, "no candidate pairs at sf0.001 — fixture broke"
    local = dict(_components_local(rows))
    dist = {
        r["doc_id"]: r["label"]
        for r in _components_distributed(spark, pairs).collect()
    }
    release_caches()
    assert local == dist


def _winnow_py(text: str, k: int, w: int) -> set[int]:
    """Python replica of the winnowing selection (portable md5 hash)."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    m = max(len(text) - k + 1, 1)
    hs = [h60(text[i : i + k]) for i in range(m)]
    return {
        min(hs[j : j + w]) for j in range(max(len(hs) - w + 1, 1))
    }


def test_winnowing_guarantee_shared_substring(spark):
    """The MOSS guarantee: two docs sharing a substring of length
    >= k+w-1 must share at least one selected fingerprint; and the
    Spark query's per-doc counts must match the python replica."""
    from spark_rapids_ml_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        text_winnow_fingerprint,
    )

    shared = "xyzzy plugh common run"  # len 22 >= k+w-1 = 11
    a = "alpha beta " + shared + " tail one"
    b = "gamma " + shared + " completely different end"
    assert _winnow_py(a, WINNOW_K, WINNOW_W) & _winnow_py(b, WINNOW_K, WINNOW_W)

    got = {r["doc_id"]: r for r in text_winnow_fingerprint(spark, SF).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").where(F.col("doc_id") <= 200).collect()
    }
    for doc_id, text in docs.items():
        fps = _winnow_py(text, WINNOW_K, WINNOW_W)
        assert got[doc_id]["n_fingerprints"] == len(fps)
        assert got[doc_id]["min_fp"] == min(fps)
        assert got[doc_id]["max_fp"] == max(fps)


# ------------------------------------------------------------- sketches

def test_approx_count_distinct_bounded_error(spark):
    """The declared query emits exact + within_tolerance; this gate
    re-derives the raw sketch estimate and bounds its error, so the
    flag can't go vacuously true via a broken approx expression."""
    from spark_rapids_ml_spark.operators.aggregates import agg_approx_count_distinct

    rows = {r["l_returnflag"]: r for r in agg_approx_count_distinct(spark, SF).collect()}
    li = load(spark, SF, "lineitem")
    raw = {
        r["l_returnflag"]: (r["a"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("a"),
            F.countDistinct("l_partkey").alias("n"),
        )
        .collect()
    }
    for k, (a, e) in raw.items():
        assert rows[k]["within_tolerance"] == 1
        assert rows[k]["exact_parts"] == e
        rel = abs(a - e) / e
        assert rel < 0.1, f"{k}: approx {a} vs exact {e} (rel {rel:.3f})"


def test_embedding_lsh_dedup_recall(spark):
    """The LSH near-dup path must recover a meaningful share of the
    exact cosine>0.8 pairs, and report no false positives (it applies
    the exact threshold after candidate generation). The exact set MUST
    be non-empty — the queries run over the planted near-dup corpus
    precisely so this gate binds; an empty set means the planting broke
    and the whole family is vacuous again."""
    from spark_rapids_ml_spark.operators.dedup import (
        dedup_embedding_cosine_pairs,
        dedup_embedding_lsh_pairs,
    )

    exact = {
        (r["vec_a"], r["vec_b"]) for r in dedup_embedding_cosine_pairs(spark, SF).collect()
    }
    assert len(exact) >= 10, f"planted corpus yielded only {len(exact)} exact pairs"
    lsh = {(r["vec_a"], r["vec_b"]) for r in dedup_embedding_lsh_pairs(spark, SF).collect()}
    assert lsh <= exact, f"false positives: {lsh - exact}"
    recall = len(lsh & exact) / len(exact)
    # measured 0.982 / 0.982 / 0.987 at sf0.001 / 0.01 / 0.1 (round 4,
    # deterministic corpus) — the gate pins just under the measured
    # floor so a real regression (lost table, broken banding) fails
    assert recall >= 0.95, f"recall {recall:.2f} over {len(exact)} true pairs"


def test_embedding_planted_threshold_discriminates(spark):
    """The planted corpus must also produce pairs BELOW the 0.8
    threshold (otherwise the filter is a no-op over plantings), and
    every original↔its-own-copy pair must be well clear of the
    threshold boundary (no cross-engine rounding flake)."""
    from spark_rapids_ml_spark.operators.dedup import (
        PLANT_ID_OFFSET,
        planted_corpus,
    )
    from spark_rapids_ml_spark.operators.similarity import cosine_expr

    e = planted_corpus(load(spark, SF, "embeddings"))
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, F.col("vb") == F.col("va") + PLANT_ID_OFFSET)
        .select(cosine_expr("ea", "eb").alias("c"))
        .collect()
    )
    cos = [r["c"] for r in pairs]
    assert len(cos) >= 50
    assert any(c <= 0.8 for c in cos), "no planted pair below threshold"
    assert any(c > 0.8 for c in cos), "no planted pair above threshold"
    assert all(abs(c - 0.8) > 5e-4 for c in cos), "pair too close to threshold"


def test_approx_percentile_bounded_error(spark):
    """Same discipline as the count-distinct gate: re-derive the raw
    sketch median and bound its error against the exact percentile."""
    from spark_rapids_ml_spark.operators.aggregates import agg_approx_percentile

    rows = {r["o_orderpriority"]: r for r in agg_approx_percentile(spark, SF).collect()}
    o = load(spark, SF, "orders")
    raw = {
        r["o_orderpriority"]: (r["a"], r["m"])
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("a"),
            F.expr("percentile(o_totalprice, 0.5)").alias("m"),
        )
        .collect()
    }
    for k, (a, e) in raw.items():
        assert rows[k]["within_tolerance"] == 1
        assert rows[k]["exact_med"] == round(e, 6)
        rel = abs(a - e) / e
        assert rel < 0.05, f"{k}: approx {a} vs exact {e} (rel {rel:.3f})"


# ----------------------------------------------------- multimodal replay

def test_ppm_codec_roundtrip_and_validation():
    from spark_rapids_ml_spark.functions.codecs import decode_ppm, encode_ppm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(8, 16, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    # header with comments + arbitrary whitespace must still parse
    body = img.tobytes()
    fancy = b"P6 # comment\n  16\t8 # wxh\n255\n" + body
    assert np.array_equal(decode_ppm(fancy), img)
    with pytest.raises(ValueError, match="magic"):
        decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="short pixel data"):
        decode_ppm(b"P6\n16 8\n255\n" + body[:-10])
    # a CRLF-terminated header must decode correctly (the \r is the
    # single post-maxval whitespace byte; the \n belongs to the raster
    # only if the writer meant it to) — and a NON-whitespace byte after
    # maxval must raise instead of silently shifting the pixel data
    crlf = b"P6\n16 8\n255\r" + body
    assert decode_ppm(crlf).shape == (8, 16, 3)
    with pytest.raises(ValueError, match="whitespace"):
        decode_ppm(b"P6\n16 8\n255X" + body)


def test_wav_codec_roundtrip_and_validation():
    from spark_rapids_ml_spark.functions.codecs import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    s8 = rng.integers(0, 256, size=1000, dtype=np.uint8)
    x, sr = decode_wav(encode_wav(s8, 8000, bits=8))
    assert sr == 8000
    assert np.array_equal(x, s8.astype(np.float64) - 128.0)
    s16 = rng.integers(-32768, 32767, size=500).astype(np.int16)
    x16, _ = decode_wav(encode_wav(s16, 16000, bits=16))
    assert np.array_equal(x16, s16.astype(np.float64))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS....")


def test_image_decode_features_match_numpy_replay(spark):
    """The declared query builds REAL PPM payloads and parses them;
    the replay re-encodes and re-decodes each text locally."""
    from spark_rapids_ml_spark.functions.codecs import decode_ppm
    from spark_rapids_ml_spark.operators.multimodal import (
        FAKE_H,
        FAKE_W,
        mm_image_decode_features,
        ppm_from_text,
    )

    got = {r["doc_id"]: r for r in mm_image_decode_features(spark, SF).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").where(F.col("doc_id") <= 100).collect()
    }
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        img = decode_ppm(ppm_from_text(text))
        assert (got[doc_id]["height"], got[doc_id]["width"]) == (FAKE_H, FAKE_W)
        assert got[doc_id]["mean_px"] == pytest.approx(img.mean(), abs=1e-5)
        assert got[doc_id]["std_px"] == pytest.approx(img.std(), abs=1e-5)
        assert got[doc_id]["f0"] == pytest.approx(img.mean(axis=(0, 2))[0], abs=1e-5)


def test_decode_rejects_compressed_without_fake_flag():
    import pandas as pd

    from spark_rapids_ml_spark.operators.multimodal import decode_image_batch

    with pytest.raises(NotImplementedError, match="not an uncompressed P6 PPM"):
        decode_image_batch(pd.Series([b"\xff\xd8\xff\xe0jpeg-ish"]))
    # but a genuine PPM decodes for real, no flag needed
    from spark_rapids_ml_spark.operators.multimodal import ppm_from_text

    out = decode_image_batch(pd.Series([ppm_from_text("hello world")]))
    assert out[0].shape == (8, 16, 3)


def test_image_resize_matches_numpy_replay(spark):
    from spark_rapids_ml_spark.functions.codecs import decode_ppm
    from spark_rapids_ml_spark.operators.multimodal import (
        RESIZE_FACTOR,
        mm_image_resize,
        ppm_from_text,
        resize_nearest,
    )

    got = {r["doc_id"]: r for r in mm_image_resize(spark, SF).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").where(F.col("doc_id") <= 100).collect()
    }
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        img = decode_ppm(ppm_from_text(text))
        small = resize_nearest(img)
        assert (got[doc_id]["out_h"], got[doc_id]["out_w"]) == small.shape[:2]
        assert small.shape[0] == img.shape[0] // RESIZE_FACTOR
        assert got[doc_id]["mean_px_resized"] == pytest.approx(small.mean(), abs=1e-5)


def test_audio_frames_match_numpy_replay(spark):
    """The declared query builds REAL WAV payloads; the replay
    round-trips each text through the codec."""
    from spark_rapids_ml_spark.functions.codecs import decode_wav
    from spark_rapids_ml_spark.operators.multimodal import (
        FRAME_LEN,
        mm_audio_frame_sample,
        wav_from_text,
    )

    rows = mm_audio_frame_sample(spark, SF).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").where(F.col("doc_id") <= 50).collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, frames in by_doc.items():
        sig, sr = decode_wav(wav_from_text(docs[doc_id]))
        assert sr == 8000
        assert len(frames) == max(1, len(sig) // FRAME_LEN)
        fr0 = sig[:FRAME_LEN]
        assert frames[0]["rms"] == pytest.approx(float(np.sqrt(np.mean(fr0**2))), abs=1e-5)


# ------------------------------------------------------- z-order locality

def test_zorder_buckets_prune_both_dimensions(spark):
    """Z-order bucketing must bound BOTH dimensions per bucket: for a
    uniform random equality predicate on one dimension, the expected
    fraction of buckets whose [min,max] range contains the probe (=
    the buckets a stats-based reader cannot skip) must be far below
    the linear-sort layout's on the non-sorted dimension, while
    staying useful on the sorted one."""
    from pyspark.sql import Window

    from spark_rapids_ml_spark.operators.scale_patterns import (
        _Z_BUCKETS,
        _Z_MASK,
        layout_zorder_buckets,
        zorder_key,
    )

    def unpruned_frac(rows, lo_key, hi_key, domain):
        # P(bucket range contains a uniform probe) averaged over buckets
        return float(
            np.mean([(r[hi_key] - r[lo_key] + 1) / domain for r in rows])
        )

    # sf0.01: both dims cover the full 10-bit domain (partkey spans
    # 1..2000 -> x wraps 1024; at sf0.001 x stops at 200 and domain
    # clipping distorts the extent ratios)
    SF01 = "/root/testdata/sf0.01"
    zrows = layout_zorder_buckets(spark, SF01).collect()

    li = (
        load(spark, SF01, "lineitem")
        .where(F.col("l_orderkey") <= 6000)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_partkey") % (_Z_MASK + 1)).alias("x"),
            (F.col("l_orderkey") % (_Z_MASK + 1)).alias("y"),
        )
    )
    w = Window.orderBy("x", "l_orderkey", "l_linenumber")
    lin = (
        li.select("x", "y", F.ntile(_Z_BUCKETS).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .collect()
    )

    x_dom = max(r["max_x"] for r in lin) - min(r["min_x"] for r in lin) + 1
    y_dom = max(r["max_y"] for r in lin) - min(r["min_y"] for r in lin) + 1

    lin_y = unpruned_frac(lin, "min_y", "max_y", y_dom)
    z_y = unpruned_frac(zrows, "min_y", "max_y", y_dom)
    z_x = unpruned_frac(zrows, "min_x", "max_x", x_dom)

    # linear-by-x leaves y unconstrained (~every bucket spans ~the
    # full y domain); z-order must cut the unprunable fraction >= 2x
    assert lin_y > 0.5, f"fixture not adversarial: lin_y={lin_y:.2f}"
    assert z_y * 2 <= lin_y, f"z_y={z_y:.2f} lin_y={lin_y:.2f}"
    # and still bound x well enough that an x-predicate skips most
    # buckets (the trade z-order makes vs a perfect x sort)
    assert z_x <= 0.5, f"z_x={z_x:.2f}"

    # sanity: the zorder key is the exact bit interleave (python oracle)
    import itertools

    def py_z(x, y):
        z = 0
        for i in range(10):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    probe = spark.createDataFrame(
        [(x, y) for x, y in itertools.product([0, 1, 5, 1023], repeat=2)], "x long, y long"
    ).select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    for r in probe:
        assert r["z"] == py_z(r["x"], r["y"])


# ---------------------------------------------------------------------------
# frequent-items sketch: the mergeable-summaries error bound
# ---------------------------------------------------------------------------


def _freq_merge_bounds(leaves: list[list[str]], cap: int) -> dict[str, tuple[int, int]]:
    """Pure-python mirror of agg_freq_items_merge's summary+merge math:
    per leaf keep top-`cap` (count desc, term asc) counts plus the
    rank-(cap+1) count as the residual bound; merged bounds for term t:
    lower = Σ kept counts, upper = lower + Σ resid over leaves where t
    was NOT kept. Returns bounds for EVERY term seen anywhere."""
    from collections import Counter

    kept_per_leaf: list[dict[str, int]] = []
    resid_per_leaf: list[int] = []
    for items in leaves:
        cnt = Counter(items)
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        kept_per_leaf.append(dict(ranked[:cap]))
        resid_per_leaf.append(ranked[cap][1] if len(ranked) > cap else 0)
    all_terms = {t for kept in kept_per_leaf for t in kept} | {
        t for items in leaves for t in items
    }
    out = {}
    for t in all_terms:
        lower = sum(kept.get(t, 0) for kept in kept_per_leaf)
        upper = lower + sum(
            resid
            for kept, resid in zip(kept_per_leaf, resid_per_leaf)
            if t not in kept
        )
        out[t] = (lower, upper)
    return out


def test_freq_items_bound_property():
    """The sketch guarantee — lower ≤ true ≤ upper for EVERY term (not
    just the reported top-k) — must hold for arbitrary skew, leaf
    splits, and capacities, including adversarial cases where heavy
    terms concentrate in one leaf or tie at the capacity boundary."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        items=st.lists(
            st.sampled_from([f"t{i}" for i in range(40)]), min_size=1, max_size=400
        ),
        n_leaves=st.integers(min_value=1, max_value=8),
        cap=st.integers(min_value=1, max_value=12),
        salt=st.integers(min_value=0, max_value=1000),
    )
    def check(items, n_leaves, cap, salt):
        leaves = [
            [t for j, t in enumerate(items) if (j + salt) % n_leaves == i]
            for i in range(n_leaves)
        ]
        truth = Counter(items)
        bounds = _freq_merge_bounds(leaves, cap)
        for t, n in truth.items():
            lo, hi = bounds[t]
            assert lo <= n <= hi, (t, lo, n, hi, cap, n_leaves)

    check()


def test_freq_items_query_flag_and_bounds(spark):
    """The declared query's within_bound flag must be 1 on every
    reported row, and the bounds must tighten to exact when the
    capacity covers the whole leaf vocabulary."""
    from spark_rapids_ml_spark.operators.aggregates import agg_freq_items_merge

    rows = agg_freq_items_merge(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["within_bound"] == 1, r
        assert r["lower_n"] <= r["exact_n"] <= r["upper_n"], r


# ---------------------------------------------------------------------------
# quantile sketch: the merged systematic-rank-sample error bound
# ---------------------------------------------------------------------------


def _quantile_sketch_estimate(leaves: list[list[float]], size: int) -> float:
    """Pure-python mirror of agg_quantile_sketch_merge: per leaf keep
    the order statistics at ranks {r : (r*size)//n > ((r-1)*size)//n}
    with integer weight = covered-rank run length; merge all weighted
    samples value-sorted and return the smallest value whose
    cumulative weight reaches ceil(N/2)."""
    samples = []  # (value, weight)
    for items in leaves:
        if not items:
            continue
        xs = sorted(items)
        n = len(xs)
        prev = 0
        for r in range(1, n + 1):
            if (r * size) // n > ((r - 1) * size) // n:
                samples.append((xs[r - 1], r - prev))
                prev = r
    samples.sort(key=lambda t: t[0])
    total = sum(w for _, w in samples)
    target = (total + 1) // 2
    cw = 0
    for v, w in samples:
        cw += w
        if cw >= target:
            return v
    return samples[-1][0]


def test_quantile_sketch_rank_bound_property():
    """The merged estimate's exact rank must sit within
    N/size + 2*leaves + 2 of the target rank ceil(N/2) for arbitrary
    distributions, duplicate-heavy data, and uneven leaf splits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        vals=st.lists(
            st.integers(min_value=-50, max_value=50), min_size=1, max_size=500
        ),
        n_leaves=st.integers(min_value=1, max_value=8),
        size=st.integers(min_value=2, max_value=32),
        salt=st.integers(min_value=0, max_value=1000),
    )
    def check(vals, n_leaves, size, salt):
        leaves = [
            [float(v) for j, v in enumerate(vals) if (j + salt) % n_leaves == i]
            for i in range(n_leaves)
        ]
        est = _quantile_sketch_estimate(leaves, size)
        n = len(vals)
        est_rank = sum(1 for v in vals if v <= est)
        target = (n + 1) // 2
        tol = n / size + 2 * n_leaves + 2
        assert abs(est_rank - target) <= tol, (est, est_rank, target, tol, n, size)

    check()


def test_quantile_sketch_query_flag(spark):
    """The declared query's within_bound flag must be 1 on every group
    and the estimate must be an actual data value."""
    from spark_rapids_ml_spark.operators.aggregates import agg_quantile_sketch_merge

    rows = agg_quantile_sketch_merge(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["within_bound"] == 1, r


def test_naive_bayes_separable_corpus(spark):
    """NB must reach >= 95% held-out accuracy when classes genuinely
    differ (disjoint-ish vocabularies) — gating the pipeline mechanics
    the declared query hash-verifies. (The testdata corpus's lang
    labels are content-independent by construction, so the declared
    query's confusion matrix is prior-bound there; this test supplies
    a corpus where the signal exists.)"""
    import random

    from spark_rapids_ml_spark.ml_queries import naive_bayes_confusion

    vocab = {
        "red": ["apple", "cherry", "rose", "brick", "wine", "ruby"],
        "blue": ["sky", "ocean", "jeans", "sapphire", "berry", "navy"],
        "green": ["grass", "leaf", "lime", "moss", "jade", "fern"],
    }
    shared = ["the", "a", "of", "and"]
    rng = random.Random(7)
    rows = []
    for i in range(300):
        lab = ["red", "blue", "green"][i % 3]
        toks = [rng.choice(vocab[lab] + shared) for _ in range(30)]
        rows.append((i, lab, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING, text STRING")
    train = df.where(F.pmod("doc_id", F.lit(5)) != 0)
    test = df.where(F.pmod("doc_id", F.lit(5)) == 0)
    out = naive_bayes_confusion(train, test, "lang").collect()
    total = sum(r["n"] for r in out)
    correct = sum(r["n"] for r in out if r["true_lang"] == r["pred_lang"])
    assert total == 60
    assert correct / total >= 0.95, (correct, total, out)


def test_naive_bayes_declared_query_shape(spark):
    """The declared query's matrix must cover every test doc exactly
    once (row sums == held-out count) — the pipeline-integrity check
    that is meaningful on a content-independent corpus."""
    from pyspark.sql import functions as FF

    from spark_rapids_ml_spark.ml_queries import ml_naive_bayes_langid
    from spark_rapids_ml_spark.sources.catalog import load

    rows = ml_naive_bayes_langid(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["n"] for r in rows)
    held_out = (
        load(spark, "/root/testdata/sf0.001", "documents")
        .where(FF.pmod("doc_id", FF.lit(5)) == 0)
        .count()
    )
    assert total == held_out


# ---------------------------------------------------------------------------
# BPE trainer: hand-computed oracle + determinism
# ---------------------------------------------------------------------------


def test_bpe_train_hand_computed():
    """Pin the merge loop on a corpus small enough to verify by hand:
    vocab {"aaab": 3, "ab": 2}. Pair counts round 1: (a,a) 2*3=6,
    (a,b) 3+2=5 → merge (a,a). Round 2: (aa,a) 3, (a,b) 3+2=5 →
    merge (a,b). Round 3: sequences are [aa, ab] and [ab]:
    (aa,ab) 3 → merge. Round 4: only [aaab] and [ab] single symbols
    for aaab; remaining pairs: none for "ab" (merged) → loop ends."""
    from spark_rapids_ml_spark.operators.llm_pipeline import bpe_train_merges

    merges = bpe_train_merges([("aaab", 3), ("ab", 2)], n_merges=8)
    assert merges == [
        (1, "a", "a", 6),
        (2, "a", "b", 5),
        (3, "aa", "ab", 3),
    ], merges


def test_bpe_tie_break_deterministic():
    """Equal-count pairs must break lexicographically, so training is
    order-independent (the distributed vocab arrives unordered)."""
    from spark_rapids_ml_spark.operators.llm_pipeline import bpe_train_merges

    m1 = bpe_train_merges([("xy", 5), ("uv", 5)], n_merges=1)
    m2 = bpe_train_merges([("uv", 5), ("xy", 5)], n_merges=1)
    assert m1 == m2 == [(1, "u", "v", 5)]


def test_bpe_declared_query_deterministic(spark):
    """Two runs of the declared query must return identical merge
    tables (vocab collection order must not leak into the rules)."""
    from spark_rapids_ml_spark.operators.llm_pipeline import pipe_bpe_train_merges

    a = [tuple(r) for r in pipe_bpe_train_merges(spark, "/root/testdata/sf0.001").collect()]
    b = [tuple(r) for r in pipe_bpe_train_merges(spark, "/root/testdata/sf0.001").collect()]
    assert a == b
    assert len(a) > 0


def test_zorder_written_files_have_disjoint_zkey_ranges(spark):
    """The production write path must produce one file per range
    partition with pairwise-DISJOINT zkey ranges — the property that
    makes file-level min/max stats prune scans. A hash or round-robin
    layout would interleave keys across every file and fail this."""
    from spark_rapids_ml_spark.operators.scale_patterns import zorder_write_path

    SF01 = "/root/testdata/sf0.01"
    out = zorder_write_path(spark, SF01)
    back = spark.read.parquet(out)
    files = back.inputFiles()
    assert len(files) > 1, files
    bounds = []
    for f in files:
        one = spark.read.parquet(f.replace("file:", ""))
        lo, hi = one.agg(F.min("zkey"), F.max("zkey")).first()
        if lo is not None:
            bounds.append((lo, hi))
    bounds.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        # ranges may touch at a shared boundary key only if the range
        # partitioner split inside a zkey tie (tiebreak columns); they
        # must never properly overlap
        assert hi1 <= lo2, (bounds,)
    # and the layout covers multiple non-empty ranges (a single-file
    # write would trivially pass disjointness)
    assert len(bounds) >= 8, bounds


def test_bpe_fixed_merges_match_training(spark):
    """The deployed merge table (BPE_FIXED_MERGES) must be exactly
    what pipe_bpe_train_merges learns on the reference corpus
    (sf0.001) — the train→apply coupling: if training semantics drift,
    this pins it before the apply query silently tokenizes under a
    stale vocabulary."""
    from spark_rapids_ml_spark.operators.llm_pipeline import BPE_FIXED_MERGES
    from spark_rapids_ml_spark.registry import all_queries

    trained = all_queries()["pipe_bpe_train_merges"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [(r["merge_rank"], r["left"], r["right"]) for r in trained] == [
        (r, a, b) for r, a, b in BPE_FIXED_MERGES
    ]


def test_bpe_apply_hand_cases():
    """Left-greedy merge application pinned on hand-computed cases,
    including rank ordering (a later merge consumes an earlier merge's
    output: p+ar) and the non-overlap scan-resume rule."""
    from spark_rapids_ml_spark.operators.llm_pipeline import (
        BPE_FIXED_MERGES,
        bpe_apply,
    )

    assert bpe_apply("part", BPE_FIXED_MERGES) == ["par", "t"]
    assert bpe_apply("customer", BPE_FIXED_MERGES) == ["c", "u", "st", "o", "m", "er"]
    assert bpe_apply("order", BPE_FIXED_MERGES) == ["or", "d", "er"]
    # non-overlap: "rrr" under a hypothetical (r,r) merge pairs
    # left-greedy then resumes AFTER the merged pair
    assert bpe_apply("rrr", [(1, "r", "r")]) == ["rr", "r"]
    assert bpe_apply("rrrr", [(1, "r", "r")]) == ["rr", "rr"]
    # empty-ish and no-match words pass through as characters
    assert bpe_apply("x", BPE_FIXED_MERGES) == ["x"]
