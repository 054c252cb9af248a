"""Generate a persisted sf1 (10x sf0.1) dataset for scale probes.

/root/testdata is read-only, so the 10x volume lives at
/root/repo/testdata_sf1/ (gitignored; regenerate with
`python tools/make_sf1.py`). Deterministic: pure function of the
sf0.1 input plus fixed seeds.

Scale-up design — 10 shifted-key copies, with the transforms chosen so
every query family still measures what it measures at sf0.1:

- Fact/dim keys (orderkey, custkey, partkey, suppkey, event/user ids,
  doc/vec ids) are shifted per copy by non-overlapping offsets, applied
  CONSISTENTLY on both sides of every foreign key, so join fan-outs and
  group cardinalities scale linearly (10x keys, same per-key row
  counts). nation/region stay fixed: dimension tables don't grow with
  fact volume.
- Timestamps are left unchanged: 10x event/order density in the same
  time range, so window/watermark/gap-fill semantics are preserved and
  per-window state grows 10x (the interesting axis).
- documents.text is word-shuffled per copy, seeded by (copy,
  text-hash): unigram statistics (token counts, langid, TF-IDF,
  quality scores) are preserved per copy, but shingle/minhash
  signatures differ across copies, so the 10x corpus does NOT create
  artificial 10-member near-duplicate cohorts that would blow up
  dedup pair OUTPUT quadratically (the failure mode an unshuffled 10x
  copy of the corpus provokes). Seeding by text-hash
  (not doc_id) keeps the corpus's own intra-copy duplicate cohorts
  byte-identical within each copy, so exact/near-dup queries still
  find 10x the genuine cohorts.
- embeddings get a per-copy diagonal +-1 sign flip (copy 0 =
  identity): within-copy dot products and norms are EXACTLY preserved
  (recall structure per copy identical to sf0.1), while cross-copy
  cosines are sign-scrambled toward zero — 10x corpus, no synthetic
  duplicate vectors.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_SF1_SRC", "/root/testdata/sf0.1")
DST = os.environ.get(
    "SPARK_GRAFT_SF1_DST",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata_sf1"),
)
COPIES = 10

# per-copy key offsets: larger than each key's max at sf0.1. When the
# SOURCE is itself a scaled-up output (e.g. sf1 -> sf10), set
# SPARK_GRAFT_SF1_OFFSET_MULT to the source's own scale-up factor so
# the per-copy shifts clear the source's full (already-shifted) key
# range — otherwise copies collide and join fan-outs go super-linear.
_OFF_MULT = int(os.environ.get("SPARK_GRAFT_SF1_OFFSET_MULT", "1"))
OFFSETS = {
    "orderkey": 1_000_000 * _OFF_MULT,
    "custkey": 100_000 * _OFF_MULT,
    "partkey": 100_000 * _OFF_MULT,
    "suppkey": 10_000 * _OFF_MULT,
    "event_id": 1_000_000 * _OFF_MULT,
    "user_id": 10_000 * _OFF_MULT,
    "doc_id": 100_000 * _OFF_MULT,
    "vec_id": 100_000 * _OFF_MULT,
}

# (table, column) -> offset key
SHIFTS = {
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}


def shifted_copies(tbl: pa.Table, shifts: dict[str, str]) -> list[pa.Table]:
    out = []
    for i in range(COPIES):
        t = tbl
        for col, okey in shifts.items():
            idx = t.schema.get_field_index(col)
            arr = pc.add(t.column(col), i * OFFSETS[okey]).cast(t.schema.field(col).type)
            t = t.set_column(idx, t.schema.field(col), arr)
        out.append(t)
    return out


def shuffle_text(text: str, copy: int) -> str:
    if copy == 0:
        return text
    words = text.split(" ")
    seed = int.from_bytes(
        hashlib.sha1(f"{copy}|{text}".encode()).digest()[:8], "big"
    )
    random.Random(seed).shuffle(words)
    return " ".join(words)


def make_documents(tbl: pa.Table) -> list[pa.Table]:
    copies = shifted_copies(tbl, SHIFTS["documents"])
    out = []
    for i, t in enumerate(copies):
        if i == 0:
            out.append(t)
            continue
        texts = [shuffle_text(s, i) for s in t.column("text").to_pylist()]
        idx = t.schema.get_field_index("text")
        t = t.set_column(idx, t.schema.field("text"), pa.array(texts, pa.string()))
        # word-shuffle preserves length exactly (single-space corpus),
        # so n_chars stays valid; assert rather than trust
        assert all(
            len(s) == n for s, n in zip(texts, t.column("n_chars").to_pylist())
        ), "shuffle changed text length"
        out.append(t)
    return out


def make_embeddings(tbl: pa.Table) -> list[pa.Table]:
    copies = shifted_copies(tbl, SHIFTS["embeddings"])
    dim = len(tbl.column("embedding")[0])
    out = []
    for i, t in enumerate(copies):
        if i == 0:
            out.append(t)
            continue
        rng = np.random.default_rng(9000 + i)
        signs = rng.choice([np.float32(-1.0), np.float32(1.0)], size=dim)
        mat = np.asarray(t.column("embedding").combine_chunks().flatten(), dtype=np.float32).reshape(
            -1, dim
        )
        flipped = (mat * signs).reshape(-1)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(flipped, pa.float32()), dim).cast(
            t.schema.field("embedding").type
        )
        idx = t.schema.get_field_index("embedding")
        t = t.set_column(idx, t.schema.field("embedding"), emb)
        out.append(t)
    return out


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    for name in [
        "region",
        "nation",
        "supplier",
        "part",
        "customer",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        src = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
        if name in ("region", "nation"):
            copies = [src]
        elif name == "documents":
            copies = make_documents(src)
        elif name == "embeddings":
            copies = make_embeddings(src)
        else:
            copies = shifted_copies(src, SHIFTS[name])
        full = pa.concat_tables(copies)
        pq.write_table(full, os.path.join(DST, f"{name}.parquet"))
        print(f"{name}: {src.num_rows} -> {full.num_rows} rows", flush=True)
    print(f"wrote {DST}")


if __name__ == "__main__":
    main()
