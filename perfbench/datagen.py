"""Deterministic inputs for the benchmark.

Two kinds of input, both written as single-file parquet tables:

* ``write_catalog(dst, sf)`` writes the ten catalog tables the declared
  queries read (``sources.catalog.TABLES``) at scale factor ``sf``, with
  the schemas, key ranges and value distributions of the engine's
  synthetic test data (TPC-H-like star schema, an ``events`` stream, a
  ``documents`` corpus with appended near-duplicates, unit-norm 64-d
  ``embeddings``). The generator seed is fixed, so a catalog is a pure
  function of ``sf`` and its query digests can be pinned.
* ``write_matrix(path, seed, rows, cols, rank)`` writes the ``ml-fit``
  training table ``(id bigint, features array<double>)``: a rank-``rank``
  signal plus isotropic noise, drawn from the run's ``--seed``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
_US_PER_DAY = 86_400_000_000
_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _pick(values: list[str], rng: np.random.Generator, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _cents(lo: float, hi: float, rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near-duplicates: another document's text with " dup" appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(_LANGS, rng, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def catalog_tables(sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (deterministic)."""
    rng = np.random.default_rng(CATALOG_SEED)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(-999.99, 9999.99, rng, n_cust)),
            "c_mktsegment": _pick(_SEGMENTS, rng, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(-999.99, 9999.99, rng, n_supp)),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(part_names, rng, n_part),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(_PART_TYPES, rng, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(["F", "O", "P"], rng, n_ord),
            "o_totalprice": pa.array(_cents(1000.0, 500000.0, rng, n_ord)),
            "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
            "o_orderpriority": _pick(_PRIORITIES, rng, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(900.0, 105000.0, rng, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(["A", "N", "R"], rng, n_li),
            "l_linestatus": _pick(["F", "O"], rng, n_li),
            "l_shipdate": _days("1995-01-02", 2498, rng, n_li),
        }
    )
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ev_base + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(_EVENT_TYPES, rng, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_catalog(dst: str, sf: float) -> None:
    os.makedirs(dst, exist_ok=True)
    for name, table in catalog_tables(sf).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"), compression="snappy")


def matrix(seed: int, rows: int, cols: int, rank: int) -> np.ndarray:
    """Rank-``rank`` signal with decaying scales plus unit noise."""
    rng = np.random.default_rng(seed)
    basis = np.linalg.qr(rng.standard_normal((cols, rank)))[0]
    scales = 10.0 * 0.7 ** np.arange(rank)
    x = (rng.standard_normal((rows, rank)) * scales) @ basis.T
    return x + rng.standard_normal((rows, cols)) + rng.uniform(-5, 5, cols)


def write_matrix(path: str, x: np.ndarray) -> None:
    feats = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), x.shape[1])
    table = pa.table(
        {
            "id": pa.array(np.arange(len(x), dtype=np.int64)),
            "features": feats.cast(pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, path, compression="snappy")


def fingerprint(directory: str) -> dict[str, list]:
    """Per-table ``[row count, sha256 of the file]``."""
    out: dict[str, list] = {}
    for fn in sorted(os.listdir(directory)):
        if fn.endswith(".parquet"):
            path = os.path.join(directory, fn)
            with open(path, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            out[fn[: -len(".parquet")]] = [pq.read_metadata(path).num_rows, digest]
    return out
