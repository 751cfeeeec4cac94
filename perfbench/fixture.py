"""Deterministic fixture for the benchmark: the published seed-42 tables.

Writes the ten tables the engine reads (``swallow_spark.TABLES``), one
single-row-group parquet file each. ``tables(sf, 42)`` reproduces the
published sf0.001, sf0.01 and sf0.1 fixtures value for value: the same
numpy ``default_rng`` draws, in the same order, with the same category
orders. ``tests/test_fixture.py`` pins that with per-column digests of the
published sf0.01 files, so the benchmark's workloads see the row counts,
skew and duplicates the engine's own tests and the oracle gate see.

What the draws give (measured on the published files; ``FIXTURES.md``
differs on some of these points, the files are what is reproduced):

- star schema: dense keys; foreign keys drawn uniformly, so lines per order
  are Poisson(4) and about 2 % of orders carry no lineitem;
  ``l_linenumber`` is uniform 1-7, not 1..n per order;
- events: ``ts`` uniform over 2024-01-01 .. 2024-01-30, ``event_id`` in
  time order, one user per ten customers, ``value`` exponential, mean 50;
- documents: 10-99 words from a 30-word vocabulary; 5 % are another
  document plus the word ``dup`` (applied in sequence, so two copies of one
  source are exact duplicates: none at sf0.01, 8 at sf0.1); ``lang`` is
  en 3/7, de, fr, es and zh 1/7 each;
- embeddings: unit-norm isotropic 64-d float32 vectors, labels 0-9.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Category arrays in the order the published generator indexes them.
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
_ADJS = "red blue small large hot cold old new".split()
_NOUNS = "anvil widget gizmo bolt gear plate rod ring".split()
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_DAY = 86_400_000_000  # microseconds


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + days.astype(np.int64) * _DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], idx: np.ndarray) -> np.ndarray:
    return np.array(values)[idx]


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table, drawing from one generator in the published order."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_evt = max(1_000, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(_SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJS[a]} {_NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(_TYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(["O", "F", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2405, n_ord), "1995-01-01"),
        "o_orderpriority": _pick(_PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": _pick(["R", "A", "N"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["O", "F"], rng.integers(0, 2, n_line)),
        "l_shipdate": _ts(rng.integers(0, 2499, n_line), "1995-01-02"),
    })
    # seconds as float -> nanoseconds -> truncated to microseconds
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_evt))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(start + (secs * 1e9).astype(np.int64) // 1000, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": _pick(_EVENT_TYPES, rng.integers(0, 5, n_evt)),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n_docs, len(dups))):
        texts[i] = texts[j] + " dup"  # in sequence: a source may be a dup already
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(_LANGS, rng.integers(0, len(_LANGS), n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
    })
    return out


def write(sf_dir: str, sf: float, seed: int) -> None:
    """Write every table under ``sf_dir`` as ``<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        tmp = os.path.join(sf_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp, row_group_size=max(1, tbl.num_rows))
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
