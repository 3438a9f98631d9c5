"""Seeded synthetic tables for the benchmark.

The schema follows the engine's fixture tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``), so the engine's
declared queries and their DuckDB oracles run on it unchanged.  Every
column is a pure function of the seed and the row count: the same
arguments always write byte-identical parquet files.

The shape is taken from the fixture sets at scale 0.001, 0.01 and 0.1
(figures below are for 0.1, read with DuckDB and pyarrow):

* row counts: customer 150k*sf, supplier 10k*sf, part 200k*sf, orders
  1.5M*sf, lineitem exactly 6M*sf, events 1M*sf, documents
  max(500, 50k*sf), embeddings max(500, 20k*sf);
* every timestamp column is parquet INT64 TIMESTAMP(MICROS), not NANOS;
* events: ``event_id`` 0..n-1 in ``ts`` order, ``ts`` distinct and uniform
  over 30 days from 2024-01-01; 15k*sf users (1,500), uniform; 5 event
  types, uniform; ``value`` exponential with mean 50 rounded to cents
  (mean 49.87, sd 49.56, median 34.77, six exact zeros, max 560.21);
  ``props`` = ``{"k": K}`` with 100 distinct K;
* documents: 10 to 100 words (mean 54.1) drawn uniformly from a 30-word
  vocabulary, one paragraph each; 250 of 5,000 (5%) are a copy of another
  document with `` dup`` appended; ``lang`` en 41%, de/es/fr/zh ~15% each;
  20 sources; ``n_chars = length(text)``;
* embeddings: 64-dim unit vectors, 10 labels, uniform;
* orders: ``o_orderdate`` on 2,405 distinct days from 1995-01-01,
  ``o_custkey``, status F/O/P and 5 priorities uniform, total price
  uniform on [1000, 500000];
* lineitem: ``l_orderkey`` uniform over the orders (lines per order are
  ~Poisson(4); 98% of orders have any), ``l_linenumber`` uniform 1..7,
  part and supplier keys uniform (every key used), quantity 1..50,
  discount 0..0.10, tax 0..0.08, ``l_extendedprice`` uniform on
  [900, 105000] and ``l_shipdate`` uniform over 1995-01-02..2001-11-04,
  both independent of the other columns;
* part: 64 names from 8 x 8 words, 25 brands, 6 types, size 1..50,
  ``p_retailprice = 900 + (key % 1000) / 10``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "old", "red", "small", "new", "large", "hot", "cold"],
              ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
DUP_SHARE = 0.05

_US = 1_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1).timestamp()) * _US
_EPOCH_2024 = int(datetime(2024, 1, 1).timestamp()) * _US
_DAY = 86_400 * _US
_ORDER_DAYS = 2405
_SHIP_DAYS = 2498            # 1995-01-02 .. 2001-11-04


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator, n: int, users: int) -> dict:
    offs = np.sort(rng.choice(30 * _DAY, size=n, replace=False))
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + offs),
        "user_id": rng.integers(0, users, n).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(10, 101, n)]
    # near duplicates: a copy of another document with one marker word
    # appended, so the Jaccard/MinHash dedup queries find real pairs
    for i in rng.choice(n, size=int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write all ten tables at ``scale`` (the fixtures' scale factor:
    1.0 = 6M lineitem rows) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 200)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 500)
    n_users = max(int(15_000 * scale), 10)
    n_docs = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}" for a, b in
                   rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, _ORDER_DAYS, n_ord) * _DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_li)).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 1 + _SHIP_DAYS, n_li) * _DAY)})
    _write(out_dir, "events", _events(rng, n_ev, n_users))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
