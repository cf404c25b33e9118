"""Seeded inputs for the benchmark.

``write_tables`` writes the ten fixture tables (``region`` ..
``embeddings``) as parquet, as a pure function of the seed and sizes,
with the fixture schemas of FIXTURES.md part B. Primary keys are unique,
every foreign key points at an existing row, and value domains follow
the fixture: five market segments, ``Brand#1``..``Brand#25``, dates
1995-2001, events in January 2024 with ``{"k": n}`` props, a 30-word
document vocabulary with about 5% ``" dup"`` near-duplicates, and
unit-length 64-d float embeddings with a weak per-label direction.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_DOCS = 500

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: int, n_vecs: int) -> dict[str, int]:
    """Write the ten tables at ``scale`` thousandths of sf1 (``scale=10``
    is sf0.01: 60,000 lineitem rows) plus ``N_DOCS`` documents and
    ``n_vecs`` embeddings. Returns the row count per table."""
    rng = np.random.default_rng([seed, scale, N_DOCS, n_vecs])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(_names("Customer", n_cust), s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(_names("Supplier", n_supp), s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    pkeys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pkeys, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) * 0.1, 2), f64)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(
            _EPOCH_1995_MS + rng.integers(0, 2404, n_ord) * _DAY_MS, pa.timestamp("ms")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(
            _EPOCH_1995_MS + _DAY_MS + rng.integers(0, 2499, n_line) * _DAY_MS,
            pa.timestamp("ms"))})
    # events: microsecond timestamps stored as TIMESTAMP(NANOS), as in the fixture
    ts_us = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 15 * scale, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": N_DOCS, "embeddings": n_vecs,
    }
