"""Seeded generator for the registry's input tables.

The registry queries read ten parquet tables (``session.ALL_TABLES``):
a TPC-H-shaped star (region, nation, customer, supplier, part, orders,
lineitem), an ``events`` click stream, a ``documents`` text corpus and an
``embeddings`` vector table.  This module writes all ten from a seed, with
the column names, physical types and value domains the queries and their
DuckDB oracles expect, so a run needs no pre-built data set.

Every row count, value domain and distribution is the one measured on
the repository's reference tables (the sf 0.001, 0.01 and 0.1 sets the
tests, the oracles and ``bench.py`` read); ``calibrate.py profile`` makes
that measurement and compares a generated set with a reference set
statistic by statistic, and the README lists where each parameter comes
from.  The value domains do not depend on the seed, only the draws do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "large", "new", "blue", "hot", "old", "cold"]
PART_NOUN = ["ring", "widget", "gizmo", "plate", "gear", "rod", "anvil", "bolt"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    # cents drawn as integers, so every value is the double nearest a
    # two-decimal literal (what a decimal-exact aggregate rounds back to)
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _dates(rng, first: str, last: str, n):
    lo, hi = _day_us(first) // _DAY_US, _day_us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        # rounded uniform draws: the two end values are half as common
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li)})
    # events: ascending timestamps over 30 days of January 2024, users
    # drawn uniformly (~67 events each), exponential values (mean 50)
    start = _day_us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: 10-99 words drawn uniformly from a 30-word vocabulary;
    # exactly 5% are near-duplicates, overwritten in random order with
    # another document's current text plus a trailing "dup" (so a copy of
    # a copy ends in "dup dup"); sources cycle src0..src19 by doc_id
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(_pick(rng, WORDS, int(k))) for k in lens]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # embeddings: isotropic unit vectors (normalized Gaussians) with a
    # label drawn apart from the vector: the reference has no cluster
    # structure (same-label pairs are no closer than other pairs)
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 22)
    return {name: t.num_rows for name, t in tables.items()}
