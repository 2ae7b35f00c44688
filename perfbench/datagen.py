"""Seeded generator for the TPC-H-ish input tables the engine's query
registry reads (``region nation customer supplier part orders lineitem
events documents embeddings``, one parquet file each).

The schemas, value domains and per-table row ratios follow the engine's
reference test data; the values themselves come from ``numpy``'s PCG64
seeded with ``seed``, so the same ``(seed, sf)`` always writes the same
bytes' worth of rows and different seeds write different tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows per unit scale factor
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400
WORDS = ("a the row column scan sort hash join merge group agg window "
         "filter query key value data table batch stream spark part line "
         "order customer vector small big fast slow").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring",
             "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def n_rows(table: str, sf: float) -> int:
    return max(10, int(ROWS[table] * sf))


def _ts(epoch: dt.datetime, offsets, unit: str) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets.astype(f"timedelta64[{unit}]"),
                    pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)].tolist(), pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: what dedup operators
            # are built to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64) \
        .cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                     "embedding": emb,
                     "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(seed: int, sf: float) -> dict:
    """Build every table in memory; returns ``{name: pyarrow.Table}``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = (n_rows(t, sf) for t in
                              ("customer", "supplier", "part"))
    n_ord, n_li, n_ev = (n_rows(t, sf) for t in
                         ("orders", "lineitem", "events"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i // 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
    }
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(ORDER_EPOCH, rng.integers(0, ORDER_DAYS, n_ord), "D"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(ORDER_EPOCH + dt.timedelta(days=1),
                          rng.integers(0, ORDER_DAYS + 95, n_li), "D")})
    ts = np.sort(rng.integers(0, EVENT_SECONDS * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EVENT_EPOCH, ts, "us"),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev),
                            pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_rows("documents", sf))
    out["embeddings"] = _embeddings(rng, n_rows("embeddings", sf))
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    like the reference test data) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return out_dir
