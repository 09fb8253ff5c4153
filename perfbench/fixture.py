"""Seeded generator for the catalog tables the engine reads.

Writes the ten tables of ``catalog.TABLES`` (the TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the same column names, types and value domains as the
repository's reference fixtures. Every value is drawn from a numpy
generator seeded by the caller, so one seed always gives the same
bytes and the engine sees only these files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY")
_PART_ADJ = ("blue", "old", "hot", "large", "cold", "small", "new", "red")
_PART_NOUN = ("bolt", "plate", "anvil", "rod", "widget", "gizmo", "ring",
              "gear")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window")
_LANGS = ("en", "de", "es", "fr", "zh")

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH = np.datetime64(datetime(1995, 1, 1), "us")
_EVENT_EPOCH = np.datetime64(datetime(2024, 1, 1), "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    """Two-decimal currency values in [lo, hi]."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def _pick(rng: np.random.Generator, pool, n: int, p=None) -> list[str]:
    return [pool[i] for i in rng.choice(len(pool), n, p=p).tolist()]


def generate(out_dir: str, seed: int, sf: float,
             tables: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the catalog tables for scale factor ``sf`` under
    ``out_dir`` (all of them, or the named ``tables``); returns rows per
    written table. Row counts follow the
    reference fixtures (lineitem ~ 6M x sf); the text and vector tables
    keep a floor of 200 rows so their queries have work at small sf."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 200)
    n_vecs = max(int(20_000 * sf), 200)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})

    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                   for a, b in zip(adj.tolist(), noun.tolist())],
        "p_brand": [f"Brand#{b}" for b in
                    rng.integers(1, 26, n_part).tolist()],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n_ord, dtype=np.int64)
    odate = _ORDER_EPOCH + (rng.integers(0, 2405, n_ord)
                            * _US_PER_DAY).astype("timedelta64[us]")
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})

    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + (rng.integers(1, 122, n_li)
                                      * _US_PER_DAY).astype(
                                          "timedelta64[us]")
    out["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * _money(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})

    ts = np.sort(_EVENT_EPOCH + rng.integers(
        0, 30 * _US_PER_DAY, n_evt).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": _money(rng, 0.01, 500.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in
                  rng.integers(0, 100, n_evt).tolist()]})

    texts = []
    for n_words in rng.integers(10, 100, n_docs).tolist():
        texts.append(" ".join(_pick(rng, _WORDS, n_words)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs,
                      p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{s}" for s in
                   rng.integers(0, 20, n_docs).tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})

    written = {name: t for name, t in out.items()
               if tables is None or name in tables}
    for name, table in written.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return {name: t.num_rows for name, t in written.items()}
