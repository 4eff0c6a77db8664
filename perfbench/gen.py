"""Seeded input generators.  Every input the benchmark feeds the engine
comes from here, so the same ``seed`` always yields byte-identical inputs
and no run reads anything outside its own run directory.

- ``tpch``: the ten-table TPC-H-shaped fixture (same schemas and value
  domains as the engine's test fixture: FIXTURES.md section A) at a
  fractional scale factor.
- ``sqlite_db``: a SQLite database holding ``orders`` and ``lineitem`` as
  the reference tool meets them: declared SQLite types, primary keys,
  NULLs, and fractional-second datetime strings.  The primary keys are
  enforced, so every key holds one row: the migration's dedup stage runs
  but drops nothing.
- ``vectors``: clustered 64-dim float embeddings for the IVF-PQ store.
- ``names``: three-word catalog names for the entity-resolution store.
- ``documents``: word-bag texts for the MinHash store.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_P_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_P_TYPE = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * 86400 * 1_000_000

DIM = 64


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a stream never
    shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _money(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def tpch_sizes(sf: float) -> dict:
    """Row counts at scale factor ``sf``, named the way the engine's
    fixture names them (sf0.01 = 15 000 orders, 60 000 lineitems)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
    }


def tpch(out_dir: str, seed: int, sf: float) -> dict:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events as parquet under ``out_dir``; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    n = tpch_sizes(sf)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    g = rng(seed, "customer")
    nc = n["customer"]
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(g.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in g.integers(0, 5, nc)],
    })

    g = rng(seed, "supplier")
    ns = n["supplier"]
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(g.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, ns),
    })

    g = rng(seed, "part")
    npart = n["part"]
    retail = np.round(900.0 + g.integers(0, 1000, npart) / 10.0, 2)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{_P_ADJ[a]} {_P_NOUN[b]}"
            for a, b in zip(g.integers(0, 8, npart), g.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in g.integers(0, 25, npart)],
        "p_type": [_P_TYPE[i] for i in g.integers(0, 6, npart)],
        "p_size": pa.array(g.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })

    g = rng(seed, "orders")
    no = n["orders"]
    odays = g.integers(0, _ORDER_DAYS + 1, no)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(g.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in g.integers(0, 3, no)],
        "o_totalprice": _money(g, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(_ORDER_EPOCH + odays.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in g.integers(0, 5, no)],
    })

    g = rng(seed, "lineitem")
    nl = 4 * no
    okey = np.sort(g.integers(0, no, nl))
    # 1-based line number within each order (keys are sorted, so a running
    # count per run of equal keys).
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    linenum = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    pkey = g.integers(0, npart, nl)
    qty = g.integers(1, 51, nl).astype(np.float64)
    ship = _ORDER_EPOCH + (odays[okey] + g.integers(1, 96, nl)).astype("timedelta64[D]")
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(g.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": g.integers(0, 11, nl) / 100.0,
        "l_tax": g.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in g.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    g = rng(seed, "events")
    ne = n["events"]
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(
            _EVENT_EPOCH + np.sort(g.integers(0, _EVENT_SPAN_US, ne)).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(g.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in g.integers(0, 5, ne)],
        "value": _money(g, 0.01, 490.0, ne),
        "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, ne)],
    })
    return rows


_SQLITE_DDL = {
    "orders": (
        "CREATE TABLE orders (o_orderkey INT PRIMARY KEY, o_custkey INTEGER, "
        "o_orderstatus TEXT, o_totalprice REAL, o_orderdate DATETIME, "
        "o_orderpriority VARCHAR(15))"
    ),
    "lineitem": (
        "CREATE TABLE lineitem (l_orderkey INTEGER, l_linenumber INT, "
        "l_partkey INTEGER, l_suppkey INTEGER, l_quantity REAL, "
        "l_extendedprice REAL, l_discount FLOAT, l_tax REAL, l_returnflag TEXT, "
        "l_linestatus TEXT, l_shipdate DATETIME, "
        "PRIMARY KEY (l_orderkey, l_linenumber))"
    ),
}
SQLITE_PK = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}


def _dt_text(g: np.random.Generator, days: np.ndarray) -> list:
    """Datetime strings as SQLite apps store them: a share carries
    fractional seconds (which the migration strips), the rest plain."""
    secs = g.integers(0, 86400, len(days))
    frac = g.integers(0, 1_000_000, len(days))
    has_frac = g.random(len(days)) < 0.3
    base = dt.datetime(1995, 1, 1)
    out = []
    for d, s, f, h in zip(days.tolist(), secs.tolist(), frac.tolist(), has_frac.tolist()):
        t = (base + dt.timedelta(days=d, seconds=s)).strftime("%Y-%m-%d %H:%M:%S")
        out.append(f"{t}.{f:06d}" if h else t)
    return out


def _nulls(g: np.random.Generator, values: list, share: float) -> list:
    mask = (g.random(len(values)) < share).tolist()
    return [None if m else v for v, m in zip(values, mask)]


def sqlite_db(path: str, seed: int, n_orders: int) -> dict:
    """Write the migration source database; return {table: rows}."""
    g = rng(seed, "sqlite")
    no = n_orders
    okey = np.arange(no)
    odays = g.integers(0, _ORDER_DAYS + 1, no)
    orders = list(zip(
        okey.tolist(),
        _nulls(g, g.integers(0, max(1, no // 10), no).tolist(), 0.02),
        _nulls(g, [("O", "F", "P")[i] for i in g.integers(0, 3, no)], 0.02),
        _nulls(g, _money(g, 1000.0, 500_000.0, no).tolist(), 0.02),
        _nulls(g, _dt_text(g, odays), 0.02),
        [_PRIORITIES[i] for i in g.integers(0, 5, no)],
    ))
    nl = 4 * no
    lkey = np.sort(g.integers(0, no, nl))
    starts = np.r_[0, np.flatnonzero(np.diff(lkey)) + 1]
    linenum = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    qty = g.integers(1, 51, nl).astype(np.float64)
    lineitem = list(zip(
        lkey.tolist(),
        linenum.tolist(),
        g.integers(0, 2_000, nl).tolist(),
        _nulls(g, g.integers(0, 100, nl).tolist(), 0.02),
        qty.tolist(),
        _nulls(g, np.round(qty * g.uniform(900, 1000, nl), 2).tolist(), 0.02),
        (g.integers(0, 11, nl) / 100.0).tolist(),
        _nulls(g, (g.integers(0, 9, nl) / 100.0).tolist(), 0.02),
        [("A", "N", "R")[i] for i in g.integers(0, 3, nl)],
        _nulls(g, [("O", "F")[i] for i in g.integers(0, 2, nl)], 0.02),
        _dt_text(g, odays[lkey] + g.integers(1, 96, nl)),
    ))

    if os.path.exists(path):
        os.unlink(path)
    con = sqlite3.connect(path)
    counts = {}
    try:
        for t, rows in (("orders", orders), ("lineitem", lineitem)):
            con.execute(_SQLITE_DDL[t])
            con.executemany(f"INSERT INTO {t} VALUES ({', '.join('?' * len(rows[0]))})", rows)
            counts[t] = len(rows)
        con.commit()
    finally:
        con.close()
    return counts


def vectors(seed: int, stream: str, n: int, first_id: int, n_labels: int = 10):
    """``n`` clustered unit-ish vectors with ids ``first_id..``: a fixed
    (seed-derived) set of label centroids plus per-vector noise."""
    centers = rng(seed, "centers").normal(0.0, 1.0, (n_labels, DIM))
    g = rng(seed, stream)
    labels = g.integers(0, n_labels, n)
    emb = centers[labels] + g.normal(0.0, 0.35, (n, DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return (
        np.arange(first_id, first_id + n, dtype=np.int64),
        emb.astype(np.float32),
        labels.astype(np.int32),
    )


def vectors_table(ids, emb, labels) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


_NAME_WORDS = 600


def names(seed: int, stream: str, n: int) -> list:
    """``n`` three-word names over a 600-word vocabulary (words ``a0`` ..
    ``a599``), so every word sits in few names and blocks on it.  May
    repeat; callers keep the ones they have not used yet."""
    g = rng(seed, stream)
    w = g.integers(0, _NAME_WORDS, (n, 3))
    return [f"a{x} a{y} a{z}" for x, y, z in w.tolist()]


def typo(seed: int, stream: str, name: str) -> str:
    """``name`` with one digit of its last word changed: edit distance 1,
    so entity resolution links it to ``name``."""
    g = rng(seed, stream)
    i = len(name) - 1
    return name[:i] + str((int(name[i]) + 1 + int(g.integers(0, 9))) % 10)


_DOC_WORDS = 3000


def documents(seed: int, stream: str, n: int, first_id: int) -> list:
    """``n`` (doc_id, text) rows with ids ``first_id..``: 25 words drawn from
    a 3000-word vocabulary, so distinct documents almost never collide."""
    g = rng(seed, stream)
    w = g.integers(0, _DOC_WORDS, (n, 25))
    return [(first_id + i, " ".join(f"t{x}" for x in row)) for i, row in enumerate(w.tolist())]
