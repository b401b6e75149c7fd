"""Seeded generator of the registry's input tables.

Writes one parquet file per table (``region nation customer supplier
part orders lineitem events documents embeddings``) with the names,
types and value shapes of the sf0.001 test tables (TESTDATA.md):
TPC-H-like keys and categories, INT64 nanosecond timestamps, a
30-word vocabulary whose documents include planted near-duplicates
(a copy with `` dup`` appended), and unit-norm 64-d embeddings around
ten labelled centres. Sizes are fixed; the seed changes values only.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 500,
         "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "red", "small", "large", "hot", "cold", "green", "black"]
NOUN = ["bolt", "gear", "ring", "rod", "widget", "gizmo", "nut", "pin"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a the data query row column table join hash sort merge scan "
         "filter group agg window stream batch spark vector key value "
         "part order customer line small big fast slow").split()
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64


def _ns(days: np.ndarray, start: dt.date, extra_ns=0) -> pa.Array:
    base = np.datetime64(start, "ns")
    return pa.array(base + days.astype("timedelta64[D]") + extra_ns,
                    pa.timestamp("ns"))


def _write(out: Path, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def generate(out: Path, seed: int) -> dict[str, int]:
    """Write every table under ``out``; returns the row count of each."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES
    i32 = lambda xs: pa.array(xs, pa.int32())
    i64 = lambda xs: pa.array(xs, pa.int64())
    money = lambda lo, hi, k: pa.array(np.round(rng.uniform(lo, hi, k), 2))

    _write(out, "region", {"r_regionkey": i32(range(5)),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                           "n_regionkey": i32([k % 5 for k in range(25)])})
    _write(out, "customer", {
        "c_custkey": i64(range(n["customer"])),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n["customer"])]),
        "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"]))})
    _write(out, "supplier", {
        "s_suppkey": i64(range(n["supplier"])),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n["supplier"])]),
        "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"])})
    _write(out, "part", {
        "p_partkey": i64(range(n["part"])),
        "p_name": pa.array([f"{rng.choice(ADJ)} {rng.choice(NOUN)}"
                            for _ in range(n["part"])]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(rng.choice(PART_TYPES, n["part"])),
        "p_size": i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": pa.array([900.0 + (k % 1000) / 10
                                   for k in range(n["part"])])})

    order_day = rng.integers(0, 2404, n["orders"])   # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": i64(range(n["orders"])),
        "o_custkey": i64(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": money(1000, 500000, n["orders"]),
        "o_orderdate": _ns(order_day, dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"]))})
    l_order = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": i64(l_order),
        "l_partkey": i64(rng.integers(0, n["part"], n["lineitem"])),
        "l_suppkey": i64(rng.integers(0, n["supplier"], n["lineitem"])),
        "l_linenumber": i32(rng.integers(1, 8, n["lineitem"])),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2200, n["lineitem"]), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"])),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"])),
        "l_shipdate": _ns(order_day[l_order] + rng.integers(1, 96, n["lineitem"]),
                          dt.date(1995, 1, 1))})

    ev_ns = np.sort(rng.integers(0, 30 * 86_400 * 10**9, n["events"]))
    _write(out, "events", {
        "event_id": i64(range(n["events"])),
        "ts": _ns(np.zeros(n["events"], int), dt.date(2024, 1, 1),
                  ev_ns.astype("timedelta64[ns]")),
        "user_id": i64(rng.integers(0, 15, n["events"])),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"])),
        "value": money(0.01, 500, n["events"]),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])])})

    texts: list[str] = []
    n_dup = n["documents"] // 20
    dup_at = set(rng.choice(np.arange(n["documents"] // 2, n["documents"]),
                            n_dup, replace=False).tolist())
    for k in range(n["documents"]):
        if k in dup_at:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": i64(range(n["documents"])),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n["documents"],
                                    p=[0.5, 0.125, 0.125, 0.125, 0.125])),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n["documents"])]),
        "n_chars": i64([len(t) for t in texts])})

    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n["embeddings"])
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n["embeddings"], DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": i64(range(n["embeddings"])),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})
    return {name: pq.read_metadata(out / f"{name}.parquet").num_rows
            for name in ["region", "nation", *SIZES]}
