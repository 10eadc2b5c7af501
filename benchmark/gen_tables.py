"""Seeded generator for the dashboard workload's input tables.

Writes the ten tables the query library reads (``tables.TABLES``), one
parquet file each, with the column names, types and value domains of the
TPC-H-ish test datasets the queries were written against (``TESTDATA.md``,
``FIXTURES.md``): the same categorical domains, key ranges, date spans,
64-dimensional unit embeddings and a word-vocabulary document corpus with
planted near-duplicates (``... dup``), so every bench query has non-empty
work. Row counts follow the scale factor ``sf`` the same way the test
datasets do (lineitem = 6M x sf).

Pure numpy + pyarrow: the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05  # share of documents that are a near-copy of an earlier one
EMBED_DUP_SHARE = 0.01  # share of embeddings planted next to an earlier one

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (test-dataset proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": _pick(rng, names, npart),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    order_day0 = _us(dt.datetime(1995, 1, 1))
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": _pick(rng, ORDER_STATUS, no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(order_day0 + rng.integers(0, 2405, no) * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    ship_day0 = _us(dt.datetime(1995, 1, 2))
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": rng.integers(0, npart, nl).astype("int64"),
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, RETURN_FLAGS, nl),
            "l_linestatus": _pick(rng, LINE_STATUS, nl),
            "l_shipdate": _ts(ship_day0 + rng.integers(0, 2498, nl) * _US_PER_DAY),
        }
    )
    ne = n["events"]
    # event ids ascend with time: evenly spread over January 2024 plus jitter
    span = 30 * _US_PER_DAY
    ev_us = _us(dt.datetime(2024, 1, 1)) + np.arange(ne) * (span // ne)
    ev_us = ev_us + rng.integers(0, span // ne, ne)
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": _ts(ev_us),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne).astype("int64"),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    # plant a few near-duplicate vectors so the embedding near-dup query
    # has pairs to find
    for i in range(1, nv):
        if rng.random() < EMBED_DUP_SHARE:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.01 * vecs[i]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype("int32"),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet`` (one row group each);
    returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
