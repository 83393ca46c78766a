"""Deterministic query fixtures, generated inside the checkout.

The ten tables the query registry reads (``fixtures.TABLE_NAMES``), with
the column names, types and value domains the registry and its DuckDB
oracles expect, at about the sf0.01 sizes of TESTDATA.md. The content is
fixed (one generator seed), so every run and every commit queries the
same bytes; the benchmark's ``--seed`` only orders the query passes.
Generation takes a few seconds, runs once per checkout, and is not part
of any timed phase.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v1"
SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 1_500, 100, 2_000, 15_000, 60_000
N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS = 10_000, 500, 500
DIM, N_LABELS = 64, 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "red", "small", "large", "shiny", "dull", "tiny"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "lever"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _tables(rng) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _cents(rng, N_CUSTOMER, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _cents(rng, N_SUPPLIER, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), i64),
            "p_name": [
                f"{c} {n}" for c, n in zip(rng.choice(COLORS, N_PART), rng.choice(NOUNS, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": 900.0 + rng.integers(0, 1000, N_PART) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _cents(rng, N_ORDERS, 1000.0, 499999.99),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _cents(rng, N_LINEITEM, 900.0, 104999.99),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
        }
    )
    gaps = rng.exponential(30 * 86400e6 / N_EVENTS, N_EVENTS).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, N_EVENTS), i64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = []
    for i in range(N_DOCUMENTS):
        if i >= 10 and rng.random() < 0.05:  # a planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), i64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCUMENTS),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    centroids = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, N_EMBEDDINGS)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(N_EMBEDDINGS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), i64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def ensure(work: str) -> str:
    """The fixture directory under ``work``, generated on first use."""
    out = os.path.join(work, "fixtures", VERSION)
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in _tables(np.random.default_rng(SEED)).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_READY"), "w") as f:
        f.write("ok")
    return out
