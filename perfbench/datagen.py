"""Seeded generator for the analytics tables ``__spark_entry__.queries()``
reads: a TPC-H-shaped star schema (region, nation, customer, supplier,
part, orders, lineitem), an ``events`` stream, ``documents`` (a
31-word vocabulary, five languages, about 5% near-duplicate pairs) and
``embeddings`` (64-dim unit vectors around ten labels).

Column names, types and value domains follow the fixed sf-scaled test
tables the queries and their DuckDB oracle were written against, so
every query runs unchanged; the rows themselves come from ``seed``.
``scale`` = 0.01 gives 60,000 lineitem rows.

    python3 perfbench/datagen.py OUT_DIR [seed] [scale]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ("red", "small", "hot", "old", "big", "cold", "blue", "green")
_NOUN = ("plate", "widget", "ring", "rod", "box", "gear", "valve", "panel")
_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_DAY_US = 86_400_000_000


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rs, lo, hi, n):
    return np.round(rs.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """Write one parquet file per table into ``out_dir``; return row counts."""
    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = n_ord * 4
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))
    d1995 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
    d2024 = (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _money(rs, -999.99, 9999.99, n_cust),
        "c_mktsegment": rs.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": _money(rs, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rs.choice(_ADJ, n_part), rs.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
        "p_type": rs.choice(_TYPES, n_part),
        "p_size": pa.array(rs.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": rs.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rs, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us(d1995 + rs.integers(0, 2404, n_ord)),
        "o_orderpriority": rs.choice(_PRIORITIES, n_ord),
    })
    qty = rs.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rs.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rs.integers(0, 11, n_line) / 100.0,
        "l_tax": rs.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rs.choice(("A", "N", "R"), n_line),
        "l_linestatus": rs.choice(("O", "F"), n_line),
        "l_shipdate": _ts_us(d1995 + 1 + rs.integers(0, 2498, n_line)),
    })
    ev_us = np.sort(rs.integers(0, 30 * _DAY_US, n_ev)) + d2024 * _DAY_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rs.integers(0, max(150, n_ev // 66), n_ev), type=pa.int64()),
        "event_type": rs.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rs.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rs.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rs.integers(0, i))].split()
            for j in rs.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _VOCAB[int(rs.integers(0, len(_VOCAB)))]
        else:
            words = list(rs.choice(_VOCAB, int(rs.integers(10, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), type=pa.int64()),
        "text": texts,
        "lang": rs.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{s}" for s in rs.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    })
    labels = rs.integers(0, 10, n_emb)
    centers = rs.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.6 + rs.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}


if __name__ == "__main__":
    out = sys.argv[1]
    print(generate(out, int(sys.argv[2]) if len(sys.argv) > 2 else 0,
                   float(sys.argv[3]) if len(sys.argv) > 3 else 0.01))
