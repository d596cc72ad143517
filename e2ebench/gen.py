"""Seeded input generator for the benchmark.

Writes the TPC-H-style star schema plus the `events`, `documents` and
`embeddings` tables that the declared queries read, with the same column
names, types and parquet encoding (pyarrow, one row group per file,
TIMESTAMP(MICROS) without a zone) as the corpus the queries were written
against. The value distributions follow that corpus: uniform keys, a
30-word vocabulary with ~5% near-duplicate documents (a shifted copy of
another document ending in "dup"), and unit-norm random 64-d embeddings.

The same seed always gives byte-identical tables.

Usage: python3 gen.py <outDir> <seed> [scale]   (the query tables)
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per table at scale 1.0 (≈ TPC-H sf0.01; documents/embeddings
# at the sizes the LLM-data queries are tuned for)
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
             "lineitem": 60000, "events": 10000, "documents": 1000,
             "embeddings": 1000}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, n, lo: dt.date, hi: dt.date):
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> pa.Table:
    """`n` documents; ~5% are near-duplicates of an earlier one."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            drop = int(rng.integers(0, 4))
            words = src[drop:] + ["dup"]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out: str, seed: int, scale: float = 1.0) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, nc)]),
    }), f"{out}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }), f"{out}/supplier.parquet")

    npart = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PTYPES[k] for k in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)),
    }), f"{out}/part.parquet")

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, no)]),
    }), f"{out}/orders.parquet")

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
    }), f"{out}/lineitem.parquet")

    ne = n["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us")
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(40.0, ne), 490.0) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }), f"{out}/events.parquet")

    _write(documents(rng, n["documents"]), f"{out}/documents.parquet")

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }), f"{out}/embeddings.parquet")


def ingest_batches(out: str, seed: int, n_docs: int, n_batches: int) -> None:
    """A document corpus split into `n_batches` arriving batches by a
    seeded shuffle of its ids: `batch_<i>.parquet` with (doc_id, text)."""
    rng = np.random.default_rng(seed)
    docs = documents(rng, n_docs).select(["doc_id", "text"])
    order = rng.permutation(n_docs)
    os.makedirs(out, exist_ok=True)
    for i, part in enumerate(np.array_split(order, n_batches)):
        _write(docs.take(np.sort(part)), f"{out}/batch_{i}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
