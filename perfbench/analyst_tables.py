"""Seeded generator for the analyst tables the named queries read.

Writes the ten parquet tables of ``sources/readers.TESTDATA_TABLES``
with the columns, types and value shapes of the synthetic test tables
in TESTDATA.md (a TPC-H-like star schema, an event stream, a
small-vocabulary text corpus with planted near-duplicates, and
unit-norm 64-d embeddings). ``sf`` scales row counts the way their scale
factors do (sf0.1: 600,000 lineitem rows); row counts depend on ``sf``
only, so every seed costs the program the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
COLORS = "red blue green hot cold large small dark".split()
NOUNS = "ring bolt gear nut pipe valve plate spring".split()


def _ts(rng, n, start, end, sort=False):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, size=n)
    if sort:
        v.sort()
    return pa.array(v, type=pa.timestamp("us"))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi, size=n)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate: a copy of an earlier base doc with
            # its last word replaced; copies of copies are not made, so
            # clusters stay stars (diameter <= 2)
            base = texts[int(rng.integers(0, i // 2))].split()
            base[-1] = "dup"
            texts.append(" ".join(base))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, size=k)))
    lang = rng.choice(["en", "zh", "es", "fr", "de"], size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{j}" for j in rng.integers(0, 20, size=n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label, type=pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, dict[str, int]]:
    """Write every table under ``out_dir`` as ``<name>.parquet``;
    returns {table: {"rows": n, "bytes": b}}."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), type=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), type=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), type=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=i32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), type=i64),
                "p_name": [
                    f"{c} {m}" for c, m in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part
                ).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), type=i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=i64),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
                "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05"),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), type=i64),
                "ts": _ts(rng, n_ev, "2024-01-01", "2024-01-31", sort=True),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), type=i64),
                "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev).tolist(),
                "value": np.round(rng.exponential(50, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        out[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return out
