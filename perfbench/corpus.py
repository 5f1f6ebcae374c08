"""Seeded corpus for the analytics workload, and its DuckDB oracle.

Writes the ten tables the query registry reads (a TPC-H-shaped star
schema, an ``events`` stream, a text ``documents`` table and 64-dim
``embeddings``) as one parquet file each.  Row counts, column types and
value distributions follow the repository's sf0.01 test fixtures
(TESTDATA.md), measured on them and reproduced here from a seed:

- lineitem: 4 rows per order on average, each on a uniformly drawn
  order; line numbers 1-7; extended price uniform in [900, 105000);
- part: names from 8 adjectives x 8 nouns, retail price
  900 + (key mod 1000) / 10;
- documents: 10-98 words drawn from a 30-word vocabulary, language
  ``en`` for 44% and ``de``/``es``/``fr``/``zh`` for the rest; 5% of
  documents are an earlier document with the word ``dup`` appended
  (3-shingle Jaccard 0.90-0.99 with the original, as in the fixture);
- embeddings: unit vectors with ten weak clusters (mean cosine 0.02
  within a label, 0.00 across labels).
"""

from __future__ import annotations

import math
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 500, "embeddings": 500}

WORDS = (
    "a the row scan slow fast table value part hash merge batch spark line sort "
    "window key agg order data column join small big customer query stream filter "
    "group vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table → row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999, 9999, n["supplier"]),
    })
    adjectives = ["red", "blue", "green", "small", "large", "old", "hot", "steel"]
    nouns = ["widget", "bolt", "ring", "gear", "nut", "pipe", "gizmo", "plate"]
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(datetime(1995, 1, 1), odays * 86400.0),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = 4 * no
    lkey = rng.integers(0, no, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odays[lkey] + rng.integers(1, 122, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(datetime(1995, 1, 1), ship * 86400.0),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, ne))),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; 5% are an earlier original with ``dup``
    appended (each original copied at most once, so no two documents
    are equal), so the dedup queries have near-duplicate pairs."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if len(originals) > 10 and rng.random() < 0.05:
            src = originals.pop(int(rng.integers(0, len(originals))))
            texts.append(texts[src] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 99)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around ``k`` centres, with noise ~8x a centre's
    per-dimension scale, so labels share only a weak direction."""
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    vecs = centers[label] + rng.normal(0, 8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


# -- oracle -----------------------------------------------------------------

def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def fingerprint(rows, cols) -> tuple:
    """Order-insensitive result fingerprint: column set, row count and
    the sorted multiset of canonicalised rows (floats to 12 digits)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return tuple(sorted(cols)), len(body), hash(tuple(body))


class Oracle:
    """Runs a query's registered DuckDB SQL over the same parquet files."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def fingerprint(self, sql: str) -> tuple:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return fingerprint(res.fetchall(), cols)

    def close(self) -> None:
        self.con.close()
