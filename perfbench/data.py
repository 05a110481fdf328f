"""Seeded input generator for the benchmark.

Writes TPC-H-shaped parquet tables plus a ``documents`` corpus with the
schemas the query registry reads (the same column names and types as the
project's sf0.001-sf0.1 test tables). The seed fixes every value; the scale
factor fixes every row count, so two seeds give inputs with the same row
counts and distributions that differ only in values. Only the tables a
workload reads are written (``perfbench/oracle.py`` calls :func:`write`).

The shapes follow the project's seed-42 test tables, measured at sf0.1:
uniform keys and values over the same ranges, one row group per file,
``lineitem`` rows in random ``l_orderkey`` order (about 4 lines per order,
Poisson-distributed), and a corpus of 10-99 words from a 30-word
vocabulary in which 5% of the documents are another document's text plus
the word ``dup``. The one planned difference: ``l_linenumber`` numbers the
lines of each order from 1, so ``(l_orderkey, l_linenumber)`` is a key the
bulk insert can validate; the test tables draw it uniformly from 1-7.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
#: languages and their shares (en 41%, the others 14-15% each at sf0.1)
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
#: the test corpus's vocabulary: 30 words, each about equally frequent
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
#: document lengths in words, uniform in [lo, hi) (10-99 in the test corpus)
DOC_WORDS = (10, 100)
#: share of documents replaced by another document's text plus " dup": 250
#: of 5000 at sf0.1 and 25 of 500 at sf0.01. Two such documents that copy
#: the same text are exact duplicates (8 pairs at sf0.1).
NEAR_DUP_SHARE = 0.05

EPOCH = dt.datetime(1995, 1, 1)


def _days(rng, n, lo, hi):
    """Naive microsecond timestamps at day resolution in [lo, hi) days."""
    d = rng.integers(lo, hi, n).astype("int64")
    return pa.array(
        (np.datetime64(EPOCH, "us") + d * np.timedelta64(86_400_000_000, "us")),
        pa.timestamp("us"),
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _counts(sf):
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
    }


def make_tables(sf: float, seed: int, names):
    """Return ``{table: pyarrow.Table}`` for the requested table names."""
    n = _counts(sf)
    out = {}
    for name in names:
        # one stream per table: a table's values do not depend on which
        # other tables were requested
        rng = np.random.default_rng([seed, sorted(TABLES).index(name)])
        out[name] = TABLES[name](rng, n)
    return out


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, n):
    k = np.arange(25, dtype="int32")
    return pa.table({
        "n_nationkey": k,
        "n_name": [f"NATION_{i}" for i in k.tolist()],
        "n_regionkey": k % 5,
    })


def _customer(rng, n):
    c = n["customer"]
    k = np.arange(c, dtype="int64")
    return pa.table({
        "c_custkey": k,
        "c_name": _names("Customer", k),
        "c_nationkey": rng.integers(0, 25, c).astype("int32"),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)]),
    })


def _supplier(rng, n):
    s = n["supplier"]
    k = np.arange(s, dtype="int64")
    return pa.table({
        "s_suppkey": k,
        "s_name": _names("Supplier", k),
        "s_nationkey": rng.integers(0, 25, s).astype("int32"),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })


def _part(rng, n):
    p = n["part"]
    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    return pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, len(adj), p)], " "), noun[rng.integers(0, len(noun), p)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, p).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, p)]),
        "p_size": rng.integers(1, 51, p).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900, 1000, p), 1),
    })


def _orders(rng, n):
    o = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], o).astype("int64"),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": _money(rng, o, 1000, 500_000),
        "o_orderdate": _days(rng, o, 0, 2404),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)]),
    })


def _lineitem(rng, n):
    o = n["orders"]
    m = 4 * o
    # each row belongs to a uniformly drawn order, in file order, as in the
    # test tables; lines are numbered from 1 within each order
    key = rng.integers(0, o, m).astype("int64")
    by_key = np.argsort(key, kind="stable")
    sorted_key = key[by_key]
    first = np.searchsorted(sorted_key, sorted_key, side="left")
    num = np.empty(m, dtype="int32")
    num[by_key] = np.arange(m) - first + 1
    return pa.table({
        "l_orderkey": key,
        "l_partkey": rng.integers(0, n["part"], m).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype("int64"),
        "l_linenumber": num,
        "l_quantity": rng.integers(1, 51, m).astype("float64"),
        "l_extendedprice": _money(rng, m, 900, 105_000),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
        "l_shipdate": _days(rng, m, 1, 2499),
    })


def _documents(rng, n):
    d = n["documents"]
    vocab = np.array(VOCAB)
    base = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(*DOC_WORDS))])
            for _ in range(d)]
    texts = list(base)
    for i in rng.choice(d, round(d * NEAR_DUP_SHARE), replace=False).tolist():
        texts[i] = base[int(rng.integers(0, d))] + " dup"
    return pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), d, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


TABLES = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "documents": _documents,
}


def write(out_dir: str, sf: float, seed: int, names) -> None:
    """Write the tables as ``OUT_DIR/<table>.parquet``, one file each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
