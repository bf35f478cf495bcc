"""Seeded input tables for the benchmark.

The engine's queries read ``<dir>/<table>.parquet`` through
``sources.catalog``; this module writes the three tables the benchmark
workloads touch (``supplier``, ``lineitem``, ``documents``) with the
schemas in ``schemas.TABLES`` and the value shapes measured on the
repository's sf0.001/sf0.01/sf0.1 test tables (README.md, "Input
shapes"): supplier and part keys drawn uniformly and independently of
each other (so half the PageRank link targets are red links and
duplicate edges occur), and documents of 10-100 words drawn uniformly
from a 30-word technical vocabulary that contains the search terms, plus
one rare word. The same seed always gives the same bytes of data, so two
commits measured with one seed see identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated input set."""

    suppliers: int
    parts: int
    lineitems: int
    documents: int


#: The smoke scale: the size of the repository's sf0.001 tables. The
#: measured scales are per workload (``workloads.py``).
SMOKE = Scale(suppliers=10, parts=200, lineitems=6_000, documents=500)


def _supplier(rng: np.random.Generator, s: Scale) -> pa.Table:
    keys = np.arange(s.suppliers, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": keys,
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2),
        }
    )


def _lineitem(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.lineitems
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, n // 4), n).astype(np.int64),
            "l_partkey": rng.integers(0, s.parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": pa.array(day0 + days, type=pa.timestamp("us")),
        }
    )


def _documents(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.documents
    lengths = rng.integers(10, 101, n)
    vocab = np.array(VOCAB + ["dup"])
    # "dup" is the one rare word (about 1 in 1000 tokens), so document
    # frequencies are not all equal and IDF varies across terms.
    probs = np.full(len(vocab), 0.999 / len(VOCAB))
    probs[-1] = 0.001
    words = rng.choice(vocab, int(lengths.sum()), p=probs)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(np.array(LANGS), n, p=LANG_WEIGHTS),
            "source": [f"src{k % 20}" for k in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


TABLES = {"supplier": _supplier, "lineitem": _lineitem, "documents": _documents}


def generate(out_dir: str, seed: int, scale: Scale) -> str:
    """Write every benchmark table under ``out_dir`` and return it.

    Each table draws from its own stream (seed, table index), so adding
    a table later leaves the existing ones unchanged.
    """
    os.makedirs(out_dir, exist_ok=True)
    for idx, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, idx])
        pq.write_table(make(rng, scale), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
