"""Seeded tables for the operator suite: ``documents``, ``embeddings``
and ``lineitem``, with the schemas and value distributions of the
repository's synthetic TPC-H-style test data (``TESTDATA.md``): a
30-word vocabulary with a rare ``dup`` token, five languages, unit-norm
64-d float32 embeddings, 2-decimal prices, ship dates 1995-2001."""

from __future__ import annotations

import os

import numpy as np

from common import tables_digest, work_dir

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")

SIZES = {"full": (500, 500, 20_000, 20), "smoke": (60, 60, 600, 5)}


def _documents(rng, n_docs: int, n_sources: int):
    import pyarrow as pa

    texts = []
    for _ in range(n_docs):
        words = list(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, n_sources, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int):
    import pyarrow as pa

    m = rng.normal(size=(n, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _lineitem(rng, n: int):
    import pyarrow as pa

    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    start = np.datetime64("1995-01-01")
    ship = start + rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, n // 4 + 2, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def write_tables(seed: int, smoke: bool) -> str:
    """Write the three tables as ``<name>.parquet`` into a directory
    named by their digest; return the directory."""
    import pyarrow.parquet as pq

    n_docs, n_vec, n_items, n_sources = SIZES["smoke" if smoke else "full"]
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs, n_sources),
        "embeddings": _embeddings(rng, n_vec),
        "lineitem": _lineitem(rng, n_items),
    }
    out = work_dir("inputs", f"tables-{tables_digest(tables)}", fresh=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out
