"""Inputs and golden results of the query panel the steering loop runs.

``write_tables`` generates, from the seed, the tables the panel queries
read (same schemas as the engine's table registry), at about the size of
the smallest correctness fixture. ``oracle_digests`` runs each query's
DuckDB oracle over them; a panel pass is correct when each Spark result
has the same ``digest``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 100
N_DOCS = 500
N_VECS = 500
DIM = 64
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter count"
).split()


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    base = np.datetime64("1992-01-01")
    ship = base + rng.integers(0, 10 * 365, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    n = N_EVENTS
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    # mostly short gaps with occasional long pauses, so sessions split;
    # whole seconds, as the engine compares gaps at second precision
    gaps = rng.exponential(240.0, n) * np.where(rng.random(n) < 0.05, 20.0, 1.0)
    ts = start + (np.cumsum(np.ceil(gaps)) * 1e6).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "error"], n),
            "value": np.round(rng.uniform(0.0, 100.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            # planted near-duplicate: an earlier document with a few edits
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr"], N_DOCS),
            "source": [f"src{k}" for k in rng.integers(0, 5, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.standard_normal((10, DIM))
    vecs = centers[labels] + 0.5 * rng.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


TABLES = {
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(sf_dir: str, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        pq.write_table(make(np.random.default_rng([seed, i])), os.path.join(sf_dir, f"{name}.parquet"))


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash: columns by name, rows sorted, floats
    at 6 decimals (the queries round their float outputs to at most 6)."""
    cols = sorted(pdf.columns)
    out = pdf[cols].copy()
    for c in cols:
        if out[c].dtype.kind == "f":
            out[c] = out[c].round(6)
        elif out[c].dtype.kind == "O":
            out[c] = out[c].map(repr)
    if len(out):
        out = out.sort_values(by=cols, kind="mergesort")
    return hashlib.sha256(out.to_csv(index=False).encode()).hexdigest()


def oracle_digests(sf_dir: str, queries: tuple[str, ...], specs: dict) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {q: digest(con.execute(specs[q].oracle).fetchdf()) for q in queries}
    finally:
        con.close()
