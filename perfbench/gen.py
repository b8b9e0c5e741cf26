"""Seeded input generator for the benchmark.

Writes the fixture tables the benchmark's ops read (``documents``,
``embeddings``, ``events``, ``customer``, ``orders``) as single parquet
files in the fixture schemas, so every catalog query and its DuckDB
``oracle_sql()`` twin run unchanged over the generated directory.

The constants below are the fixture tables' own figures, read off the
seed-42 fixture files at sf0.001, sf0.01 and sf0.1 (the parquet footers
for the types).  Where the fixtures tie a column to the row id, the
generator ties it to the same id: ``source`` is ``src{doc_id % 20}`` and
doc ids are contiguous from 0, which the curation stages' planted copies
(``doc_id % 10``, ``% 20``) and the IVF topics (``lang|source``) rely
on.  The seed decides every value and the id permutations (``doc_id``,
``vec_id``, ``event_id``, ``c_custkey``, ``o_orderkey``), and with them
the vectors the catalog picks by id as queries and IVF seeds.  Same
seed and sizes give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixtures' 30 document words.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# Documents: 10-99 words drawn uniformly from VOCAB (min 10, max 99
# outside the planted copies at every scale); 5% of docs are another
# doc's text plus " dup" (250 of 5,000 at sf0.1); 20 sources of equal
# size; the language shares of sf0.1 (en 2059, zh 753, es 744, fr 742,
# de 702 of 5,000).
WORDS = (10, 99)
DUP_SHARE = 0.05
N_SOURCES = 20
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
# Embeddings: unit-norm isotropic 64-d vectors (per-coordinate std
# 0.125 = 1/8) and 10 equiprobable labels independent of the vectors
# (1-NN label agreement 0.10 at sf0.1, chance level).
DIM = 64
N_LABELS = 10
# Events: one user per 66.7 events (15 / 1,500 / 1,500 users at
# 1,000 / 10,000 / 100,000 rows), 5 equiprobable types, exponential
# value with mean 50 rounded to cents, props {"k": 0..99}, timestamps
# over the 30 days from 2024-01-01 stored as parquet
# TIMESTAMP(MICROS) -- the files' footers say micros, where FIXTURES.md
# says ns.
USERS_PER_EVENT = 0.015
EVENT_DAYS = 30
EVENT_VALUE_MEAN = 50.0
N_PROPS = 100
# Customers and orders: uniform over these values, nations 0-24,
# balances -999.99..9999.99, order prices 1,000..500,000 and order dates
# on whole days from 1995-01-01 to 2001-08-01 (2,405 distinct at sf0.1).
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# Row counts of the fixture scales the workloads use.
SIZES = {
    "sf0.001": dict(documents=500, embeddings=500, events=1000, customer=150, orders=1500),
    "sf0.1": dict(documents=5000, embeddings=2000, events=100000, customer=15000, orders=150000),
}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(WORDS[0], WORDS[1] + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # The near-duplicate pairs the dedup stages exist to find.  Copies are
    # planted in turn, so a copy's origin may itself be overwritten later,
    # as in the fixtures (243 of the 250 sf0.1 copies still have theirs).
    dups = rng.choice(n, size=round(n * DUP_SHARE), replace=False)
    origins = rng.integers(0, n, size=len(dups))
    for d, o in zip(dups, origins):
        texts[d] = texts[o if o != d else (d + 1) % n] + " dup"
    doc_ids = rng.permutation(n)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(rng.permutation(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, size=n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, EVENT_DAYS * 86400 * 10**6, size=n))
    n_users = max(round(n * USERS_PER_EVENT), 1)
    return pa.table(
        {
            "event_id": pa.array(rng.permutation(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, size=n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, size=n)]),
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = rng.permutation(n)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, size=n)]),
        }
    )


def _orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    # Order dates: whole days from 1995-01-01 to 2001-08-01.
    days = rng.integers(0, 2405, size=n)
    return pa.table(
        {
            "o_orderkey": pa.array(rng.permutation(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, size=n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n), 2)),
            "o_orderdate": pa.array(
                np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, size=n)]),
        }
    )


def generate(out_dir: str, seed: int, scale: str, tables: tuple[str, ...]) -> dict[str, int]:
    """Write ``tables`` at ``scale`` (a key of SIZES) under ``out_dir``;
    return their row counts.  Every table draws from its own stream of
    the seed, so the tables a workload skips do not shift the others."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = SIZES[scale]
    builders = {
        "documents": lambda r: _documents(r, sizes["documents"]),
        "embeddings": lambda r: _embeddings(r, sizes["embeddings"]),
        "events": lambda r: _events(r, sizes["events"]),
        "customer": lambda r: _customer(r, sizes["customer"]),
        "orders": lambda r: _orders(r, sizes["orders"], sizes["customer"]),
    }
    rows = {}
    for i, name in enumerate(sorted(builders)):
        if name not in tables:
            continue
        table = builders[name](np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
