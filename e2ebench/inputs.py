"""Seeded input tables for the benchmark workloads.

Every table has a fixed row count and shape; the seed only changes the
values, so two seeds give the program the same amount of work on different
data. Tables are written as parquet with the column names the program and
its DuckDB twins read (``documents``, ``lineitem``, ``part``,
``embeddings``).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")

N_DOCS = 500
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_PARTS = 2_000
N_VECTORS = 500
DIM = 64


def documents(rng: random.Random, n: int = N_DOCS, id_base: int = 0) -> pa.Table:
    """Word-salad documents over :data:`VOCAB`; about 5 % are a near-copy of
    an earlier one with its last few words dropped and the token ``dup``
    added, so the dedup operators find pairs. Documents end on a word
    boundary, so the vocabulary is ``VOCAB`` plus ``dup`` (31 tokens), as in
    the repository's test data."""
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = docs[rng.randrange(i)]
            words = src[: max(8, len(src) - rng.randrange(1, 6))] + ["dup"]
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 95))]
        docs.append(words)
    texts = [" ".join(words) for words in docs]
    return pa.table({
        "doc_id": pa.array(range(id_base, id_base + n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lineitem(rng: random.Random) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array([rng.randrange(N_ORDERS) for _ in range(N_LINEITEMS)],
                               pa.int64()),
        "l_partkey": pa.array([rng.randrange(N_PARTS) for _ in range(N_LINEITEMS)],
                              pa.int64()),
    })


def part(rng: random.Random) -> pa.Table:
    keys = list(range(N_PARTS))
    rng.shuffle(keys)  # row order varies with the seed, the key set does not
    return pa.table({"p_partkey": pa.array(keys, pa.int64())})


def embeddings(rng: random.Random) -> pa.Table:
    vecs = [[rng.gauss(0.0, 0.12) for _ in range(DIM)] for _ in range(N_VECTORS)]
    return pa.table({
        "vec_id": pa.array(range(N_VECTORS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float64())),
        "label": pa.array([rng.randrange(10) for _ in range(N_VECTORS)], pa.int64()),
    })


def write(workload: str, seed: int, out_dir: str) -> None:
    """Write the tables ``workload`` reads into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    if workload == "operators":
        tables = {"documents": documents(rng), "lineitem": lineitem(rng),
                  "part": part(rng), "embeddings": embeddings(rng)}
    else:
        # doc ids pick the linked entities, so the seed moves the id range
        tables = {"documents": documents(rng, id_base=N_DOCS * (seed % 1000))}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
