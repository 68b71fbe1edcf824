"""Reference outputs the benchmark checks the program against.

Each workload's output is compared as an order-independent digest of its
rows, computed the same way for the program's rows and for the reference
rows: DuckDB runs the repository's SQL twins (``__spark_entry__.oracle_sql``
for the operator leaves, ``pipeline_sql`` for the pipeline) over the same
input files, and connected components is recomputed with a union-find
(its recursive-CTE twin is too slow to run per sample).

MinHash-LSH is approximate: its banding (8 bands of 4 rows) finds a pair of
Jaccard 0.5 with probability 0.40, while the twin lists every pair. Its
reference is therefore the twin's full row set, and the check is that each
reported row is in it (see :func:`mismatches`).
"""

from __future__ import annotations

import hashlib
import os

TABLES = ("documents", "lineitem", "part", "embeddings")


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def lines(rows, columns: list[str]) -> list[str]:
    """Rows as sorted strings, cells in column-name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)


def digest(rows, columns: list[str]) -> str:
    """sha256 of the sorted, column-name-ordered rows (a multiset digest)."""
    h = hashlib.sha256()
    for line in lines(rows, columns):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _components(data_dir: str) -> list:
    """Union-find twin of the ``cc_components`` leaf: nodes 'o<k%500>' and
    'p<k%500>', each component labelled by its least node id."""
    import pyarrow.parquet as pq

    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey"]).to_pydict()
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        a, b = find(f"o{o % 500}"), find(f"p{p % 500}")
        if a != b:
            parent[max(a, b)] = min(a, b)
    sizes: dict[str, int] = {}
    for node in list(parent):
        root = find(node)
        sizes[root] = sizes.get(root, 0) + 1
    rows = list(sizes.items())
    return [len(rows), digest(rows, ["component", "n_nodes"])]


APPROXIMATE = ("dedup_minhash_lsh",)


def operator_outputs(data_dir: str, leaves: list[str]) -> dict[str, list]:
    """leaf → [row count, digest] of the reference output, or for an
    approximate leaf [row count, every reference row as a line]."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    out = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
        for leaf in leaves:
            if leaf == "cc_components":
                out[leaf] = _components(data_dir)
                continue
            res = con.sql(sql[leaf])
            rows, cols = res.fetchall(), [d[0] for d in res.description]
            out[leaf] = [len(rows), lines(rows, cols) if leaf in APPROXIMATE
                         else digest(rows, cols)]
    finally:
        con.close()
    return out


def pipeline_output(data_dir: str, world_scale: int) -> dict[str, list]:
    """{"pipeline": [triple count, digest]} of the DuckDB twin of ``run_pipeline``."""
    import duckdb

    from wikidata_to_cidoc_crm_spark.fixtures import make_world_scaled
    from wikidata_to_cidoc_crm_spark.pipeline_sql import pipeline_sql

    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, 'documents.parquet')}')")
        res = con.sql(pipeline_sql(make_world_scaled(world_scale)))
        rows = res.fetchall()
        return {"pipeline": [len(rows), digest(rows, [d[0] for d in res.description])]}
    finally:
        con.close()


def mismatches(outputs: dict, reference: dict, first: dict) -> list[str]:
    """Why one execution's ``outputs`` (``workloads.*.observe``) do not match
    ``reference`` (name → [rows, digest or lines]); empty when they match.
    ``first`` keeps each approximate output's digest from the run's first
    execution, which every later execution must repeat."""
    bad = []
    for name, (n_ref, ref) in reference.items():
        got = outputs.get(name)
        if got is None:
            bad.append(f"{name}: no output")
        elif name in APPROXIMATE:
            extra = set(got["lines"]) - set(ref)
            if extra:
                bad.append(f"{name}: {len(extra)} rows not in the exact reference")
            if first.setdefault(name, got["digest"]) != got["digest"]:
                bad.append(f"{name}: output differs from the first execution")
        elif (got["rows"], got.get("collected", got["rows"]), got["digest"]) \
                != (n_ref, n_ref, ref):
            bad.append(f"{name}: got {got['rows']} rows digest {got['digest'][:12]}, "
                       f"expected {n_ref} rows digest {ref[:12]}")
    return bad
