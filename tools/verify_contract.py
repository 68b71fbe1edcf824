"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, the matching
``oracle_sql()`` on DuckDB, and compares row count + column names +
order-insensitive value hash. Usage::

    python tools/verify_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entrymod
from wikidata_to_cidoc_crm_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-contract")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, {time.time()-t0:.1f}s)")
            if len(srows) == 0 and not name.startswith("dedup"):
                print(f"      WARNING: zero rows")
            continue
        try:
            res = con.sql(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh = value_hash([tuple(r) for r in srows], scols)
        dh = value_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status}  {name}: spark={len(srows)} duck={len(drows)} "
              f"cols={'ok' if ok_cols else f'{scols} vs {dcols}'} "
              f"hash={'ok' if ok_hash else 'MISMATCH'} ({time.time()-t0:.1f}s)")
        if not ok_hash and ok_count and ok_cols:
            # print a few differing lines for debugging
            sset = {tuple(norm_cell(v) for v in r) for r in
                    [tuple(r) for r in srows]}
            dset = {tuple(norm_cell(v) for v in r) for r in drows}
            print("      spark-only:", list(sset - dset)[:3])
            print("      duck-only:", list(dset - sset)[:3])
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
