#!/usr/bin/env python
"""Simulate the driver's CORRECTNESS check: run every queries() entry at
sf0.01 and compare row-count + schema + order-insensitive value hash
against oracle_sql() via DuckDB.  Mirrors the driver contract described in
__spark_entry__.py's docstring."""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    import __spark_entry__ as entry
    from web_based_search_engine_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "SPARK_ERROR", "err": str(e)[:300]}
            continue
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(srows)}
            continue
        try:
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ORACLE_ERROR", "err": str(e)[:300]}
            continue
        ok_rows = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        ok_hash = hash_rows(scols, [tuple(r) for r in srows]) == hash_rows(ocols, orows)
        status = "MATCH" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
        results[name] = {
            "status": status, "rows": len(srows), "oracle_rows": len(orows),
            "schema_ok": ok_schema, "hash_ok": ok_hash,
            "spark_cols": scols, "oracle_cols": ocols,
        }
        print(name, results[name]["status"], flush=True)
    print(json.dumps(results, indent=1, default=str))
    bad = {k: v for k, v in results.items() if v["status"] not in ("MATCH", "ROWS_ONLY")}
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
