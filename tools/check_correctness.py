"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at the given sf against its
``oracle_sql()`` twin in DuckDB and compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified). Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import os

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents"]


def norm_cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from jsonld_streaming_parser_js_spark.sources.session import get_spark

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            results[name] = f"SPARK ERROR: {exc}"
            print(f"{name:28s} SPARK ERROR: {str(exc)[:200]}")
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(srows)} rows"
            print(f"{name:28s} rows-only  rows={len(srows)}"
                  f"  ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            results[name] = f"ORACLE ERROR: {exc}"
            print(f"{name:28s} ORACLE ERROR: {str(exc)[:200]}")
            continue
        count_ok = len(srows) == len(orows)
        schema_ok = sorted(c.lower() for c in scols) == \
            sorted(c.lower() for c in ocols)
        hash_ok = (table_hash(srows, scols) == table_hash(orows, ocols)
                   if count_ok and schema_ok else False)
        status = "OK" if (count_ok and schema_ok and hash_ok) else "MISMATCH"
        results[name] = status
        print(f"{name:28s} {status:9s} rows={len(srows)}/{len(orows)} "
              f"schema={'ok' if schema_ok else f'{scols} vs {ocols}'} "
              f"hash={'ok' if hash_ok else 'BAD'} ({time.time()-t0:.1f}s)")
        if status == "MISMATCH" and count_ok and schema_ok:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sset = {tuple(norm_cell(r[i]) for i in order) for r in srows}
            oset = {tuple(norm_cell(r[i]) for i in oorder) for r in orows}
            for row in list(sset - oset)[:3]:
                print(f"    spark-only: {row}")
            for row in list(oset - sset)[:3]:
                print(f"    oracle-only: {row}")

    bad = [n for n, s in results.items()
           if s not in ("OK",) and not str(s).startswith("rows-only")]
    print(f"\n{len(results) - len(bad)}/{len(results)} pass; bad: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
