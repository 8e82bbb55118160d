"""The local registry-vs-oracle gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, compare row count, schema (column
names sorted) and a value hash (rows sorted, columns sorted by name,
floats rounded via repr). Every query must read ``ok`` at any scale.

Usage: python tools/check_correctness.py [query ...]   (default: all)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.value_hash import value_hash  # noqa: E402

TABLES = ("lineitem", "events", "documents", "embeddings")


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from eventrelationextractor_spark.spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    spark = build_session(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {e}")
            failures += 1
            continue
        ok_rows = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        ok_hash = (ok_rows and ok_schema
                   and value_hash(scols, srows) == value_hash(ocols, orows))
        if ok_rows and ok_schema and ok_hash:
            print(f"ok   {name}: {len(srows)} rows")
        else:
            failures += 1
            print(f"FAIL {name}: rows {len(srows)} vs {len(orows)}, "
                  f"schema {sorted(scols)} vs {sorted(ocols)}, "
                  f"hash_match={ok_hash}")
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
