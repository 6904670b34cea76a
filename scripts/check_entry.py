"""Mimic the driver's correctness gate: run each queries()[name] in Spark
and oracle_sql()[name] in DuckDB at sf0.01; compare row count, column
names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod
from map_the_net_crawler_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(norm(r[i]) for i in idx) for r in rows]
    return sorted(normed, key=lambda r: tuple(str(x) for x in r))


def main(only=None):
    spark = get_spark(master="local[8]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(srows)} rows) "
                  f"{'OK' if len(srows) >= 0 else ''}")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_vals = False
        if ok_count and ok_cols:
            ok_vals = rows_to_set(scols, [tuple(r) for r in srows]) == \
                rows_to_set(dcols, drows)
        status = "MATCH" if (ok_count and ok_cols and ok_vals) else "MISMATCH"
        if status == "MISMATCH":
            failures.append(name)
        print(f"{name}: {status} (spark {len(srows)} rows, duckdb {len(drows)}; "
              f"cols {'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'})")
        if status == "MISMATCH" and ok_count and ok_cols:
            a = rows_to_set(scols, [tuple(r) for r in srows])
            b = rows_to_set(dcols, drows)
            for x, y in zip(a, b):
                if x != y:
                    print("   first diff spark:", x)
                    print("             duckdb:", y)
                    break
    print("FAILURES:", failures or "none")
    spark.stop()
    return failures


if __name__ == "__main__":
    main(set(sys.argv[1:]) or None)
