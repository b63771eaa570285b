"""Local emulation of the driver's correctness gate: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01,
compare row count, sorted column names, and the order-insensitive
multiset of values."""
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from entity_resolution_engine_spark.session import get_spark

import __spark_entry__ as E

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value canonicalization: stable repr
        return f"{v:.9g}"
    if v is None:
        return "NULL"
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

spark = get_spark(shuffle_partitions=16)
qs = E.queries()
oracles = E.oracle_sql()
fails = []
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    t0 = time.monotonic()
    try:
        sdf = fn(spark, SF)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:
        print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
        fails.append(name)
        continue
    finally:
        # the dedup queries persist frames and pass no `caches`: release
        # them, or a later query that rebuilds the same plan (the n-gram
        # parity diff) finds them still cached
        spark.catalog.clearCache()
    dt = time.monotonic() - t0
    if name not in oracles:
        print(f"ok   {name}: rows-only, {len(srows)} rows ({dt:.1f}s)")
        continue
    try:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as exc:
        print(f"FAIL {name}: duckdb error: {exc}")
        fails.append(name)
        continue
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if not problems:
        a, b = rowset(scols, srows), rowset(dcols, drows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, first diffs: {diff}")
    if problems:
        print(f"FAIL {name}: " + "; ".join(problems))
        fails.append(name)
    else:
        print(f"ok   {name}: {len(srows)} rows match ({dt:.1f}s)")

print()
print(f"{'ALL OK' if not fails else 'FAILURES: ' + ', '.join(fails)}")
spark.stop()
sys.exit(1 if fails else 0)
