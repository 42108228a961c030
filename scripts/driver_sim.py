"""Simulate the DRIVER's verify path through the __spark_entry__ surface:
plain SparkSession (driver-style, none of our session defaults), entry()
smoke, then every queries() entry at sf0.01 hash-compared to oracle_sql()
via DuckDB — the exact contract in __spark_entry__.py's docstring.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])  # optional: verify just these query names

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .appName("driver-sim")
    .getOrCreate()
)

# 1. smoke: entry()
df = entrymod.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) >= 0

# 2. correctness: queries vs oracle_sql
from yamon_spark.oracle import _canon, compare_frames
from yamon_spark.schema import TESTDATA_TABLES

con = duckdb.connect()
for t in TESTDATA_TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs = entrymod.queries()
oracles = entrymod.oracle_sql()
fails = []
for name in sorted(qs):
    if ONLY and name not in ONLY:
        continue
    try:
        sdf = _canon(qs[name](spark, SF).toPandas())
    except Exception as e:  # noqa: BLE001
        fails.append((name, f"spark error: {e}"))
        print(f"FAIL {name}: spark error: {e}")
        continue
    if name not in oracles:
        print(f"ROWS {name}: {len(sdf)} rows (no oracle)")
        continue
    try:
        odf = _canon(con.execute(oracles[name]).df())
    except Exception as e:  # noqa: BLE001
        fails.append((name, f"oracle error: {e}"))
        print(f"FAIL {name}: oracle error: {e}")
        continue
    r = compare_frames(name, sdf, odf)
    if r.ok:
        print(f"PASS {name}: {len(sdf)} rows")
    else:
        fails.append((name, r.detail))
        print(f"FAIL {name}: {r.detail}")

n_run = len([n for n in qs if not ONLY or n in ONLY])
scope = f" ({len(qs) - n_run} skipped by filter)" if n_run != len(qs) else ""
print(f"\n{n_run - len(fails)}/{n_run} queries pass at {SF}{scope}")
sys.exit(1 if fails else 0)
