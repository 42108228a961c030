"""Local replica of the driver's DuckDB-oracle correctness gate.

For each declared query: run the Spark build and the oracle SQL on the
same parquet tables, canonicalize (columns sorted by name, rows sorted by
all columns, doubles already rounded by the query contract, timestamps at
µs), and diff. Used by tests/test_oracle.py and the dev loop.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import pandas as pd

from pyspark.sql import SparkSession

from yamon_spark.queries import all_queries
from yamon_spark.schema import TESTDATA_TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # strip tz, truncate to µs
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.dt.floor("us")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(4).astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str
    spark_rows: int = -1
    oracle_rows: int = -1


def compare_query(spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str) -> CompareResult:
    q = all_queries()[name]
    try:
        sdf = _canon(q.build(spark, sf_dir).toPandas())
    except Exception as e:  # noqa: BLE001
        return CompareResult(name, False, f"spark error: {e}")
    if q.oracle is None:
        return CompareResult(name, True, "rows-only (no oracle)", len(sdf), -1)
    try:
        odf = _canon(con.execute(q.oracle).df())
    except Exception as e:  # noqa: BLE001
        return CompareResult(name, False, f"oracle error: {e}", len(sdf))
    return compare_frames(name, sdf, odf)


def compare_frames(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> CompareResult:
    """Diff a canonicalized Spark result against its canonicalized oracle
    result: same row count, same columns, then column by column (floats to
    1e-9 with null-ness compared exactly, everything else by equality)."""
    if len(sdf) != len(odf):
        return CompareResult(name, False, f"row count {len(sdf)} != {len(odf)}", len(sdf), len(odf))
    if list(sdf.columns) != list(odf.columns):
        return CompareResult(name, False, f"columns {list(sdf.columns)} != {list(odf.columns)}", len(sdf), len(odf))
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            # null-ness compares on the ORIGINALS: to_numeric coercion maps
            # Spark NULL, oracle NaN, and any stray non-numeric all to NaN,
            # which would let genuine divergences pass as "both missing"
            a_null, b_null = pd.isna(a), pd.isna(b)
            if not a_null.equals(b_null):
                i = int((a_null != b_null).idxmax())
                return CompareResult(
                    name, False, f"col {c} null/NaN divergence at row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}", len(sdf), len(odf)
                )
            af = pd.to_numeric(a, errors="coerce").astype("float64")
            bf = pd.to_numeric(b, errors="coerce").astype("float64")
            both_nan = af.isna() & bf.isna()
            eq = both_nan | (af - bf).abs().le(1e-9)
            if not eq.all():
                i = int((~eq).idxmax())
                return CompareResult(
                    name, False, f"col {c} mismatch at row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}", len(sdf), len(odf)
                )
        else:
            aa = a.astype(object).where(pd.notna(a), None)
            bb = b.astype(object).where(pd.notna(b), None)
            if not aa.equals(bb):
                neq = [i for i in range(len(aa)) if aa.iloc[i] != bb.iloc[i]]
                if not neq:
                    continue
                i = neq[0]
                return CompareResult(
                    name, False, f"col {c} mismatch at row {i}: {aa.iloc[i]!r} != {bb.iloc[i]!r}", len(sdf), len(odf)
                )
    return CompareResult(name, True, "ok", len(sdf), len(odf))


def compare_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> list[CompareResult]:
    con = duckdb_conn(sf_dir)
    out = []
    for name in names or sorted(all_queries()):
        out.append(compare_query(spark, con, name, sf_dir))
    return out
