"""Oracle-diff correctness gate (SURVEY §5.2): every declared query vs
DuckDB on the same parquet, at the fast dev SF. The driver repeats this
at sf0.01; scripts/driver_sim.py is the full-size local replica."""

from __future__ import annotations

import pandas as pd
import pytest

from yamon_spark.oracle import _canon, compare_frames, compare_query, duckdb_conn
from yamon_spark.queries import all_queries

QUERY_NAMES = sorted(all_queries())


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, oracle, sf_dir, name):
    r = compare_query(spark, oracle, name, sf_dir)
    assert r.ok, f"{name}: {r.detail}"


def test_compare_frames_equal_pair_passes():
    frame = pd.DataFrame({"k": [2, 1], "s": ["b", None], "x": [0.25, float("nan")]})
    r = compare_frames("pair", _canon(frame), _canon(frame.copy()))
    assert r.ok and (r.spark_rows, r.oracle_rows) == (2, 2), r.detail


def test_compare_frames_non_numeric_against_oracle_nan_fails():
    # to_numeric coercion turns "abc" into NaN; only the null-ness check on
    # the originals tells it apart from the oracle's NaN
    sdf = pd.DataFrame({"x": ["abc", 1.0]})
    odf = pd.DataFrame({"x": [float("nan"), 1.0]})
    r = compare_frames("nan", sdf, odf)
    assert not r.ok and "null/NaN divergence at row 0" in r.detail
