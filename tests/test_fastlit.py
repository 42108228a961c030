"""lit_array (operators/_fastlit.py) must produce literals BIT-IDENTICAL
to the F.lit(list) form it replaces, for every real literal site's
values: the PQ codebook, the LSH hyperplanes, the IVF query vector, and
the simhash Hamming mask array. The optimization moves WHERE the literal
is built (one py4j round trip instead of one per element); the value and
type must not move at all."""

from __future__ import annotations

import struct
from itertools import combinations

import pytest

from pyspark.sql import functions as F

from yamon_spark.operators._fastlit import lit_array


def _bits(x) -> bytes:
    if isinstance(x, list):
        return b"".join(_bits(v) for v in x)
    if isinstance(x, float):
        return struct.pack("<d", x)
    return struct.pack("<q", x)


def _assert_identical(spark, values, sql_type):
    df = spark.range(1).select(
        F.lit(values).cast(sql_type).alias("old"), lit_array(values, sql_type).alias("new")
    )
    assert df.schema["old"].dataType == df.schema["new"].dataType
    row = df.first()
    assert _bits(row.old) == _bits(row.new)


def test_pq_codebook_bit_identical(spark):
    from yamon_spark.operators.similarity import pq_codebook

    for cb_j in pq_codebook(8, 16, 8):
        _assert_identical(spark, cb_j, "array<array<double>>")


def test_lsh_planes_bit_identical(spark):
    from yamon_spark.operators.similarity import lsh_hyperplanes

    for plane in lsh_hyperplanes(8, 64):
        _assert_identical(spark, plane, "array<double>")


def test_hamming_masks_bit_identical(spark):
    masks = [
        sum(1 << i for i in pos)
        for r in range(1, 3)
        for pos in combinations(range(32), r)
    ]
    _assert_identical(spark, [int(m) for m in masks], "array<bigint>")
    # 64-bit-wide masks exercise the full bigint range path
    masks64 = [1 << i for i in range(64 - 1)] + [(1 << 63) - 1]
    _assert_identical(spark, masks64, "array<bigint>")
    # simhash_hamming_pairs ships 64-bit masks as signed BIGINT patterns:
    # bit 0's mask 1 << 63 travels as -(1 << 63)
    _assert_identical(spark, [-(1 << 63)] + [1 << (63 - p) for p in range(1, 64)], "array<bigint>")


def test_adversarial_doubles_bit_identical(spark):
    """Shortest-repr round-trip holds for awkward doubles: subnormals,
    many-digit fractions, negative zero, huge/tiny magnitudes."""
    vals = [
        0.1, -0.0, 1e-308, 5e-324, 1.7976931348623157e308,
        2.2250738585072014e-308, 1 / 3, -1 / 7, 6.02214076e23,
        0.30000000000000004, 123456789.123456789, -9.869604401089358,
    ]
    _assert_identical(spark, vals, "array<double>")


def test_rejects_non_numeric():
    with pytest.raises(TypeError):
        lit_array(["x"], "array<string>")
    with pytest.raises(TypeError):
        lit_array([True], "array<boolean>")
    with pytest.raises(ValueError):
        lit_array([float("nan")], "array<double>")


def test_rejects_int_outside_int64(spark):
    # the int64 bounds themselves render
    _assert_identical(spark, [-(1 << 63), (1 << 63) - 1], "array<bigint>")
    for v in (1 << 63, -(1 << 63) - 1):
        with pytest.raises(ValueError, match="int64"):
            lit_array([v], "array<bigint>")


@pytest.mark.parametrize("bits", [0, 65])
def test_simhash_rejects_unsupported_width_before_any_job(spark, bits):
    # widths outside 1..64 have no BIGINT-word packing; both entry
    # points refuse them while building, before any Spark job runs
    from yamon_spark.operators.dedup import simhash, simhash_hamming_pairs

    sc = spark.sparkContext
    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    group = f"simhash-width-{bits}"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        for build in (simhash, simhash_hamming_pairs):
            with pytest.raises(ValueError, match="1..64"):
                build(docs, bits=bits)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
