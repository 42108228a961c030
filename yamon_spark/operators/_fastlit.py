"""Single-round-trip array literals.

``F.lit(<python list>)`` does NOT build one JVM Literal in one call:
PySpark expands it to ``array(*[lit(x) for x in xs])`` — one py4j round
trip per ELEMENT (pyspark/sql/functions/builtin.py, the ``lit``
listcomp). For the PQ codebook that is 16 subspace calls x ~150 round
trips each — measured 0.13 s per codebook literal, ~1.7 s of pq_topk's
2.15 s BUILD wall at sf0.1, pure driver-side socket latency (r14
overhead decomposition, OPTIMIZATION_r14.md).

``lit_array`` renders the values as ONE SQL expression string and ships
it in a single ``F.expr`` round trip — measured 185x faster (0.0007 s
per codebook) with a bit-identical Literal:

- ``repr()`` of a Python float is the shortest decimal that round-trips
  to the same double; Spark parses it as an exact Decimal and the
  explicit outer CAST converts decimal -> double correctly rounded, so
  the JVM double equals the Python double bit-for-bit (pinned by
  tests/test_fastlit.py over every literal site's actual values).
- Integers render exactly; the CAST pins the element type (bigint)
  independent of magnitude-based literal coercion. An int outside int64
  raises ``ValueError`` here: it would parse as a wide DECIMAL whose
  cast fails under ANSI and turns NULL without it.

The resulting plan is IDENTICAL to the F.lit form (same Literal node,
same type) — this changes where the literal is BUILT, not what executes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render(v) -> str:
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_render(x) for x in v) + ")"
    if isinstance(v, bool):  # bool is an int subclass — reject, not a literal we ship
        raise TypeError("lit_array carries numeric arrays only")
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError("non-finite float has no exact SQL literal")
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # "-0.0" parses as DECIMAL, which has no signed zero — route
            # through a string cast (Double.parseDouble keeps the sign)
            return "CAST('-0.0' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        if not -(1 << 63) <= v < 1 << 63:
            raise ValueError(f"{v} is outside the int64 range")
        return repr(v)
    raise TypeError(f"unsupported literal element type {type(v).__name__}")


def lit_array(values, sql_type: str) -> Column:
    """One Literal column for a (nested) numeric array in ONE py4j round
    trip. ``sql_type`` is the exact SQL type to pin, e.g.
    ``array<array<double>>`` or ``array<bigint>``."""
    return F.expr(f"CAST({_render(values)} AS {sql_type})")
