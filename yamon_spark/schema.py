"""The generated relational testdata (TPC-H-ish star schema +
``events``/``documents``/``embeddings``, one directory per scale
factor): the table names the oracle and ``scripts/driver_sim.py`` load.

The stream tables (metrics, logs, events) take their columns from the
parsers in ``sources/wire.py``.
"""

from __future__ import annotations

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
