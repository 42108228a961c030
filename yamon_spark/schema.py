"""The generated relational testdata (TPC-H-ish star schema +
``events``/``documents``/``embeddings``, one directory per scale
factor): the table names the oracle and ``scripts/driver_sim.py`` load,
and the default scale-factor directory.

The stream tables (metrics, logs, events) take their columns from the
parsers in ``sources/wire.py``.
"""

from __future__ import annotations

import os

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
