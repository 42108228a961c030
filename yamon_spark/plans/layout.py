"""The store's layout: its table catalogue and its tag index
(SURVEY §2.4 D4-D7, §4 optional rewrite).

:data:`STORE` names every table the streaming pipeline writes, with its
reference ORDER BY keys (res/schema.sql:14,33,65,98,117) and its TTL
(res/schema.sql defaults: 30 days of detail, 365 of rollups). The
writers, compaction (``Engine.maintain``), retention and ``Engine.sql``
all read it. :data:`CORPUS_TABLES` names the two outputs of the
streaming corpus pipeline, which ``Engine.sql`` binds too.

The reference puts bloom-filter skip indexes on ``mapKeys(tags)`` /
``mapValues(tags)`` (res/schema.sql:9-10) so ``tags['k']='v'``
predicates can skip granules. Parquet cannot index a map, and on this
Spark/parquet version bloom options on array leaves write no bloom and
``array_contains`` is not a pushed filter (tests/test_scale_ops.py pins
both). So the store has one tag index, decided here alone:

- **Hot-key scalar columns** (:func:`with_hot_tag_cols`): the handful of
  tag keys that queries filter on (env, dc, ...) are materialized as
  ``tag_<key>`` STRING columns. Equality on one is a pushed parquet
  filter (row-group min/max, dictionary, and bloom once cardinality
  defeats the dictionary) — the honest equivalent of ClickHouse's
  per-map-key bloom granule index.
- **Every other key** is a plain ``tags`` map probe: no IO skip, and no
  extra column to write or read.

Partitions written by older versions may also carry sorted key/value
array columns; readers ignore them and compaction passes them through.
No Catalyst rule is needed — helper functions suffice (SURVEY §4).
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter


class StoreTable(NamedTuple):
    """One pipeline table: its ORDER BY keys minus the trailing ``when``,
    which the writers and compaction append, and its TTL in days."""

    sort_keys: tuple[str, ...]
    ttl_days: int


STORE = {
    "metrics": StoreTable(("name", "host"), 30),
    "logs": StoreTable(("service", "host"), 30),
    "events": StoreTable(("type", "host"), 30),
    "metrics_gauge_lts": StoreTable(("name", "host"), 365),
    "metrics_counter_lts": StoreTable(("name", "host"), 365),
    "metrics_uniq_lts": StoreTable(("name",), 365),
}

# the curated documents and the quality rejects (streaming/corpus.py)
CORPUS_TABLES = ("corpus", "rejects")


def hot_tag_col(key: str) -> str:
    """Column name for a materialized hot tag key ('env' -> 'tag_env')."""
    return "tag_" + re.sub(r"[^A-Za-z0-9_]", "_", key)


def check_hot_tag_keys(keys: tuple[str, ...]) -> None:
    """Raise ValueError when distinct hot keys map to one column
    (``"a.b"``/``"a_b"``; ``"Env"``/``"env"``, as Spark resolves column
    names case-insensitively): the last one would answer for both."""
    by_col: dict[str, list[str]] = {}
    for k in dict.fromkeys(keys):
        by_col.setdefault(hot_tag_col(k).lower(), []).append(k)
    clashes = [ks for ks in by_col.values() if len(ks) > 1]
    if clashes:
        raise ValueError(f"hot tag keys map to the same column: {clashes}")


def with_hot_tag_cols(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Materialize ``tag_<key>`` scalar columns for the declared hot tag
    keys (null when the row lacks the tag)."""
    for k in keys:
        df = df.withColumn(hot_tag_col(k), F.element_at("tags", k))
    return df


def with_tag_blooms(
    writer: DataFrameWriter,
    fpp: float = 0.01,
    ndv: int = 100_000,
    hot_keys: tuple[str, ...] = (),
) -> DataFrameWriter:
    """Enable parquet bloom filters on the hot-key scalar columns.

    parquet-mr omits the bloom while a column stays fully
    dictionary-encoded, because the dictionary is already an exact
    filter."""
    for col in (hot_tag_col(k) for k in hot_keys):
        writer = (
            writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
            .option(f"parquet.bloom.filter.fpp#{col}", str(fpp))
            .option(f"parquet.bloom.filter.expected.ndv#{col}", str(ndv))
        )
    return writer


def tag_predicate(key: str, value: str | None = None, df: DataFrame | None = None) -> Column:
    """``tags[key] [= value]``, using the frame's hot-key column for
    equality; "has tag" means the key maps to a NON-NULL value.

    A hot column reads NULL where a row lacks the tag and in every file
    written while the key was not hot (a restart may add or drop hot
    keys), so a NULL is left to the map probe: ``(tag_k = v OR tag_k IS
    NULL) AND coalesce(tag_k, tags[k]) = v``. The scan pushes the first
    conjunct, which skips row groups by min/max and null count only:
    parquet-mr's dictionary and bloom filters cannot rule out its NULL
    branch (they still serve a plain ``tag_k = v`` in SQL)."""
    probe = F.element_at("tags", key)
    hot = hot_tag_col(key)
    if value is None:
        return probe.isNotNull()
    if df is None or hot not in df.columns:
        return probe == value
    col = F.col(hot)
    return ((col == value) | col.isNull()) & (F.coalesce(col, probe) == value)
