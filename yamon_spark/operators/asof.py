"""As-of join — 'latest prior right-row for each left-row' over the events table.

Spark has no native ASOF JOIN; the scalable formulation is union both
sides, window by key ordered by (time, id), and carry the last non-null
right-id forward (`last(..., ignorenulls=True)` over UNBOUNDED
PRECEDING..1 PRECEDING). This costs exactly ONE shuffle (by key) and a
linear per-partition pass — independent of how many right rows precede
each left row. The alternative (range join + groupBy(max)) multiplies
rows before aggregating and shuffles twice; it collapses on dense series.

This is the query shape the reference's counter metrics + ORDER BY
(name, host, ts) sort keys exist to serve (reference res/schema.sql:14,
counter semantics common/metric.go:9-14): "value at / just before t".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_events(events: DataFrame, left_type: str, right_type: str) -> DataFrame:
    """Declared-query specialization over the events table: for each
    ``left_type`` event, the event_id of the latest prior ``right_type``
    event for the same user_id (ordered by ts, event_id)."""
    u = events.where(F.col("event_type").isin(left_type, right_type)).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(F.col("event_type") == right_type, F.col("event_id")).alias("dep_id"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    return (
        u.withColumn("asof_event_id", F.last("dep_id", ignorenulls=True).over(w))
        .where(F.col("event_type") == left_type)
        .select("event_id", "user_id", "asof_event_id")
        .orderBy("event_id")
    )


def asof_join_events_tolerance(
    events: DataFrame, left_type: str, right_type: str, tolerance_us: int
) -> DataFrame:
    """As-of with a max-staleness bound: the latest prior ``right_type``
    event counts only if it happened within ``tolerance_us`` of the left
    event (the metrics form: "value just before t, but not staler than
    the scrape interval"). Same single-shuffle union+window shape — the
    carried timestamp rides along in a second last(ignorenulls) over the
    SAME window frame (one window pass), and the bound is a post-window
    projection, not a join."""
    u = events.where(F.col("event_type").isin(left_type, right_type)).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(F.col("event_type") == right_type, F.col("event_id")).alias("dep_id"),
        F.when(F.col("event_type") == right_type, F.unix_micros("ts")).alias("dep_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    carried_id = F.last("dep_id", ignorenulls=True).over(w)
    carried_us = F.last("dep_us", ignorenulls=True).over(w)
    fresh = (F.unix_micros("ts") - carried_us) <= tolerance_us
    return (
        u.withColumn("asof_event_id", F.when(fresh, carried_id))
        .where(F.col("event_type") == left_type)
        .select("event_id", "user_id", "asof_event_id")
        .orderBy("event_id")
    )
