"""Per-record ingestion transforms (SURVEY §2.2, T1-T8; the T2
ignored-services filter is ``sources/wire.parse_journald``'s
``ignored_services``, where the reference filters too; the T9 webhook
wrap is ``sources/http_server.IngestHTTPServer._webhook_line``).

Each transform is a pure ``DataFrame -> DataFrame`` function built only
from JVM-side built-ins (``pyspark.sql.functions``) so every one stays
inside whole-stage codegen — the hot ingest path never drops to Python.
They compose with ``DataFrame.transform`` and are identical in batch and
Structured Streaming plans.

Reference parity (semantics only, re-expressed Spark-first):
- T1  metadata stamp      reference writer.go:13-55
- T2  ignored services    reference journal/client.go:50-52
- T3  priority->level     reference journal/client.go:84-99
- T4  journald pruning    reference journal/client.go:48-66
- T5  NaN filter          reference prom/scrape.go:86-94
- T6  prom tag merge      reference prom/scrape.go:69-82
- T7  metric type gate    reference common/metric.go:9-14, res/schema.sql:4
- T8  script ts override  reference script.go:35-38,54-56,71-74
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# T1: host stamp + static-tag merge (static wins: map_concat right-biased)
# ---------------------------------------------------------------------------


def metadata_filter(hostname: str, static_tags: dict[str, str] | None = None) -> Callable[[DataFrame], DataFrame]:
    """Overwrite ``host`` with the agent hostname and merge static config
    tags into ``tags`` (static wins on key collision — the reference's
    map-assignment loop, writer.go:27-35).

    The host stamp is the AGENT-side identity transform; a server-side
    pipeline ingesting multi-host submit batches must keep each record's
    own host (the forward server never re-stamps). Empty ``hostname``
    therefore means "no agent identity": hosts pass through untouched
    while static tags still merge."""
    static_tags = static_tags or {}

    def apply(df: DataFrame) -> DataFrame:
        out = df.withColumn("host", F.lit(hostname)) if hostname else df
        if static_tags:
            lit_tags = F.create_map(*[F.lit(x) for kv in static_tags.items() for x in kv])
            static_keys = F.array(*[F.lit(k) for k in static_tags])
            # drop colliding keys before concat: conf-independent "static
            # wins" (map_concat alone needs mapKeyDedupPolicy=LAST_WIN)
            existing = F.map_filter(
                F.coalesce("tags", F.create_map()), lambda k, _v: ~F.array_contains(static_keys, k)
            )
            out = out.withColumn("tags", F.map_concat(existing, lit_tags))
        return out

    return apply


# ---------------------------------------------------------------------------
# T3: journald PRIORITY -> level name
# ---------------------------------------------------------------------------

PRIORITY_LEVELS = {
    "0": "critical",
    "1": "critical",
    "2": "critical",
    "3": "error",
    "4": "warning",
    "5": "info",
    "6": "info",
    "7": "debug",
}


def priority_to_level(priority: Column) -> Column:
    """``0-2 -> critical, 3 -> error, 4 -> warning, 5-6 -> info,
    7 -> debug, else ''`` — chained CASE WHEN, fully codegen'd."""
    expr = F.lit("")
    # build the chain in reverse so the first match wins
    for k, v in PRIORITY_LEVELS.items():
        expr = F.when(priority == k, v).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# T4: journald field pruning (routing/noise keys out of the tag map)
# ---------------------------------------------------------------------------

JOURNALD_PRUNED_KEYS = (
    "SYSLOG_IDENTIFIER",
    "MESSAGE",
    "PRIORITY",
    "_HOSTNAME",
    "_SYSTEMD_INVOCATION_ID",
    "_STREAM_ID",
    "__MONOTONIC_TIMESTAMP",
    "__REALTIME_TIMESTAMP",
    "__CURSOR",
)


def prune_tag_keys(tags: Column, keys: tuple[str, ...] = JOURNALD_PRUNED_KEYS) -> Column:
    """``map_filter`` dropping the routed/noise keys; stays JVM-side."""
    drop = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(tags, lambda k, _v: ~F.array_contains(drop, k))


# ---------------------------------------------------------------------------
# T5: NaN value filter (prometheus stale markers)
# ---------------------------------------------------------------------------


def nan_filter(df: DataFrame, col: str = "value") -> DataFrame:
    return df.where(~F.isnan(col) & F.col(col).isNotNull())


# ---------------------------------------------------------------------------
# T6: prom static-tag merge + name prefix
# ---------------------------------------------------------------------------


def prom_enrich(static_tags: dict[str, str] | None, prefix: str | None) -> Callable[[DataFrame], DataFrame]:
    """Static config tags merged with scraped labels (label wins — the
    reference copies statics first then overlays labels,
    prom/scrape.go:69-77) and optional metric-name prefix (:79-82)."""
    static_tags = static_tags or {}

    def apply(df: DataFrame) -> DataFrame:
        out = df
        if static_tags:
            lit_tags = F.create_map(*[F.lit(x) for kv in static_tags.items() for x in kv])
            labels = F.coalesce("tags", F.create_map())
            label_keys = F.map_keys(labels)
            # statics whose key a label also carries are dropped (label
            # wins) — conf-independent, no LAST_WIN dependency
            statics = F.map_filter(lit_tags, lambda k, _v: ~F.array_contains(label_keys, k))
            out = out.withColumn("tags", F.map_concat(statics, labels))
        if prefix:
            out = out.withColumn("name", F.concat(F.lit(prefix), F.col("name")))
        return out

    return apply


# ---------------------------------------------------------------------------
# T7: metric type gate (Enum8 constraint at ingest)
# ---------------------------------------------------------------------------


def metric_type_gate(df: DataFrame, col: str = "type") -> DataFrame:
    """Spark has no enum type; constrain ``type in ('gauge','counter')``
    at ingest exactly as ClickHouse's Enum8 would reject others."""
    return df.where(F.col(col).isin("gauge", "counter"))


# ---------------------------------------------------------------------------
# T8: script timestamp override
# ---------------------------------------------------------------------------


def script_time(script_time_secs: Column, ingest_time: Column) -> Column:
    """Script-supplied unix seconds override ingest time when > 0."""
    return F.when(
        script_time_secs.isNotNull() & (script_time_secs > 0),
        F.timestamp_seconds(script_time_secs),
    ).otherwise(ingest_time)
